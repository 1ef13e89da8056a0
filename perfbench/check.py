"""Output checks. They read what the measured code wrote and compare it with
DuckDB twins or with the generator's expectations; they never run inside a
timed span.

The table compare follows tools/check_oracle.py: columns sorted by name,
dtypes equal, floats normalized to 9 decimals, then rows and (where the sink
keeps it) row order.
"""
import glob
import json
import math
import os

import duckdb

STAR_TABLES = "region nation customer supplier part orders lineitem events".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)


def compare(got, want, ordered):
    """Problems between two pandas frames; an empty list means equal."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if list(map(str, got.dtypes)) != list(map(str, want.dtypes)):
        return [f"dtypes {list(map(str, got.dtypes))} != {list(map(str, want.dtypes))}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    g = [tuple(norm(v) for v in row) for row in got.itertuples(index=False)]
    w = [tuple(norm(v) for v in row) for row in want.itertuples(index=False)]
    if sorted(g) != sorted(w):
        diff = [(a, b) for a, b in zip(sorted(g), sorted(w)) if a != b][:2]
        return [f"values differ e.g. {diff}"]
    if ordered and g != w:
        return ["row order differs"]
    return []


def read_parquet_dir(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"missing output {path}")
    return con.sql(f"SELECT * FROM read_parquet({files!r})").df()


def check_flagship(job_dir, expect):
    """Per file: distinct-word rows, words_count and sum(word_len) match the
    generator; every word row is distinct and untruncated."""
    files = sorted(glob.glob(os.path.join(job_dir, "wordstats", "*.csv")))
    if not files:
        return [f"missing output {job_dir}/wordstats"]
    con = duckdb.connect()
    rows = con.sql(f"""
        SELECT file_path, count(*) AS n, count(DISTINCT word) AS nd, min(words_count) AS lo,
               max(words_count) AS hi, sum(word_len) AS wl, max(word_truncated) AS tr
        FROM read_csv({files!r}, delim=';', header=true, quote='"',
          columns={{'word': 'VARCHAR', 'word_len': 'BIGINT', 'word_truncated': 'INTEGER',
                    'file_path': 'VARCHAR', 'words_count': 'BIGINT'}})
        GROUP BY file_path""").fetchall()
    got = {r[0]: r[1:] for r in rows}
    problems = []
    if set(got) != set(expect):
        problems.append(f"files {len(got)} != {len(expect)}")
    for path, (tokens, distinct, sum_len) in sorted(expect.items()):
        n, nd, lo, hi, wl, tr = got.get(path, (None,) * 6)
        if (n, nd, lo, hi, wl, tr) != (distinct, distinct, tokens, tokens, sum_len, 0):
            problems.append(f"{path}: rows={n} distinct={nd} words_count=[{lo},{hi}] "
                            f"sum_len={wl} truncated={tr}; want rows={distinct} "
                            f"words_count={tokens} sum_len={sum_len}")
            break
    return problems


class Oracle:
    """DuckDB twin results over the workload's input directory, computed once."""

    def __init__(self, data_dir, sql_by_name, tables):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        self.sql = sql_by_name
        self.cache = {}

    def want(self, name):
        if name not in self.cache:
            self.cache[name] = self.con.sql(self.sql[name]).df()
        return self.cache[name]

    def check(self, name, out_dir, ordered):
        try:
            got = read_parquet_dir(self.con, out_dir)
        except FileNotFoundError as e:
            return [str(e)]
        return compare(got, self.want(name), ordered)


def check_curate(job_dir, oracle):
    problems = []
    for name in sorted(oracle.sql):
        problems += [f"{name}: {p}" for p in oracle.check(name, os.path.join(job_dir, name), ordered=False)]
    return problems


def load_expect(data_dir):
    with open(os.path.join(data_dir, "expect.json")) as f:
        return json.load(f)
