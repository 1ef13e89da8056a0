"""The benchmark's own tests: seeded generators, output checkers and the
percentile helper. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import glob
import hashlib
import os
import re
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
from stats import percentile, supported_tail  # noqa: E402


# graft's Arabic token class (TextFunctions.ArabicTokenPattern) and tashkeel range
TOKEN = "[\u0621-\u063a\u0640-\u0652]+"


def strip(word):
    return re.sub("[\u064b-\u0652]", "", word)


def arabic_tokens(path):
    with open(path, encoding="utf-8") as f:
        return re.findall(TOKEN, f.read())


def tree_digest(root):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class TempDirCase(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def path(self, *parts):
        return os.path.join(self.tmp, *parts)


class GeneratorTest(TempDirCase):
    GENERATORS = {
        "arabic_corpus": lambda d, seed: gen.arabic_corpus(d, seed, 60_000, vocab=2000),
        "documents": lambda d, seed: gen.documents(d, seed, n_base=60, factor=2, n_files=3),
        "star_tables": lambda d, seed: gen.star_tables(d, seed, sf=0.001),
    }

    def test_same_seed_gives_identical_bytes_and_other_seed_differs(self):
        for name, make in self.GENERATORS.items():
            with self.subTest(generator=name):
                digests = []
                for run, seed in enumerate((5, 5, 6)):
                    d = self.path(f"{name}-{run}")
                    os.makedirs(d)
                    make(d, seed)
                    digests.append(tree_digest(d))
                self.assertEqual(digests[0], digests[1])
                self.assertNotEqual(digests[0], digests[2])

    def test_documents_are_written_as_several_disjoint_replicas(self):
        gen.documents(self.tmp, 3, n_base=40, factor=3, n_files=4)
        files = glob.glob(self.path("documents.parquet", "*.parquet"))
        self.assertEqual(len(files), 4)
        t = pa.concat_tables([pq.read_table(f) for f in files])
        ids = t.column("doc_id").to_pylist()
        self.assertEqual(len(set(ids)), 120)
        self.assertEqual(sorted({i // 10_000_000 for i in ids}), [0, 1, 2])

    def test_corpus_expectations_match_an_independent_tokenization(self):
        expect = gen.arabic_corpus(self.tmp, 9, 50_000, vocab=500)
        self.assertEqual(expect, check.load_expect(self.tmp))
        for rel, (tokens, distinct, sum_len) in expect.items():
            toks = arabic_tokens(self.path(rel))
            self.assertEqual(len(toks), tokens)
            self.assertEqual(len(set(toks)), distinct)
            self.assertEqual(sum(len(strip(w)) for w in set(toks)), sum_len)


def write_wordstats_csv(corpus, out):
    """A flagship output computed independently of graft."""
    os.makedirs(out)
    with open(os.path.join(out, "part-00000.csv"), "w", encoding="utf-8") as f:
        f.write("word;word_len;word_truncated;file_path;words_count\n")
        for path in sorted(glob.glob(os.path.join(corpus, "**", "*.txt"), recursive=True)):
            toks = arabic_tokens(path)
            rel = os.path.relpath(path, corpus)
            for w in sorted(set(toks)):
                f.write(f"{w};{len(strip(w))};0;{rel};{len(toks)}\n")


class CheckerTest(TempDirCase):
    def test_flagship_checker_accepts_right_rejects_corrupt_and_missing(self):
        corpus = self.path("corpus")
        expect = gen.arabic_corpus(corpus, 4, 45_000, vocab=800)
        job = self.path("job")
        write_wordstats_csv(corpus, os.path.join(job, "wordstats"))
        self.assertEqual(check.check_flagship(job, expect), [])

        csv = os.path.join(job, "wordstats", "part-00000.csv")
        with open(csv, encoding="utf-8") as f:
            lines = f.read().splitlines()
        word, wlen, trunc, fp, cnt = lines[7].split(";")
        lines[7] = ";".join([word, str(int(wlen) + 1), trunc, fp, cnt])
        with open(csv, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        self.assertNotEqual(check.check_flagship(job, expect), [])

        os.remove(csv)
        self.assertTrue(any("missing" in p for p in check.check_flagship(job, expect)))

    def test_oracle_checker_accepts_right_rejects_corrupt_and_missing(self):
        data = self.path("data")
        gen.documents(data, 2, n_base=30, factor=2, n_files=2)
        sql = {"lens": "SELECT doc_id, n_chars, round(n_chars / 7.0, 6) AS r FROM documents ORDER BY doc_id"}
        oracle = check.Oracle(data, sql, ["documents"])
        want = oracle.want("lens")
        out = self.path("out", "lens")
        os.makedirs(out)

        def write(df):
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out, "part-0.parquet"))

        write(want)
        self.assertEqual(oracle.check("lens", out, ordered=True), [])
        bad = want.copy()
        bad.loc[5, "n_chars"] += 1
        write(bad)
        self.assertNotEqual(oracle.check("lens", out, ordered=True), [])
        write(want.iloc[::-1].reset_index(drop=True))
        self.assertEqual(oracle.check("lens", out, ordered=False), [])
        self.assertEqual(oracle.check("lens", out, ordered=True), ["row order differs"])
        shutil.rmtree(out)
        self.assertTrue(any("missing" in p for p in oracle.check("lens", out, ordered=True)))


class PercentileTest(unittest.TestCase):
    def test_tail_has_at_least_ten_samples_beyond_it(self):
        for n, p in [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
                     (200, 95.0), (1000, 99.0), (10000, 99.9)]:
            xs = list(range(n))
            tail = supported_tail(xs)
            with self.subTest(n=n):
                if p is None:
                    self.assertIsNone(tail)
                else:
                    self.assertEqual(tail[0], p)
                    self.assertGreaterEqual(sum(1 for x in xs if x > tail[1]), 10)

    def test_percentile_interpolates(self):
        self.assertEqual(percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)
        self.assertEqual(percentile([5.0], 90), 5.0)
        self.assertAlmostEqual(percentile(list(range(11)), 90), 9.0)


if __name__ == "__main__":
    unittest.main()
