"""Seeded input generators for the three workloads.

Every output is a pure function of (seed, size): the same arguments give
byte-identical files. Nothing here reads outside the output directory.

- ``arabic_corpus``: the flagship's file tree (corpusN/domainN/periodN/*.txt)
  plus ``expect.json``, the generator-side expectations the checker uses.
- ``documents``: disjoint token-suffix replicas of an sf0.1-shaped
  ``documents`` table, written as several parquet files in a
  Tables-shaped directory.
- ``star_tables``: an sf-scaled TPC-H-ish star schema plus ``events``, the
  tables the analytics queries read.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Arabic letters that are one token class in graft's tokenizer
# (TextFunctions.ArabicTokenPattern): U+0621..U+063A and U+0641..U+064A.
# U+063B..U+063F sit outside that class and would split a word.
ARABIC_LETTERS = [chr(c) for c in list(range(0x0621, 0x063B)) + list(range(0x0641, 0x064B))]
# The eight tashkeel marks graft strips in word_len (U+064B..U+0652).
DIACRITICS = [chr(c) for c in range(0x064B, 0x0653)]
NOISE = ["the", "data", "Spark", "2024", "v2", "http", "ok", "id42", "x", "07"]
SEPARATORS = [" "] * 14 + ["، ", ". ", "\n"]


def _write_parquet(table, path):
    # fixed writer options keep the bytes a function of the data alone
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def arabic_corpus(out_dir, seed, target_bytes, vocab=40000, zipf_s=1.1,
                  diacritic_share=0.15, noise_share=0.03):
    """Write a synthetic Arabic corpus of about ``target_bytes`` UTF-8 bytes.

    Tokens follow a Zipf law over a seeded vocabulary; ~15% carry
    diacritics, ~3% are Latin/digit noise that the Arabic tokenizer skips.
    Files are 20-400 KB in nested corpusN/domainN/periodN folders.
    Returns the expectations: per relative file path, [tokens, distinct
    words, sum of diacritic-free lengths over the distinct words].
    """
    rng = np.random.default_rng([seed, 1])
    letters = np.array(ARABIC_LETTERS)
    # word length is a function of Zipf rank (3..9 letters), not of the seed,
    # so every seed gives the same token-length mix; the letters are seeded
    words, seen = [], set()
    while len(words) < vocab:
        n = 3 + len(words) % 7
        w = "".join(letters[rng.integers(0, len(letters), n)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    # one diacritized variant per word: marks after some of its letters
    variants = []
    for w in words:
        marks = rng.integers(0, len(DIACRITICS), len(w))
        keep = rng.random(len(w)) < 0.5
        keep[int(rng.integers(0, len(w)))] = True
        variants.append("".join(ch + (DIACRITICS[m] if k else "") for ch, m, k in zip(w, marks, keep)))
    base = np.array(words, dtype=object)
    diac = np.array(variants, dtype=object)
    base_len = np.array([len(w) for w in words], dtype=np.int64)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    probs = ranks ** -zipf_s
    probs /= probs.sum()
    noise = np.array(NOISE, dtype=object)
    seps = np.array(SEPARATORS, dtype=object)

    # File sizes walk a fixed 20-400 KB ladder, so every seed gives the same
    # size mix (and the same split packing); only the text is seeded.
    ladder = np.geomspace(20_000, 400_000, 9).astype(np.int64)[[0, 4, 8, 2, 6, 1, 5, 3, 7]]
    expect, total, i = {}, 0, 0
    while total < target_bytes:
        size = int(min(ladder[i % len(ladder)], max(20_000, target_bytes - total)))
        n_tok = max(1, size // 11)  # ~11 UTF-8 bytes per token + separator
        ids = rng.choice(vocab, size=n_tok, p=probs)
        has_diac = rng.random(n_tok) < diacritic_share
        is_noise = rng.random(n_tok) < noise_share
        toks = np.where(has_diac, diac[ids], base[ids])
        toks[is_noise] = noise[rng.integers(0, len(noise), int(is_noise.sum()))]
        sep = seps[rng.integers(0, len(seps), n_tok)]
        text = "".join((toks + sep).tolist())
        rel = f"corpus{i % 3}/domain{(i // 3) % 4}/period{(i // 12) % 3}/doc_{i:05d}.txt"
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = text.encode("utf-8")
        with open(path, "wb") as f:
            f.write(data)
        arabic = ~is_noise
        keys = np.unique(ids[arabic] * 2 + has_diac[arabic])
        expect[rel] = [int(arabic.sum()), int(len(keys)), int(base_len[keys // 2].sum())]
        total += len(data)
        i += 1
    with open(os.path.join(out_dir, "expect.json"), "w") as f:
        json.dump(expect, f, sort_keys=True)
    return expect


DOC_WORDS = ("a the spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part fast row "
             "agg key query scan batch").split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14


def _base_documents(rng, n):
    """An sf0.1-shaped documents table: 10-100 tokens over a 30-word
    vocabulary, 5% near duplicates (one token changed, "dup" appended)
    and a few exact duplicates."""
    vocab = np.array(DOC_WORDS, dtype=object)
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)].tolist()))
    for i in rng.choice(n, size=n // 20, replace=False):
        src = texts[int(rng.integers(0, n))].split(" ")
        src[int(rng.integers(0, len(src)))] = DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))]
        texts[int(i)] = " ".join(src + ["dup"])
    for _ in range(max(1, n // 600)):
        a, b = (int(x) for x in rng.choice(n, size=2, replace=False))
        texts[b] = texts[a]
    langs = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]
    return texts, langs


def documents(out_dir, seed, n_base=5000, factor=4, n_files=8):
    """Write ``out_dir/documents.parquet/`` as ``n_files`` parquet files.

    Replica 0 is the base table; replica r appends a seeded letters-only
    code ("q" + two letters) to every token and offsets doc_id by r*1e7,
    so replicas are disjoint (graft.Bench.replicate's scheme). The seed
    picks the base texts, the replica codes and the row order.
    Returns the total text bytes.
    """
    rng = np.random.default_rng([seed, 2])
    texts, langs = _base_documents(rng, n_base)
    codes = rng.choice(676, size=factor - 1, replace=False)
    ids, out_text, out_lang, out_src = [], [], [], []
    for r in range(factor):
        code = "" if r == 0 else "q" + chr(97 + int(codes[r - 1]) // 26) + chr(97 + int(codes[r - 1]) % 26)
        for d in range(n_base):
            t = texts[d] if r == 0 else " ".join(w + code for w in texts[d].split(" "))
            ids.append(d + r * 10_000_000)
            out_text.append(t)
            out_lang.append(langs[d])
            out_src.append(f"src{d % 20}")
    order = rng.permutation(len(ids))
    table = pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)[order]),
        "text": pa.array([out_text[i] for i in order], pa.string()),
        "lang": pa.array([out_lang[i] for i in order], pa.string()),
        "source": pa.array([out_src[i] for i in order], pa.string()),
        "n_chars": pa.array([len(out_text[i]) for i in order], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        _write_parquet(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))
    return sum(len(t.encode("utf-8")) for t in out_text)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def star_tables(out_dir, seed, sf=0.01):
    """Write the star schema (one parquet file per table) at scale ``sf``.

    Shapes follow the repository's sf testdata: key ranges, categorical
    domains, 2-decimal prices, naive microsecond timestamps.
    """
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev, n_users = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        _write_parquet(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def pick(values, n):
        return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32))})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    adjs, nouns = ["red", "hot", "new", "old", "small", "big", "blue", "dark"], \
        ["bolt", "ring", "rod", "plate", "anvil", "widget", "gear", "nut"]
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pick([f"{a} {b}" for a in adjs for b in nouns], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1))})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li))})
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
