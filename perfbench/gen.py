"""Seeded input generators for the benchmark.

Two kinds of input:

* ``tables(dir, sf, seed)`` writes the ten parquet tables the query
  workloads read (TPC-H-like star schema plus ``events``, ``documents``
  and ``embeddings``), with the same schemas, physical encodings and
  value shapes as the engine's test tables: money at 2 dp, rates on a
  0.01 grid, naive microsecond timestamps, a 30-word document
  vocabulary with 5% near-duplicates ("<other doc's text> dup"), and
  unit-norm 64-d float embeddings.
* ``mr_text(dir, seed, ...)`` writes the MapReduce corpus: whole-file
  text with a Zipf vocabulary, an undirected edge list and sparse
  integer matrix triples.

The same seed always gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DOC_VOCAB = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
DOC_LANGS = ["en", "fr", "zh", "de", "es"]
DOC_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array((d * 86_400_000_000).astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out_dir, sf, seed):
    """The ten query tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64) + 1
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(f"{out_dir}/events.parquet", {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array((t0 + np.cumsum(gaps)).astype("datetime64[us]"),
                       pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(1, n_cust // 10), n_ev)),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(DOC_VOCAB[w] for w in rng.integers(0, len(DOC_VOCAB), n))
             for n in rng.integers(10, 100, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": np.array(DOC_LANGS)[rng.choice(5, n_doc, p=DOC_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})


def _zipf_words(rng, n_vocab):
    letters = list("abcdefghijklmnopqrstuvwxyz") + ["é", "ü", "ß"]
    words = set()
    while len(words) < n_vocab:
        k = int(rng.integers(2, 10))
        words.add("".join(letters[j] for j in rng.integers(0, len(letters), k)))
    return list(rng.permutation(sorted(words)))


def mr_text(out_dir, seed, text_bytes, n_files=8, n_edges=60_000,
            n_vertices=6_000, mat_dim=48, mat_density=0.3):
    """The MapReduce corpus; returns the grep term it planted."""
    rng = np.random.default_rng(seed)
    vocab = _zipf_words(rng, 5_000)
    # Zipf(1.1) rank frequencies over the vocabulary
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    # the grep term: the word of Zipf rank 200, so the same share of lines
    # matches whatever the seed
    term = vocab[199]
    vocab_arr = np.array(vocab)
    seps = np.array([" ", " ", " ", " ", ", ", ". ", " - "])
    for d in ("text", "edges", "matrix"):
        os.makedirs(f"{out_dir}/{d}", exist_ok=True)
    per_file = text_bytes // n_files
    for f in range(n_files):
        # ~7.5 bytes per word with its separator; trim to size below
        n_words = per_file // 7 + 64
        ws = vocab_arr[rng.choice(len(vocab), n_words, p=p)]
        ss = seps[rng.integers(0, len(seps), n_words)]
        ends = np.cumsum(rng.integers(4, 18, n_words // 4 + 1))
        lines, start = [], 0
        for end in ends[ends <= n_words]:
            lines.append("".join(w + s for w, s in zip(ws[start:end], ss[start:end]))
                         .rstrip().capitalize())
            start = end
        # every other file uses CRLF line ends, as scanned books often do
        eol = "\r\n" if f % 2 else "\n"
        body = eol.join(lines) + eol
        with open(f"{out_dir}/text/book{f:02d}.txt", "w", encoding="utf-8",
                  newline="") as fh:
            fh.write(body)
    # edges: preferential-ish endpoints, so degrees are skewed
    src = (rng.pareto(1.2, n_edges) * 50).astype(np.int64) % n_vertices
    dst = rng.integers(0, n_vertices, n_edges)
    per = n_edges // 4
    for f in range(4):
        with open(f"{out_dir}/edges/edges{f}.txt", "w") as fh:
            fh.writelines(f"{a}\t{b}\n" for a, b in
                          zip(src[f * per:(f + 1) * per], dst[f * per:(f + 1) * per]))
    with open(f"{out_dir}/matrix/ab.txt", "w") as fh:
        for tag in ("A", "B"):
            mask = rng.random((mat_dim, mat_dim)) < mat_density
            vals = rng.integers(-9, 10, (mat_dim, mat_dim))
            for i, j in zip(*np.nonzero(mask)):
                fh.write(f"{i} {j} {vals[i, j]} {tag}\n")
    return term
