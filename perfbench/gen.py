"""Seeded synthetic inputs for the benchmark.

The tables and the curation corpus the program reads are generated here
(the service's upload bodies are generated by the JVM side, from the seed):

  - `tables(out, sf, seed)`: the ten catalog tables (`graft.Tables.columns`)
    with the catalog's exact dtypes, shaped like the star-schema + events +
    documents + embeddings testdata the declared queries are written for
    (row counts scale with `sf`; dimension sizes are fixed).
  - `corpus(base, out, k, seed)`: the curation corpus, `k` tiles of a base
    `documents` table. Tile 0 is the base corpus verbatim; tile i > 0 maps
    every NON-marker token through a seeded per-tile vocabulary bijection, so
    within-tile duplicate/shingle structure is kept while cross-tile Jaccard
    drops to ~0. Language-marker words (`graft.text.TextOps.langMarkers`)
    are kept intact, so the language gate and the quality gate (which counts
    English markers) pass the same share of documents in every tile.

Run directly to write a table set: `python3 perfbench/gen.py OUT SF SEED`.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
    "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch",
]
# graft.text.TextOps.langMarkers, all languages
MARKERS = {
    "the", "a", "of", "and", "is", "der", "die", "das", "und", "ist", "el", "las", "los", "y",
    "es", "le", "la", "les", "et", "est", "的", "是", "了", "在", "和",
}
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(days_from: str, n_days: float, rng, n, sort=False):
    base = np.datetime64(days_from, "us")
    off = rng.uniform(0, n_days * 86400e6, n)
    if sort:
        off.sort()
    return pa.array(base + off.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(days_from: str, n_days: int, rng, n):
    base = np.datetime64(days_from, "us")
    off = rng.integers(0, n_days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(n: int, rng) -> dict:
    """`n` documents of 10-99 words over a 30-word vocabulary; 5% are
    near-duplicates (an earlier document plus a trailing `dup`)."""
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def tables(out: str, sf: float, seed: int) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(segs, n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, n_supp), f64)})
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    ptype = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                                       rng.choice(noun, n_part)), s),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s),
        "p_type": pa.array(rng.choice(ptype, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": pa.array(rng.choice(prio, n_ord), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": pa.array(rng.choice(np.array(["R", "N", "A"]), n_li), s),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n_li), s),
        "l_shipdate": _days("1995-01-02", 2498, rng, n_li)})
    etypes = np.array(["signup", "click", "error", "view", "purchase"])
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", 30, rng, n_ev, sort=True),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(etypes, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    _write(out, "documents", documents(n_docs, rng))
    vec = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})


def corpus(base: str, out: str, k: int, seed: int) -> int:
    """Write `out/documents.parquet`: `k` tiles of `base/documents.parquet`
    (see the module docstring). Returns the number of documents written."""
    os.makedirs(out, exist_ok=True)
    src = pq.read_table(os.path.join(base, "documents.parquet")).to_pydict()
    stride = max(src["doc_id"]) + 1
    rng = np.random.default_rng([seed, k])
    ids, texts, langs, sources = [], [], [], []
    for i in range(k):
        if i == 0:
            tile = src["text"]
        else:
            # a seeded alphanumeric tag per (tile, word): a bijection on the
            # vocabulary that adds no punctuation (the quality gate counts it)
            tags = {}

            def tr(w):
                if w in MARKERS:
                    return w
                if w not in tags:
                    tags[w] = w + "z" + format(int(rng.integers(1 << 30)), "08x") + f"t{i}"
                return tags[w]
            tile = [" ".join(tr(w) for w in t.split(" ")) for t in src["text"]]
        ids.extend(d + i * stride for d in src["doc_id"])
        texts.extend(tile)
        langs.extend(src["lang"])
        sources.extend(src["source"])
    _write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return len(ids)


if __name__ == "__main__":
    tables(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
