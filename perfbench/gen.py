"""Seeded input generation: every table a workload reads, as parquet.

The program under test only ever sees these files; the seed picks every
value, so two runs with one seed read byte-identical files and a new
seed gives the benchmark fresh inputs.

``curate`` reads the sf0.1 ``documents`` table, committed as
``data/documents.parquet`` (5000 docs, rows unchanged): the seed picks
a subset and makes near-duplicate copies of about one doc in five by
editing a few of their tokens. ``kv`` generates a relational core with
the TPC-H column shapes the operators and DuckDB oracles read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "documents.parquet")

# a fifth of sf0.1's docs and relational core, so that a run (JVM start,
# a cold checked pass, then timed passes) fits the benchmark's time budget
N_DOCS = 1000
DUP_SHARE = 0.2          # near-duplicate copies of about one doc in five
N_CUST, N_SUPP, N_PART, N_ORDERS, LINES_PER_ORDER = 3000, 200, 4000, 30_000, 4
N_KV_DUPS = 3000         # duplicate-key batch appended to the orders column
BM25_TERMS = 3           # terms of the seeded BM25 probe query


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def vocabulary(texts) -> list[str]:
    return sorted({w for t in texts for w in t.split()})


def _docs(rng: np.random.Generator) -> pa.Table:
    src = pq.read_table(DOCUMENTS)
    picked = np.sort(rng.choice(src.num_rows, N_DOCS, replace=False))
    base = src.take(pa.array(picked))
    texts = base.column("text").to_pylist()
    vocab = vocabulary(texts)
    # copies of docs of >= 40 tokens with one changed token per 40 keep
    # word-3-gram Jaccard >= 0.85, far above the dedup threshold (0.5),
    # so banded MinHash finds every true pair and its output can be
    # checked for equality with the exact pair set
    lengths = np.array([len(t.split()) for t in texts])
    long_docs = np.flatnonzero(lengths >= 40)
    copies = np.sort(rng.choice(long_docs, int(N_DOCS * DUP_SHARE), replace=False))
    dup_texts = []
    for i in copies:
        words = texts[i].split()
        for pos in rng.choice(len(words), len(words) // 40, replace=False):
            others = [w for w in vocab if w != words[pos]]
            words[pos] = others[rng.integers(0, len(others))]
        dup_texts.append(" ".join(words))
    first_id = int(src.column("doc_id").to_numpy().max()) + 1
    dups = pa.table({
        "doc_id": pa.array(first_id + np.arange(len(copies)), pa.int64()),
        "text": pa.array(dup_texts, pa.string()),
        "lang": base.column("lang").take(pa.array(copies)),
        "source": base.column("source").take(pa.array(copies)),
        "n_chars": pa.array([len(t) for t in dup_texts], pa.int64()),
    })
    return pa.concat_tables([base, dups.cast(base.schema)])


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _relational(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_li = N_ORDERS * LINES_PER_ORDER
    o_days = rng.integers(0, 2404, N_ORDERS)
    l_order = np.repeat(np.arange(N_ORDERS), LINES_PER_ORDER)
    return {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                N_CUST)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": rng.choice(["red bolt", "new anvil", "hot ring", "small plate"], N_PART),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                  "STANDARD"], N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900, 999.9, N_PART), 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, N_ORDERS), 2),
            "o_orderdate": _ts(o_days),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPP, n_li), pa.int64()),
            "l_linenumber": pa.array(np.tile(np.arange(1, LINES_PER_ORDER + 1), N_ORDERS),
                                     pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(o_days[l_order] + rng.integers(1, 122, n_li))}),
        # duplicate-key batch for the orders KV column: existing custkeys,
        # fresh insertion orders past every stored orderkey
        "kv_dups": pa.table({
            "key": pa.array(rng.integers(0, N_CUST, N_KV_DUPS), pa.int64()),
            "seq": pa.array(N_ORDERS + rng.permutation(N_KV_DUPS), pa.int64()),
            "value": np.round(rng.uniform(1000, 500_000, N_KV_DUPS), 2)}),
    }


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs under ``out_dir``; returns the
    in-memory pieces the checks and kernels need (never the program)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "curate":
        docs = _docs(rng)
        _write(docs, f"{out_dir}/documents.parquet")
        texts = docs.column("text").to_pylist()
        vocab = vocabulary(texts)
        query = tuple(vocab[i] for i in np.sort(rng.choice(len(vocab), BM25_TERMS,
                                                           replace=False)))
        return {"texts": texts, "doc_ids": docs.column("doc_id").to_pylist(),
                "bm25_query": query}
    if workload == "kv":
        for name, table in _relational(rng).items():
            _write(table, f"{out_dir}/{name}.parquet")
        return {}
    raise ValueError(f"unknown workload {workload!r}")
