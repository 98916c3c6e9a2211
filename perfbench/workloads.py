"""The workloads: which public library calls one pass makes, and how each
call's output is checked.

Every op names the public function it calls as ``<module>.<function>``;
that name is its span, its job group and its ``op.*`` metrics.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

import checks

# every op of every workload, in report order (the per_layer op.* names)
OP_NAMES = (
    "dedup.exact_dedup", "dedup.minhash_lsh_pairs", "hashing.embed_text_udf",
    "textindex.write_text_index", "textindex.bm25_topk_indexed",
    "kv.try_put", "kv.paginate", "kv.get_many", "kv.key_join",
    "kv.set_union", "kv.set_intersect", "kv.set_except",
    "tpch.q1_pricing_summary",
)


@dataclass
class Op:
    name: str
    # () -> DataFrame, or None for an op that writes its own output
    call: Callable
    check: Callable                              # (rows) -> error text | None
    # the index directory a probe op reads (for scan.probe_read_frac)
    reads_index: str | None = None


@dataclass
class Context:
    spark: object
    tables: object
    in_dir: str
    scratch: str                                 # where ops write their indexes
    extra: dict


def build(workload: str, ctx: Context) -> list[Op]:
    return {"curate": _curate, "kv": _kv}[workload](ctx)


def _curate(ctx: Context) -> list[Op]:
    import pandas as pd
    from pyspark.sql import functions as F

    from resin_spark.functions import hashing
    from resin_spark.functions.text import tokens_sql
    from resin_spark.operators import dedup, textindex, textops

    docs = ctx.tables["documents"]
    oracle = checks.Oracle(ctx.in_dir)
    texts = ctx.extra["texts"]
    query = ctx.extra["bm25_query"]
    index = f"{ctx.scratch}/textidx"

    def embed_check(rows):
        ref = hashing._embed_batch(pd.Series(texts), 512)
        got = {r["doc_id"]: r["embedding"] for r in rows}
        bad = sum(not np.array_equal(np.asarray(got.get(d, ())), ref[i])
                  for i, d in enumerate(ctx.extra["doc_ids"]))
        return f"{bad} embeddings differ from the numpy kernel" if bad else None

    # the index holds each doc's length and each (doc, term) posting once,
    # and its totals agree with the corpus
    corpus_sql = f"""
        WITH t AS (SELECT doc_id, unnest({tokens_sql("text")}) AS term
                   FROM documents WHERE doc_id IS NOT NULL)
        SELECT COUNT(DISTINCT doc_id), COUNT(*), COUNT(*), COUNT(*),
               (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, term FROM t))
        FROM t"""
    index_sql = f"""
        SELECT s.n_docs, s.total_tokens,
               (SELECT SUM(dl) FROM read_parquet('{index}/doclens/*.parquet')),
               (SELECT SUM(tf) FROM read_parquet('{index}/postings/*/*.parquet')),
               (SELECT COUNT(*) FROM read_parquet('{index}/postings/*/*.parquet'))
        FROM read_parquet('{index}/stats/*.parquet') s"""

    def index_check(_rows):
        got, want = oracle.run(index_sql)[1], oracle.run(corpus_sql)[1]
        return None if got == want else f"text index totals {got} != corpus {want}"

    return [
        Op("dedup.exact_dedup", lambda: dedup.exact_dedup(docs),
           oracle.twin("dedup_exact")),
        # the pair set must equal exact shingle Jaccard pair for pair
        Op("dedup.minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(docs),
           oracle.twin("dedup_minhash_lsh")),
        Op("hashing.embed_text_udf",
           lambda: docs.select("doc_id", hashing.embed_text_udf(512)(F.col("text"))
                               .alias("embedding")),
           embed_check),
        Op("textindex.write_text_index",
           lambda: textindex.write_text_index(docs, index), index_check),
        # reads only the query terms' bucket directories of that index
        Op("textindex.bm25_topk_indexed",
           lambda: textindex.bm25_topk_indexed(ctx.spark, index, query),
           oracle.sql(textops.bm25_search_oracle(query)), reads_index=index),
    ]


def _kv(ctx: Context) -> list[Op]:
    from pyspark.sql import functions as F

    from resin_spark.operators import kv
    from resin_spark.plans import tpch

    t = ctx.tables
    oracle = checks.Oracle(ctx.in_dir)
    # orders as a KV column (key=custkey, insertion order=orderkey) with
    # the seeded duplicate-key batch appended; the oracle reads the same
    # union under the table name its SQL uses. The batch is read with its
    # schema: inferring it would run a Spark job outside every op's span
    orders_u = ("SELECT o_custkey, o_orderkey, o_totalprice FROM orders_raw "
                "UNION ALL SELECT key, seq, value FROM kv_dups")
    column = t["orders"].select(F.col("o_custkey").alias("key"),
                                F.col("o_orderkey").alias("seq"),
                                F.col("o_totalprice").alias("value")) \
        .unionByName(ctx.spark.read.schema("key bigint, seq bigint, value double")
                     .parquet(f"{ctx.in_dir}/kv_dups.parquet"))
    lines = t["lineitem"].select(F.col("l_orderkey").alias("key"),
                                 F.col("l_linenumber").alias("seq"),
                                 F.col("l_partkey").alias("value"))
    a = t["orders"].select(F.col("o_custkey").alias("key"))
    b = t["customer"].select(F.col("c_custkey").alias("key"))

    def set_count(fn, x, y):
        return lambda: fn(x, y).agg(F.count(F.lit(1)).alias("n"))

    def key_join():
        col = t["lineitem"].select(F.col("l_partkey").alias("key"),
                                   F.col("l_quantity").alias("qty"))
        probe = t["part"].filter(F.col("p_size") > 40) \
            .select(F.col("p_partkey").alias("key"))
        return kv.key_join(col, probe).groupBy("key").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("qty").cast("decimal(18,2)")).cast("double").alias("sum_qty"))

    return [
        Op("kv.try_put", lambda: kv.try_put(column),
           oracle.twin("kv_try_put", views={"orders": orders_u})),
        Op("kv.paginate", lambda: kv.paginate(lines.drop("value")),
           oracle.twin("kv_paginate")),
        Op("kv.get_many",
           lambda: kv.get_many(lines).select("key", "concat_values", "value_count"),
           oracle.twin("kv_get_many")),
        Op("kv.key_join", key_join, oracle.twin("kv_key_join")),
        Op("kv.set_union", set_count(kv.set_union, a, b),
           oracle.set_count("union")),
        Op("kv.set_intersect", set_count(kv.set_intersect, a, b),
           oracle.set_count("intersect")),
        Op("kv.set_except", set_count(kv.set_except, b, a),
           oracle.set_count("except_b_a")),
        Op("tpch.q1_pricing_summary", lambda: tpch.q1_pricing_summary(t),
           oracle.twin("q1_pricing_summary")),
    ]
