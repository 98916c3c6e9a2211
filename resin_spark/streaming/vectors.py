"""Streaming vector search: micro-batch ANN lookups against a static
LSH index.

The reference serves ANN queries online by walking its on-disk graph
(src/Resin.MachineLearning/GraphSearcher.cs, SeekableGraphReader.cs —
one pointer-chase per query). Point-lookup serving is the one shape
Spark doesn't do (north star: "online ANN serving doesn't fit Spark");
the Spark-native answer is the micro-batch form below — queries arrive
as a stream and each trigger resolves the whole batch with the same
bucketed join the batch operator uses. That covers the bulk-lookup
workloads a training pipeline actually has (embed-and-search new
documents, nightly retrieval refreshes) while true per-query serving
stays out of scope by design.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from resin_spark.io import file_stream
from resin_spark.operators import similarity as S


def stream_ann_topk(spark: SparkSession, queries_parquet_dir: str,
                    index_emb, k: int = 10, n_planes: int = 8,
                    n_tables: int = 4, probe_radius: int = 2):
    """Streaming twin of :func:`similarity.lsh_topk`: query vectors
    arrive as a parquet file stream (columns ``vec_id, embedding``) and
    each micro-batch gets its top-k neighbors from a static corpus.

    Same index, same probes, same scoring as the batch operator — the
    corpus hashes once through ``hyperplane_buckets_udf`` and is
    localCheckpoint'ed, so per-trigger work is hashing the new queries,
    expanding their multi-probe ball, and one (tbl, bucket) equi-join
    against the materialised index. Two stream-side differences forced
    by streaming semantics, neither changing results:

    - the batch operator broadcasts the query side; a stream can't be
      broadcast, so the join simply keys both sides on (tbl, bucket) —
      at scale the static index side is the big one and shuffles the
      same way the batch corpus side does;
    - per-query ranking can't use a window function on a stream, so
      top-k is an update-mode aggregate: ``collect_list`` of
      (score, neighbor) structs, sorted desc with the batch operator's
      neighbor-id tie-break, sliced to k. State is one ≤k-element list
      per query id; each query lives in exactly one micro-batch, so
      every group emits exactly once under availableNow.

    Output (update mode): (query_id, neighbors array<struct<rank,
    neighbor_id, score>>) — ``score`` rounded to 9 decimals like the
    batch path. The hyperplanes take the corpus's measured width, as
    lsh_topk's do.
    """
    h = S.hyperplane_buckets_udf(S._probe_dims(index_emb, "embedding"),
                                 n_planes, n_tables)
    idx = S._lsh_postings(index_emb, h, "vec_id", "embedding") \
        .localCheckpoint(eager=False)
    qb = S._lsh_probes(_query_stream(spark, queries_parquet_dir), h,
                       n_planes, probe_radius)
    pairs = qb.join(idx, on=["tbl", "bucket"]) \
        .dropDuplicates(["query_id", "vec_id"])
    return _topk_update_agg(S._score_candidates(pairs), k)


def _query_stream(spark: SparkSession, queries_parquet_dir: str):
    """The query file stream, one file per trigger, as the batch
    probes' (query_id, q_vec) side."""
    return (
        file_stream(spark, queries_parquet_dir)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_vec"))
    )


def _topk_update_agg(scored, k: int):
    """Stream-safe per-query top-k: windows can't run on a stream, so
    top-k is an update-mode aggregate — collect_list of (score,
    neighbor) structs, sorted with the batch window's tie-break,
    sliced to k. Sort key: score desc then neighbor_id ASC, encoded as
    (-score, neighbor_id) sorted ASC so the id is never negated: any
    orderable id type works (string vec_ids included) and LONG_MIN
    can't overflow under ANSI mode. State is one ≤k-element list per
    query id; under availableNow each query lives in one micro-batch,
    so every group emits exactly once."""
    return (
        scored.groupBy("query_id")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct(
                        (-F.col("score")).alias("neg_score"),
                        F.col("neighbor_id"),
                    )),
                    asc=True,
                ),
                1, k,
            ).alias("top")
        )
        .select(
            "query_id",
            F.transform(
                "top",
                lambda s, i: F.struct(
                    (i + 1).alias("rank"),
                    s["neighbor_id"].alias("neighbor_id"),
                    F.round(-s["neg_score"], 9).alias("score"),
                ),
            ).alias("neighbors"),
        )
    )


def stream_ivf_topk(spark: SparkSession, queries_parquet_dir: str,
                    index_path: str, k: int = 10, n_probe: int = 8):
    """Streaming twin of :func:`similarity.ivf_topk_indexed`: query
    vectors arrive as a parquet file stream and each micro-batch
    resolves against the PERSISTED IVF store (write_ivf_index) — the
    serving face of the r6 index: build once offline, point the query
    stream at it.

    The stored centroid matrix collects once (|cells| rows) into the
    probe UDF's closure; per trigger the new queries expand to their
    n_probe nearest cells and equi-join the stored entries on cell.
    The static entries side cannot partition-prune per trigger (the
    probed-cell set isn't known at plan time on a stream), so the join
    keys both sides on cell — at scale that is the same shuffle the
    batch corpus side pays; the bounded per-query top-k state and the
    exact rescore match the LSH streaming twin. Pinned row-identical
    to the batch indexed probe in tests/test_streaming_io.py.
    """
    entries, cent = S.read_ivf_index(spark, index_path)
    entries = entries.localCheckpoint(eager=False)
    qb = S._ivf_probes(_query_stream(spark, queries_parquet_dir), cent,
                       n_probe)
    return _topk_update_agg(S._score_candidates(qb.join(entries, "cell")), k)
