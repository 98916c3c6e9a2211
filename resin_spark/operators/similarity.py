"""Vector similarity search + ML batch ops (SURVEY.md §2 block E).

The reference's search stack is a greedy binary-tree walk over cosine
angles (src/Resin.MachineLearning/GraphExtensions.cs:46-73
ClosestMatch, GraphSearcher.cs, GraphIndex.cs). A pointer-chasing tree
is the wrong physical shape for Spark, so the same query semantics —
"best match(es) above an angle threshold" — are re-expressed as:

- brute_topk      — exact: broadcast the query set, score every
                    (query, candidate) pair JVM-side, per-query top-k
                    window. One pass over the corpus, no shuffle of the
                    big side; this is also the recall oracle.
- lsh_topk        — scale path: random-hyperplane signatures bucket
                    the corpus; only same-bucket pairs are scored.
- knn_classify    — majority label of the k nearest (batch MLlib-style
                    use of the index).
- label_centroids — per-label mean vector ("large anything models":
                    batch model building over vector columns).
- closest_match   — rank-1 hit per query + FoldAngle gate, the direct
                    GraphIndex.Search analog.

Every operator reads one schema: the corpus is ``(vec_id, embedding)``
and the queries are ``(query_id, q_vec)``; callers rename before
calling. The LSH store hashes with one hyperplane family
(:data:`LSH_SEED0`), so its writer, appender, validator and probes
agree by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

from resin_spark.functions import vectors as V
from resin_spark.session import memo

FOLD_ANGLE = 0.55  # GraphOptions.cs defaults
IDENTICAL_ANGLE = 0.99

# Hyperplane seed of the LSH store and the in-memory LSH probes; the
# self-join threshold candidates use their own family (101).
LSH_SEED0 = 7

# Cosine discrepancy bound between numpy (pairwise/SIMD summation) and the
# strict left-to-right JVM/DuckDB fold: for unit vectors of dim d the
# summation-order error is < d * eps ≈ 64 * 2.2e-16 ≈ 1.5e-14. Candidate
# generation widens thresholds by this margin so the exact rescore can never
# lose a true hit to rounding.
_NUMERIC_MARGIN = 1e-9


def valid_vectors(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Corrupt-row gate every vector operator applies at its boundary:
    a null array crashes the numpy batch paths outright
    (np.array over a None is an inhomogeneous-shape error — one bad row
    would kill a 100 TB job), and a NaN component poisons every cosine
    it touches with engine-dependent NaN-comparison semantics. Both are
    ingest corruption, not data: drop them. The oracle twin is
    :data:`VALID_VECTORS_SQL`."""
    c = F.col(vec_col)
    return emb.filter(c.isNotNull() & ~F.exists(c, lambda x: F.isnan(x)))


VALID_VECTORS_SQL = ("embedding IS NOT NULL"
                     " AND len(list_filter(embedding, x -> isnan(x))) = 0")


def broadcast_unit_matrix(emb: DataFrame):
    """Collect the corpus as an L2-normalised float64 matrix (sorted by id)
    and ship it to executors as a broadcast variable.

    This is the build side of a broadcast join, materialised as numpy so
    candidate scoring is one BLAS matmul per Arrow batch instead of a
    per-pair JVM fold. Sizing: ids(8B) + d×8B per vector — a 10M-vector,
    64-dim corpus is ~5 GB, the practical broadcast ceiling; beyond that
    the LSH-bucketed path (lsh_topk) is the scale route, same as any
    broadcast-vs-shuffle join decision.
    """
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    if len(ids) == 0:
        # zero valid vectors: np.array([]) would be 1-dim and the norm
        # reduction below raises AxisError — ship an explicit empty
        # matrix so candidate gens yield an empty pair relation instead
        return emb.sparkSession.sparkContext.broadcast(
            (ids, np.zeros((0, 0))))
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    return emb.sparkSession.sparkContext.broadcast((ids, unit))


# Past this estimated matrix size the driver-collected broadcast path is
# refused and candidate generation auto-routes to the LSH-bucketed
# self-join (see *_auto below). 2 GiB ≈ a 4M-vector 64-dim corpus.
BROADCAST_CEILING_BYTES = 2 << 30


def _plan_memo(df: DataFrame, key: tuple, build):
    """memo() keyed on ``df``'s plan semanticHash plus ``key``: a
    static relation's width and size are plan properties, so repeated
    calls in one session pay their probe jobs once. Frames whose plan
    cannot be hashed are probed every time."""
    try:
        plan = df.semanticHash()
    except Exception:
        return build()
    return memo(df.sparkSession, (plan, *key), build)


def _plan_size_bytes(df: DataFrame):
    """Catalyst's sizeInBytes estimate for the optimized plan — pure
    driver-side metadata (summed file sizes for a parquet scan), no job.
    None when the accessor is unavailable OR the estimate is Catalyst's
    cannot-estimate sentinel (spark.sql.defaultSizeInBytes, by default
    Long.MaxValue — what RDD-backed frames report): a sentinel read as
    a real size would route every createDataFrame corpus to the LSH
    path regardless of its true size."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return size if 0 <= size < (1 << 60) else None


def corpus_bytes_estimate(emb: DataFrame, ceiling_bytes: int | None = None):
    """(est_bytes, n_rows, dims) of the corpus as a unit matrix.

    The gate itself must stay cheap at 100 TB, so it runs zero full
    scans: if Catalyst's plan-statistics size (compressed on-disk
    bytes, a strict lower bound on the float64 in-memory matrix)
    already exceeds ``ceiling_bytes``, the answer is decided without
    any count job and n_rows is a plane-sizing estimate derived from
    the plan bytes. Only corpora under the ceiling pay an exact
    count(), and results are memoized per (plan semanticHash, ceiling)
    so repeated candidate-generation calls in one session cost
    nothing. dims is _probe_dims' memoized single-row probe.
    """
    def stats():
        dims = _probe_dims(emb, "embedding")
        plan_bytes = _plan_size_bytes(emb)
        if (ceiling_bytes is not None and plan_bytes is not None
                and dims > 0 and plan_bytes > ceiling_bytes):
            return plan_bytes, max(1, plan_bytes // (dims * 8 + 8)), dims
        n = emb.count()
        return n * (dims * 8 + 8), n, dims
    return _plan_memo(emb, ("stats", ceiling_bytes), stats)


def adaptive_planes(n_rows: int, target_bucket: int = 1024) -> int:
    """Plane count sized so each table's expected bucket occupancy is
    ~``target_bucket`` rows: 2^planes ≈ n/target. A fixed plane count
    cannot survive scale-up — at 4M rows 8 planes leave 15k-row buckets
    (within-bucket scoring re-approaches n²), while at 500 rows 12
    planes leave every bucket a singleton (zero recall). Clamped to
    [6, 24]; multi-probe mask count grows O(planes²), so the probe-side
    explode stays bounded."""
    import math
    if n_rows <= target_bucket:
        return 6
    return min(24, max(6, math.ceil(math.log2(n_rows / target_bucket))))


def self_topk_candidates_lsh(emb: DataFrame, n_planes: int = 8,
                             n_tables: int = 4,
                             probe_radius: int = 2) -> DataFrame:
    """(vec_id, nb_id) self-kNN candidates via banded hyperplane buckets —
    the past-the-broadcast-ceiling stage 1. Both sides read one
    _lsh_postings relation with the vectors pruned; the probe side
    additionally expands its Hamming-``radius`` ball (multi-probe), and
    the single equi-join key is (tbl, bucket). No broadcast, no
    cartesian — a plain shuffle join that scales with bucket occupancy,
    not corpus². Recall is approximate (measured 0.80 at the defaults on
    the 500-vector test corpus); downstream exact rescoring keeps
    returned scores oracle-grade."""
    h = hyperplane_buckets_udf(_probe_dims(emb, "embedding"), n_planes,
                               n_tables)
    hashed = _lsh_postings(valid_vectors(emb), h, "vec_id", "embedding") \
        .select("vec_id", "tbl", "bucket")
    eb = hashed.select(F.col("vec_id").alias("nb_id"), "tbl", "bucket")
    qb = _multi_probe(hashed, n_planes, probe_radius)
    return (
        qb.join(eb, ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("nb_id"))
        .select("vec_id", "nb_id")
        .dropDuplicates(["vec_id", "nb_id"])
    )


def self_threshold_candidates_lsh(emb: DataFrame, n_planes: int = 8,
                                  n_tables: int = 6,
                                  probe_radius: int = 2) -> DataFrame:
    """(vec_a < vec_b) threshold candidates via hyperplane buckets with
    multi-probe on one side. Recall rises with cos threshold: ≥ 1-5e-5
    at IdenticalAngle 0.99, ≈ 0.95 at tau 0.4 with these defaults
    (P[Hamming ≤ 2 of 8 planes] per table, 6 tables)."""
    h = hyperplane_buckets_udf(_probe_dims(emb, "embedding"), n_planes,
                               n_tables, seed0=101)
    hashed = _lsh_postings(valid_vectors(emb), h, "vec_id", "embedding") \
        .select("vec_id", "tbl", "bucket")
    a_side = _multi_probe(hashed, n_planes, probe_radius).select(
        F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b_side = hashed.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    return (
        a_side.join(b_side, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )


def cosine_topk_candidates_auto(emb: DataFrame, k: int,
                                ceiling_bytes: int = BROADCAST_CEILING_BYTES,
                                n_planes: int | None = None,
                                n_tables: int = 8, probe_radius: int = 2):
    """Stage-1 candidate generation with the broadcast-vs-bucketed choice
    made from corpus statistics, not a caller flag — the same decision a
    broadcast-vs-shuffle join planner makes. Returns (candidates, fits):
    ``fits`` tells the caller whether corpus-sized build sides may still
    be broadcast in its own downstream joins. On the bucketed route the
    plane count is sized to the measured row count (adaptive_planes)
    unless the caller pins ``n_planes``."""
    est, n, _dims = corpus_bytes_estimate(emb, ceiling_bytes)
    if est <= ceiling_bytes:
        return cosine_topk_candidates(emb, broadcast_unit_matrix(emb), k), True
    planes = n_planes if n_planes is not None else adaptive_planes(n)
    return self_topk_candidates_lsh(emb, planes, n_tables,
                                    probe_radius), False


def cosine_threshold_candidates_auto(emb: DataFrame, tau: float,
                                     ceiling_bytes: int = BROADCAST_CEILING_BYTES,
                                     n_planes: int | None = None,
                                     n_tables: int = 6, probe_radius: int = 2):
    """Threshold-pair stage 1 with the same statistics-driven routing as
    cosine_topk_candidates_auto. Returns (candidates, fits)."""
    est, n, _dims = corpus_bytes_estimate(emb, ceiling_bytes)
    if est <= ceiling_bytes:
        return cosine_threshold_candidates(
            emb, broadcast_unit_matrix(emb), tau), True
    planes = n_planes if n_planes is not None else adaptive_planes(n)
    return self_threshold_candidates_lsh(emb, planes, n_tables,
                                         probe_radius), False


def maybe_broadcast(df: DataFrame, fits: bool) -> DataFrame:
    """Broadcast hint only when the corpus passed the size gate; past it
    the hint is dropped and Catalyst/AQE plans a shuffle join."""
    return broadcast(df) if fits else df


def cosine_topk_candidates(emb: DataFrame, bc, k: int,
                           exclude_self: bool = True) -> DataFrame:
    """(vec_id, nb_id) candidate pairs guaranteed to contain each row's exact
    cosine top-k against the broadcast corpus.

    mapInPandas + matmul: each Arrow batch scores against the whole
    broadcast matrix in one BLAS call, takes the per-row k-th score, and
    keeps everything within _NUMERIC_MARGIN of it — a superset of the
    true top-k under any summation order. Downstream rescoring with the
    strict JVM fold makes the final ranking bit-exact vs the oracle.
    """

    def gen(batches):
        bids, bunit = bc.value
        for pdf in batches:
            if len(pdf) == 0 or bunit.shape[0] == 0:
                continue
            q = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            qn = np.sqrt((q * q).sum(axis=1))
            qn[qn == 0] = 1.0
            s = (q / qn[:, None]) @ bunit.T
            qids = pdf["vec_id"].to_numpy(dtype=np.int64)
            if exclude_self:
                pos = np.searchsorted(bids, qids)
                ok = (pos < len(bids)) & (bids[np.clip(pos, 0, len(bids) - 1)] == qids)
                s[np.nonzero(ok)[0], pos[ok]] = -np.inf
            kk = min(k, s.shape[1] - 1 if exclude_self else s.shape[1])
            if kk <= 0:
                continue
            kth = np.partition(s, -kk, axis=1)[:, -kk]
            sel = s >= (kth[:, None] - _NUMERIC_MARGIN)
            rr, cc = np.nonzero(sel)
            yield pd.DataFrame({"vec_id": qids[rr], "nb_id": bids[cc]})

    return emb.select("vec_id", "embedding").mapInPandas(
        gen, "vec_id long, nb_id long"
    )


def cosine_threshold_candidates(emb: DataFrame, bc, tau: float) -> DataFrame:
    """(vec_a < vec_b) pairs whose numpy cosine reaches tau − margin —
    a guaranteed superset of the exact cos ≥ tau pairs, for downstream
    JVM-exact verification. Same one-pass matmul shape as
    cosine_topk_candidates."""

    def gen(batches):
        bids, bunit = bc.value
        for pdf in batches:
            if len(pdf) == 0 or bunit.shape[0] == 0:
                continue
            q = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            qn = np.sqrt((q * q).sum(axis=1))
            qn[qn == 0] = 1.0
            s = (q / qn[:, None]) @ bunit.T
            qids = pdf["vec_id"].to_numpy(dtype=np.int64)
            sel = (s >= tau - _NUMERIC_MARGIN) & (bids[None, :] > qids[:, None])
            rr, cc = np.nonzero(sel)
            yield pd.DataFrame({"vec_a": qids[rr], "vec_b": bids[cc]})

    return emb.select("vec_id", "embedding").mapInPandas(
        gen, "vec_a long, vec_b long")


def _score_candidates(pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, score) for the (query, vector) pairs an
    ANN probe generated: self-pairs dropped, every survivor scored with
    the exact JVM cosine — candidate generation only prunes, it never
    changes a score."""
    return pairs.filter(F.col("vec_id") != F.col("query_id")).select(
        F.col("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        V.cosine_gated("embedding", "q_vec").alias("score"),
    )


def _topk_by_query(scored: DataFrame, k: int) -> DataFrame:
    """The ranked tail every top-k search shares: per-query row_number
    over (score desc, neighbor_id) — the oracle's tie-break — cut at k,
    score rounded to 9 decimals."""
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id",
                F.round("score", 9).alias("score"))
        .orderBy("query_id", "rank")
    )


def brute_topk(emb: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k per query vector.

    The query side is broadcast — the corpus is scanned exactly once
    with no shuffle; the only exchange is the per-query top-k window on
    (n_queries × n_corpus) scored rows, which AQE coalesces. Scoring is
    a JVM fold (functions/vectors.py), never per-row Python.
    """
    emb = valid_vectors(emb)
    queries = valid_vectors(queries, "q_vec")
    scored = (
        emb.select("vec_id", "embedding")
        .join(broadcast(queries.select("query_id", "q_vec")),
              F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            V.cosine_gated("embedding", "q_vec").alias("score"),
        )
    )
    return _topk_by_query(scored, k)


def brute_topk_oracle(k: int = 10, n_queries: int = 5) -> str:
    cos = V.cosine_gated_sql("e.embedding", "q.embedding")
    return f"""
    WITH vemb AS (SELECT * FROM embeddings WHERE {VALID_VECTORS_SQL}),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               {cos} AS score
        FROM vemb e, vemb q
        WHERE q.vec_id < {n_queries} AND e.vec_id <> q.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, round(score, 9) AS score
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def hyperplane_buckets_udf(dims: int, n_planes: int, n_tables: int,
                           seed0: int = LSH_SEED0):
    """All n_tables bucket ids in ONE Arrow pass: a single
    (batch × dims) @ (dims × tables·planes) matmul, bits packed per
    table. One UDF stage instead of n_tables — the corpus is read and
    shipped through Arrow exactly once."""
    rng_planes = [
        np.random.RandomState(seed0 + t).standard_normal((n_planes, dims))
        for t in range(n_tables)
    ]
    all_planes = np.vstack(rng_planes)  # (tables*planes, dims)

    @pandas_udf(ArrayType(LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())
        bits = (m @ all_planes.T) > 0  # (batch, tables*planes)
        out = np.zeros((len(m), n_tables), dtype=np.int64)
        for t in range(n_tables):
            for j in range(n_planes):
                out[:, t] |= bits[:, t * n_planes + j].astype(np.int64) << j
        return pd.Series(list(out))

    return buckets


def _probe_masks(n_planes: int, radius: int) -> list[int]:
    """XOR masks for multi-probe LSH: the query probes every bucket
    within Hamming distance ``radius`` of its own (0 = exact bucket
    only). For 8 planes, radius 2 -> 1 + 8 + 28 = 37 probes."""
    masks = [0]
    if radius >= 1:
        masks += [1 << j for j in range(n_planes)]
    if radius >= 2:
        masks += [(1 << i) | (1 << j)
                  for i in range(n_planes) for j in range(i + 1, n_planes)]
    return masks


def _multi_probe(qb: DataFrame, n_planes: int, radius: int) -> DataFrame:
    """Expand query-side buckets to their Hamming-``radius`` ball."""
    if radius <= 0:
        return qb
    masks = _probe_masks(n_planes, radius)
    return qb.withColumn(
        "bucket",
        F.explode(F.array(*[
            F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks
        ])),
    )


def _probe_dims(df: DataFrame, vec_col: str) -> int:
    """Vector width from a single-row probe of ``vec_col`` (the corpus's
    ``embedding`` or the queries' ``q_vec``) — schemas don't carry array
    length, and a hardcoded width crashes the hyperplane matmul on any
    corpus whose width differs.

    Memoized per (plan semanticHash, column) in the session memo, so
    repeated LSH/IVF/incremental calls and corpus_bytes_estimate pay
    the probe job once; a fresh session always re-probes."""
    def probe() -> int:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        return int(first["d"]) if first and first["d"] is not None else 0
    return _plan_memo(df, ("dims", vec_col), probe)


def _lsh_postings(df: DataFrame, h, id_col: str, vec_col: str) -> DataFrame:
    """The LSH store's relation: one (id, vector, tbl, bucket) posting
    per hash table, all tables from ONE Arrow pass of ``h``
    (hyperplane_buckets_udf). Over the corpus (vec_id, embedding) it is
    what write_ann_index persists, lsh_topk probes in memory and the
    validator recomputes; over the queries (query_id, q_vec) it starts
    every probe's query side (_lsh_probes)."""
    return df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(h(F.col(vec_col))).alias("tbl", "bucket"),
    )


def _lsh_probes(queries: DataFrame, h, n_planes: int,
                probe_radius: int) -> DataFrame:
    """Multi-probe query side: each query's own postings, expanded to
    every bucket within Hamming ``probe_radius`` (_multi_probe)."""
    return _multi_probe(_lsh_postings(queries, h, "query_id", "q_vec"),
                        n_planes, probe_radius)


def _lsh_scored(index: DataFrame, queries: DataFrame, h, n_planes: int,
                probe_radius: int) -> DataFrame:
    """The LSH probe: broadcast the multi-probe query side, equi-join
    the postings on (tbl, bucket), keep each (query, vector) pair once
    however many tables/probes matched it, and score it exactly."""
    qb = _lsh_probes(queries, h, n_planes, probe_radius)
    pairs = (
        index.join(broadcast(qb), on=["tbl", "bucket"])
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _score_candidates(pairs)


def lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             n_planes: int = 8, n_tables: int = 4,
             probe_radius: int = 2) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets, scored within-bucket.

    n_tables independent hash tables (seeded deterministically) union
    their candidates before exact scoring, and each query additionally
    probes every bucket within Hamming ``probe_radius`` of its own
    (multi-probe LSH, Lv et al. 2007) — the probe expansion happens on
    the BROADCAST query side only, so the corpus-side cost is unchanged
    while recall rises steeply (0.08 -> 0.80 on the 500-vector test
    corpus at radius 2). All tables' buckets come from ONE Arrow pass
    over the corpus (hyperplane_buckets_udf) followed by a posexplode,
    and the single equi-join key is (table, bucket): cost ≈ corpus ×
    tables, never corpus².

    The in-memory corpus is the relation write_ann_index would persist
    (_lsh_postings), probed by the scored join lsh_topk_indexed runs —
    one probe path for both, hashing at the corpus's measured width.
    """
    emb = valid_vectors(emb)
    h = hyperplane_buckets_udf(_probe_dims(emb, "embedding"), n_planes,
                               n_tables)
    return _topk_by_query(
        _lsh_scored(_lsh_postings(emb, h, "vec_id", "embedding"),
                    valid_vectors(queries, "q_vec"), h, n_planes,
                    probe_radius), k)


def write_ann_index(emb: DataFrame, path: str, n_planes: int = 8,
                    n_tables: int = 4) -> None:
    """Persist the LSH index as a partitioned parquet relation — the
    Spark-first analog of the reference's on-disk graph index
    (GraphSerializer.cs writes node pages; SeekableGraphReader.cs seeks
    them by offset). Here the "pages" are parquet row groups: the index
    is (tbl, bucket, id, vector) partitioned by tbl and sorted by bucket
    within files, so a probe reads only its table's directory and skips
    row groups via bucket min/max statistics — seek-equivalent I/O with
    zero custom file format. The hyperplanes take the probed vector
    width and :data:`LSH_SEED0`; the reader must pass the same
    ``n_planes``/``n_tables``.
    """
    emb = valid_vectors(emb)
    h = hyperplane_buckets_udf(_probe_dims(emb, "embedding"), n_planes,
                               n_tables)
    (
        _lsh_postings(emb, h, "vec_id", "embedding")
        .repartition("tbl")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite").partitionBy("tbl").parquet(path)
    )


def read_ann_index(spark, path: str) -> DataFrame:
    """Load a persisted LSH index (see write_ann_index)."""
    return spark.read.parquet(path)


def lsh_topk_indexed(index: DataFrame, queries: DataFrame, k: int = 10,
                     n_planes: int = 8, n_tables: int = 4,
                     probe_radius: int = 2) -> DataFrame:
    """Top-k probe of a persisted LSH index (read_ann_index): queries
    hash with the store's hyperplane family (:data:`LSH_SEED0`, at the
    queries' measured width) and expand their multi-probe ball, and the
    (tbl, bucket) equi-join prunes the stored scan to the probed
    partitions/row groups. ``n_planes``/``n_tables`` must match the
    write."""
    queries = valid_vectors(queries, "q_vec")
    h = hyperplane_buckets_udf(_probe_dims(queries, "q_vec"), n_planes,
                               n_tables)
    return _topk_by_query(
        _lsh_scored(index, queries, h, n_planes, probe_radius), k)


def _train_ivf_centroids(emb: DataFrame, n_cells: int,
                         sample_cap: int, seed: int) -> np.ndarray:
    """Spherical k-means coarse quantizer on a deterministic sample.

    The sample is a hash-THRESHOLD subset: keep rows whose
    xxhash64(id) mod 2^20 falls under ceil(1.1 · cap / n · 2^20) — a
    pure filter, deterministic in the ids, expected size ≈ 1.1 ×
    sample_cap. The earlier orderBy(xxhash64).limit(cap) form compiled
    to TakeOrdered, whose merge step ships every partition's top-cap
    rows to the driver — O(partitions × cap) rows at cluster scale; the
    filter ships only the kept rows. The row count comes from the
    memoized corpus_bytes_estimate (exact under the ceiling, plan-stats
    estimate past it — either is fine for a sampling rate). Lloyd
    iterations run in numpy on unit vectors (assign by dot, re-mean,
    re-normalise); empty cells re-seed deterministically.
    """
    _est, n_rows, _d = corpus_bytes_estimate(emb, BROADCAST_CEILING_BYTES)
    sampled = emb.select("vec_id", "embedding")
    if n_rows > sample_cap:
        m = 1 << 20
        keep = min(m, int(m * 1.1 * sample_cap / n_rows) + 1)
        sampled = sampled.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(m)) < keep)
    # id-sort the driver-sized frame so the seeded k-means init sees the
    # same row order whatever the scan's partitioning produced
    sample = sampled.toPandas().sort_values("vec_id").reset_index(drop=True)
    m = np.array([np.asarray(v, dtype=np.float64) for v in sample["embedding"]])
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    u = m / norms
    rng = np.random.RandomState(seed)
    cent = u[rng.choice(len(u), size=min(n_cells, len(u)), replace=False)]
    for _ in range(10):
        assign = np.argmax(u @ cent.T, axis=1)
        for c in range(len(cent)):
            members = u[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                cent[c] = v / n if n > 0 else u[rng.randint(len(u))]
            else:
                cent[c] = u[rng.randint(len(u))]
    return cent


def _ivf_cell_udf(cent: np.ndarray):
    """Cell assignment against a trained centroid matrix: argmax of
    the L2-normalised vector's dot with every centroid. The one kernel
    that files vectors — writer, appender, validator and the in-memory
    operator all assign with it."""
    @pandas_udf(LongType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return pd.Series(np.argmax((m / n) @ cent.T, axis=1).astype(np.int64))
    return cell_of


def _ivf_probe_udf(cent: np.ndarray, probe_n: int):
    """A query's ``probe_n`` nearest cells, scored like _ivf_cell_udf."""
    @pandas_udf(ArrayType(LongType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        s = (m / n) @ cent.T
        top = np.argsort(-s, axis=1)[:, :probe_n].astype(np.int64)
        return pd.Series(list(top))
    return probe_cells


def _ivf_entries(emb: DataFrame, cent: np.ndarray) -> DataFrame:
    """The IVF store's relation: (vec_id, embedding, cell) — what
    write_ivf_index persists (partitioned by the int cell) and what
    ann_topk_ivf probes in memory."""
    return emb.select(
        "vec_id", "embedding",
        _ivf_cell_udf(cent)(F.col("embedding")).cast("int").alias("cell"))


def _ivf_probes(queries: DataFrame, cent: np.ndarray,
                n_probe: int) -> DataFrame:
    """Query side: one (query_id, q_vec, cell) row per probed cell."""
    probe_n = min(n_probe, len(cent))
    return queries.select(
        "query_id", "q_vec",
        F.explode(_ivf_probe_udf(cent, probe_n)(F.col("q_vec"))).alias("cell"),
    ).withColumn("cell", F.col("cell").cast("int"))


def _ivf_scored(entries: DataFrame, qb: DataFrame) -> DataFrame:
    """The IVF probe: broadcast the probed cells, equi-join the entries
    on cell, score exactly. A vector sits in one cell and a query's
    probed cells are distinct, so no pair repeats."""
    return _score_candidates(entries.join(broadcast(qb), "cell"))


def ann_topk_ivf(emb: DataFrame, queries: DataFrame, k: int = 10,
                 n_cells: int = 64, n_probe: int = 8,
                 sample_cap: int = 100_000, seed: int = 33) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the clustered scale path
    beside the hyperplane LSH one.

    1. train — spherical k-means centroids on a driver-sized sample.
    2. assign — ONE Arrow pass puts every corpus vector in its nearest
       cell (argmax against the broadcast centroid matrix).
    3. probe — each query expands to its n_probe nearest cells
       (posexplode), and the candidate join is equi-keyed on cell id —
       cost ≈ corpus × n_probe / n_cells per query, never corpus².
    4. score — exact JVM cosine + per-query top-k window, so returned
       scores are oracle-grade even though recall is approximate.

    Steps 2–4 are ivf_topk_indexed's probe over the relation
    write_ivf_index would persist, minus the stored index's
    probed-cell partition filter (a collect job an in-memory relation
    has no directories to repay).
    n_probe = n_cells degrades gracefully to exact brute force (tested).
    """
    emb = valid_vectors(emb)
    queries = valid_vectors(queries, "q_vec")
    cent = _train_ivf_centroids(emb, n_cells, sample_cap, seed)
    return _topk_by_query(
        _ivf_scored(_ivf_entries(emb, cent),
                    _ivf_probes(queries, cent, n_probe)), k)


def knn_classify(emb: DataFrame, k: int = 10) -> DataFrame:
    """Predict each vector's label from its k nearest neighbors
    (majority vote, ties → smallest label). Exact result, two stages:

    1. candidate generation — one corpus pass scoring each Arrow batch
       against the broadcast unit matrix (BLAS matmul), keeping a
       margin-widened top-k superset per row. No O(n²) join: the plan
       is scan → mapInPandas, cost n×|corpus| flops in vectorized f64.
    2. exact rescore — the few k-ish candidates per row are re-scored
       with the strict left-to-right JVM fold (V.cosine), so the final
       ranking and votes hash-match the DuckDB oracle bit-for-bit.

    Stage 1 is size-gated (cosine_topk_candidates_auto): corpora past
    BROADCAST_CEILING_BYTES auto-route to the LSH-bucketed self-join —
    no caller flag, no driver collect — and the result becomes
    approximate-recall ANN-kNN (stage 2 exact rescoring unchanged).
    """
    emb = valid_vectors(emb)
    cand, fits = cosine_topk_candidates_auto(emb, k)
    a = emb.select("vec_id", F.col("embedding").alias("va"),
                   F.col("label").alias("true_label"))
    b = emb.select(F.col("vec_id").alias("nb_id"),
                   F.col("embedding").alias("vb"),
                   F.col("label").alias("nb_label"))
    scored = (
        cand.join(maybe_broadcast(a, fits), "vec_id")
        .join(maybe_broadcast(b, fits), "nb_id")
        .select(
            "vec_id", "true_label", "nb_label", "nb_id",
            V.cosine_gated(F.col("va"), F.col("vb")).alias("score"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("nb_id"))
    votes = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .groupBy("vec_id", "true_label", "nb_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    # vote tie-break: smallest LABELLED class wins; an unlabeled
    # (NULL) neighbor class loses ties. The null order must be
    # explicit: Spark's bare ASC is NULLS FIRST while DuckDB's is
    # NULLS LAST — a silent cross-engine divergence whenever a NULL
    # label ties a real one (r7 emb-fuzz find, seed 11001).
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("n_votes").desc(), F.col("nb_label").asc_nulls_last())
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("vec_id", "true_label", F.col("nb_label").alias("pred_label"), "n_votes")
        .orderBy("vec_id")
    )


def knn_classify_oracle(k: int = 10) -> str:
    cos = V.cosine_gated_sql("a.embedding", "b.embedding")
    return f"""
    WITH vemb AS (SELECT * FROM embeddings WHERE {VALID_VECTORS_SQL}),
    scored AS (
        SELECT a.vec_id, a.label AS true_label, b.label AS nb_label,
               b.vec_id AS nb_id, {cos} AS score
        FROM vemb a, vemb b WHERE a.vec_id <> b.vec_id
    ), topk AS (
        SELECT * FROM (
            SELECT vec_id, true_label, nb_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, nb_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    ), votes AS (
        SELECT vec_id, true_label, nb_label, COUNT(*) AS n_votes
        FROM topk GROUP BY 1, 2, 3
    )
    SELECT vec_id, true_label, nb_label AS pred_label, n_votes
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY n_votes DESC,
                                              nb_label NULLS LAST) AS vr
        FROM votes
    ) WHERE vr = 1
    ORDER BY vec_id
    """


def vector_analyze(emb: DataFrame, n_pairs: int = 200) -> DataFrame:
    """The reference's 10-metric ``Analyze`` pair signature
    (VectorOperations.cs:316-448) over consecutive (i, i+1) vector pairs.

    Metric-for-metric parity: cos (zero-gated on dot/norms, clamped to
    [-1,1]), angle = acos(cos), dot, both norms, euclidean, manhattan,
    projection length onto the second vector (dot/|b|, 0 when |b|=0),
    non-zero overlap count, and index-set jaccard (0 when the union is
    empty). Every fold is the strict left-to-right JVM expression from
    functions/vectors.py, so all metrics except acos are bit-identical
    to the DuckDB oracle; acos is rounded to 9 decimals on both engines
    (libm vs java.lang.Math may differ in the last ulp).

    Pair generation is an equi-join on (vec_id == vec_id+1) — embarrassingly
    parallel, no window, no cartesian; at 100 TB this shape is a co-partitioned
    merge join on the id.
    """
    emb = valid_vectors(emb)
    a = emb.filter(F.col("vec_id") < n_pairs).select(
        F.col("vec_id").alias("pair_id"), F.col("embedding").alias("va")
    )
    b = emb.select((F.col("vec_id") - 1).alias("pair_id"),
                   F.col("embedding").alias("vb"))
    base = (
        a.join(b, "pair_id")
        .select(
            "pair_id",
            V.dot("va", "vb").alias("dot"),
            V.norm("va").alias("norm_a"),
            V.norm("vb").alias("norm_b"),
            V.l2_distance("va", "vb").alias("euclidean"),
            V.l1_distance("va", "vb").alias("manhattan"),
            V.nonzero_overlap("va", "vb").alias("n_overlap"),
            F.aggregate(
                F.zip_with(V.to_double("va"), V.to_double("vb"),
                           lambda x, y: ((x != 0) | (y != 0)).cast("int")),
                F.lit(0), lambda acc, x: acc + x,
            ).alias("n_union"),
        )
    )
    cos = (
        F.when(
            (F.col("dot") != 0) & (F.col("norm_a") != 0) & (F.col("norm_b") != 0),
            F.least(F.lit(1.0), F.greatest(F.lit(-1.0),
                    F.col("dot") / (F.col("norm_a") * F.col("norm_b")))),
        ).otherwise(F.lit(0.0))
    )
    return (
        base.withColumn("cos", cos)
        .select(
            "pair_id",
            "cos",
            F.round(F.acos("cos"), 9).alias("angle_rad"),
            "dot", "norm_a", "norm_b", "euclidean", "manhattan",
            F.when(F.col("norm_b") > 0, F.col("dot") / F.col("norm_b"))
            .otherwise(F.lit(0.0)).alias("proj_len"),
            "n_overlap",
            F.when(F.col("n_union") > 0,
                   F.col("n_overlap") / F.col("n_union"))
            .otherwise(F.lit(0.0)).alias("jaccard"),
        )
        .orderBy("pair_id")
    )


def vector_analyze_oracle(n_pairs: int = 200) -> str:
    dot = V.dot_sql("a.embedding", "b.embedding")
    na = V.norm_sql("a.embedding")
    nb = V.norm_sql("b.embedding")
    l2 = V.l2_distance_sql("a.embedding", "b.embedding")
    l1 = V.l1_distance_sql("a.embedding", "b.embedding")
    ov = V.nonzero_overlap_sql("a.embedding", "b.embedding")
    un = (
        "list_reduce(list_transform(range(1, len(a.embedding) + 1),"
        " i -> CASE WHEN a.embedding[i] <> 0 OR b.embedding[i] <> 0"
        " THEN 1 ELSE 0 END), (acc, x) -> acc + x)"
    )
    return f"""
    WITH vemb AS (SELECT * FROM embeddings WHERE {VALID_VECTORS_SQL}),
    base AS (
        SELECT a.vec_id AS pair_id,
               {dot} AS dot, {na} AS norm_a, {nb} AS norm_b,
               {l2} AS euclidean, {l1} AS manhattan,
               {ov} AS n_overlap, {un} AS n_union
        FROM vemb a JOIN vemb b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < {n_pairs}
    ), withcos AS (
        SELECT *, CASE WHEN dot <> 0 AND norm_a <> 0 AND norm_b <> 0
                       THEN LEAST(1.0, GREATEST(-1.0, dot / (norm_a * norm_b)))
                       ELSE 0.0 END AS cos
        FROM base
    )
    SELECT pair_id, cos, round(acos(cos), 9) AS angle_rad,
           dot, norm_a, norm_b, euclidean, manhattan,
           CASE WHEN norm_b > 0 THEN dot / norm_b ELSE 0.0 END AS proj_len,
           n_overlap,
           CASE WHEN n_union > 0 THEN n_overlap / CAST(n_union AS DOUBLE)
                ELSE 0.0 END AS jaccard
    FROM withcos
    ORDER BY pair_id
    """


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label mean vector as (label, dim, mean_val) rows.

    posexplode + groupBy(label, dim) keeps the aggregation map-side
    partial and avoids any fixed-width array reassembly; the decimal
    cast makes the mean order-independent (see functions/exact.py).
    The float→decimal route goes through the float's shortest string
    repr — unique per value and parsed exactly by both engines — because
    Spark (double shortest-repr) and DuckDB (direct float scaling)
    disagree when casting float32 to decimal directly.
    """
    return (
        valid_vectors(emb)
        .select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(F.col("x").cast("string").cast("decimal(28,15)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_val")
        )
        .orderBy("label", "dim")
    )


def label_centroids_oracle() -> str:
    # dims-agnostic: unnest (index, value) structs built with the scalar
    # list range over each vector's actual length
    return f"""
    SELECT label, CAST(p.i - 1 AS INT) AS dim,
           CAST(SUM(CAST(CAST(p.x AS VARCHAR) AS DECIMAL(28,15))) AS DOUBLE)
               / COUNT(*) AS mean_val
    FROM (
        SELECT label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {{'i': i, 'x': embedding[i]}})) AS p
        FROM embeddings WHERE {VALID_VECTORS_SQL}
    )
    GROUP BY 1, 2 ORDER BY label, dim
    """


def closest_match(emb: DataFrame, queries: DataFrame,
                  fold_angle: float = FOLD_ANGLE) -> DataFrame:
    """The single best hit per query, with the FoldAngle acceptance
    gate reported as a flag (GraphOptions.cs FoldAngle=0.55).

    Parity target (r7 re-read): this is GraphSearcher.Search
    (GraphSearcher.cs:13-15) — a FULL traverse ordered by score, i.e.
    the exact global argmax — NOT GraphExtensions.ClosestMatch
    (GraphExtensions.cs:46-85), whose greedy fold-angle descent is
    path-local and can return a sub-optimal hit; the repo's analog of
    that cheaper approximate descent is the LSH/IVF candidate route
    (ann_topk_lsh / ann_topk_ivf), where the recall trade is measured
    instead of implicit."""
    best = brute_topk(emb, queries, k=1)
    return best.select(
        F.col("query_id"),
        F.col("neighbor_id").alias("best_id"),
        F.col("score"),
        (F.col("score") > fold_angle).alias("above_fold"),
    ).orderBy("query_id")


def closest_match_oracle(fold_angle: float = FOLD_ANGLE, n_queries: int = 5) -> str:
    cos = V.cosine_gated_sql("e.embedding", "q.embedding")
    return f"""
    WITH vemb AS (SELECT * FROM embeddings WHERE {VALID_VECTORS_SQL}),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {cos} AS score
        FROM vemb e, vemb q
        WHERE q.vec_id < {n_queries} AND e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id AS best_id, round(score, 9) AS score,
           round(score, 9) > {fold_angle} AS above_fold
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank = 1
    ORDER BY query_id
    """


# --- E12: product-quantization ANN (ADC + exact rerank) -----------------------

def _train_pq_codebooks(emb: DataFrame, m_sub: int, n_codes: int,
                        sample_cap: int, seed: int) -> np.ndarray:
    """(m_sub, n_codes, dims/m_sub) PQ codebooks: independent L2 k-means
    per subspace over L2-normalised corpus vectors, trained on the same
    deterministic hash-threshold sample the IVF trainer uses (a pure
    filter — no global sort, no TakeOrdered driver merge). Lloyd
    assignment uses the dot trick (argmin ||x-c||² = argmax x·c −
    ||c||²/2), so the per-iteration cost is one (sample × n_codes)
    matmul per subspace; empty codes re-seed deterministically.

    ONE stats probe (corpus_bytes_estimate, memoized per plan) serves
    both the sample gate and the vector width, and ``m_sub`` must
    divide the width — checked before any sample ships."""
    _est, n_rows, dims = corpus_bytes_estimate(emb, BROADCAST_CEILING_BYTES)
    if m_sub <= 0 or dims % m_sub != 0:
        raise ValueError(f"m_sub={m_sub} must divide the vector width {dims}")
    sampled = emb.select("vec_id", "embedding")
    if n_rows > sample_cap:
        mm = 1 << 20
        keep = min(mm, int(mm * 1.1 * sample_cap / n_rows) + 1)
        sampled = sampled.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mm)) < keep)
    sample = sampled.toPandas().sort_values("vec_id").reset_index(drop=True)
    m = np.array([np.asarray(v, dtype=np.float64) for v in sample["embedding"]])
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    u = m / norms
    d_sub = dims // m_sub
    rng = np.random.RandomState(seed)
    books = np.zeros((m_sub, n_codes, d_sub))
    for mi in range(m_sub):
        sub = u[:, mi * d_sub:(mi + 1) * d_sub]
        kk = min(n_codes, len(sub))
        cent = sub[rng.choice(len(sub), size=kk, replace=False)].copy()
        for _ in range(10):
            s = sub @ cent.T - 0.5 * (cent * cent).sum(axis=1)
            assign = np.argmax(s, axis=1)
            for c in range(kk):
                members = sub[assign == c]
                cent[c] = (members.mean(axis=0) if len(members)
                           else sub[rng.randint(len(sub))])
        books[mi, :kk] = cent
    return books


def ann_topk_pq(emb: DataFrame, queries: DataFrame, k: int = 10,
                m_sub: int = 8, n_codes: int = 16, rerank: int | None = 100,
                sample_cap: int = 100_000, seed: int = 51) -> DataFrame:
    """Product-quantization ANN: asymmetric-distance (ADC) candidate
    ranking over an m_sub-byte code per vector, exact cosine rerank of
    the top ``rerank`` candidates per query.

    This is the memory side of the 100 TB ANN story, complementing the
    LSH/IVF routing paths: the scored index is (id, m_sub uint8 codes)
    — 8 bytes of payload instead of 256 for a float32 64-dim vector —
    so the candidate scan reads ~32× fewer bytes and the whole index
    stays cache-resident long after raw vectors stop fitting.

    1. train  — per-subspace k-means codebooks on a driver-sized
       deterministic sample (_train_pq_codebooks).
    2. encode — ONE Arrow pass turns each corpus vector into m_sub
       code ids (argmax dot-trick against the broadcast codebooks).
    3. ADC    — each query precomputes its (m_sub × n_codes) table of
       partial dots against its L2-normalised self; the per-candidate
       score is then a pure JVM fold of m_sub table lookups over the
       code array — dot(q, dequantised(x)) without touching x. The
       query tables broadcast (n_queries × m_sub × n_codes doubles).
    4. rerank — per-query ADC top-``rerank`` window, equi-join the
       original vectors back by id, exact JVM cosine, final top-k.
       Any ``rerank`` ≥ corpus size keeps every candidate: output
       provably equals brute_topk while the ADC window still forces the
       whole train/encode/ADC pipeline to run — the driver's oracle
       operating point. ``rerank=None`` removes the ADC window
       entirely, and Catalyst then PRUNES the unused encode/LUT subtree
       (column pruning sees adc_score is dead), leaving literal brute
       force — a nice declarative property, but it verifies nothing
       about PQ, which is why the oracle entry uses a finite rerank.
       Lean-rerank recall is pinned in tests/test_ann.py.
    """
    emb = valid_vectors(emb)
    queries = valid_vectors(queries, "q_vec")
    books = _train_pq_codebooks(emb, m_sub, n_codes, sample_cap, seed)
    return _pq_adc_topk(_pq_codes(emb, books), books, queries, emb, k,
                        rerank)


def _pq_encode_udf(books: np.ndarray):
    """Arrow encoder: vector → m_sub code ids (argmax dot trick against
    the codebooks on the L2-normalised vector)."""
    m_sub, n_codes, d_sub = books.shape
    flat = books.reshape(m_sub * n_codes, d_sub)
    half_sq = 0.5 * (flat * flat).sum(axis=1).reshape(m_sub, n_codes)

    @pandas_udf(ArrayType(LongType()))
    def encode(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        u = (m / n).reshape(len(m), m_sub, d_sub)
        # scores[b, mi, c] = u_sub · c − ||c||²/2
        s = np.einsum("bmd,mcd->bmc", u, books) - half_sq[None, :, :]
        return pd.Series(list(s.argmax(axis=2).astype(np.int64)))

    return encode


def _pq_codes(emb: DataFrame, books: np.ndarray) -> DataFrame:
    """The PQ store's codes relation: (vec_id, codes) — what
    write_pq_index persists and ann_topk_pq scans in memory."""
    return emb.select(
        "vec_id", _pq_encode_udf(books)(F.col("embedding")).alias("codes"))


def _pq_adc_topk(encoded: DataFrame, books: np.ndarray, queries: DataFrame,
                 emb: DataFrame, k: int, rerank: int | None) -> DataFrame:
    """Shared ADC + exact-rerank tail: used by ann_topk_pq (fresh
    encode) and pq_topk_indexed (codes read from a persisted index)."""
    m_sub, n_codes, d_sub = books.shape

    @pandas_udf(ArrayType(DoubleType()))
    def query_lut(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        u = (m / n).reshape(len(m), m_sub, d_sub)
        # lut[b, mi*n_codes + c] = q_sub · codebook[mi][c]
        lut = np.einsum("bmd,mcd->bmc", u, books).reshape(len(m), -1)
        return pd.Series(list(lut))

    qtab = queries.select("query_id", query_lut(F.col("q_vec")).alias("lut"))
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        F.lit(0.0),
        lambda acc, mi: acc + F.element_at(
            "lut",
            (mi * n_codes + F.element_at("codes", (mi + 1).cast("int")) + 1)
            .cast("int")),
    )
    adc_scored = (
        encoded.join(broadcast(qtab), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                adc.alias("adc_score"))
    )
    if rerank is not None:
        wa = Window.partitionBy("query_id").orderBy(
            F.col("adc_score").desc(), F.col("neighbor_id"))
        adc_scored = (
            adc_scored.withColumn("arn", F.row_number().over(wa))
            .filter(F.col("arn") <= rerank)
        )
    cand = adc_scored.select("query_id", "neighbor_id")
    rescored = (
        cand.join(emb.select(F.col("vec_id").alias("neighbor_id"),
                             F.col("embedding").alias("n_vec")), "neighbor_id")
        .join(broadcast(queries.select("query_id", "q_vec")), "query_id")
        .select("query_id", "neighbor_id",
                V.cosine_gated("n_vec", "q_vec").alias("score"))
    )
    return _topk_by_query(rescored, k)


def write_pq_index(emb: DataFrame, path: str, m_sub: int = 8,
                   n_codes: int = 16, sample_cap: int = 100_000,
                   seed: int = 51) -> None:
    """Persist a PQ index: ``{path}/codes`` holds (id, m_sub code ids) —
    the compressed relation the candidate scan reads (~m_sub bytes of
    payload per vector instead of 4·dims) — and ``{path}/codebooks``
    holds the (m, c, centroid) rows that reconstruct the trained
    codebook tensor. Train once, encode once, query forever: the write
    is the "build the 100 TB ANN index" job, and re-running it with the
    same seed reproduces identical codebooks and codes (deterministic
    hash-threshold sample, seeded k-means).
    The raw-vector corpus stays wherever it lives — the exact rerank
    joins it back by id at query time."""
    emb = valid_vectors(emb)
    books = _train_pq_codebooks(emb, m_sub, n_codes, sample_cap, seed)
    spark = emb.sparkSession
    rows = [(int(mi), int(c), [float(x) for x in books[mi, c]])
            for mi in range(books.shape[0]) for c in range(books.shape[1])]
    spark.createDataFrame(rows, "m int, c int, centroid array<double>") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    _pq_codes(emb, books).write.mode("overwrite").parquet(f"{path}/codes")


def read_pq_index(spark, path: str):
    """(codes DataFrame, codebooks ndarray) from a write_pq_index dir."""
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m_sub = max(r["m"] for r in rows) + 1
    n_codes = max(r["c"] for r in rows) + 1
    d_sub = len(rows[0]["centroid"])
    books = np.zeros((m_sub, n_codes, d_sub))
    for r in rows:
        books[r["m"], r["c"]] = r["centroid"]
    return spark.read.parquet(f"{path}/codes"), books


def pq_topk_indexed(codes: DataFrame, books: np.ndarray, queries: DataFrame,
                    emb: DataFrame, k: int = 10,
                    rerank: int | None = 100) -> DataFrame:
    """ann_topk_pq against a persisted index: the ADC candidate scan
    reads ONLY the compressed codes relation; ``emb`` (the raw corpus)
    is touched just for the exact rerank of the surviving candidates.
    Identical output to ann_topk_pq with the same codebooks."""
    return _pq_adc_topk(codes, books, valid_vectors(queries, "q_vec"),
                        valid_vectors(emb), k, rerank)


# --- recall / cost report (r6) ------------------------------------------------

ANN_REPORT_CONFIGS = (
    {"method": "lsh", "n_planes": 6, "n_tables": 8, "probe_radius": 2},
    {"method": "lsh", "n_planes": 6, "n_tables": 4, "probe_radius": 1},
    {"method": "lsh", "n_planes": 8, "n_tables": 4, "probe_radius": 2},
    {"method": "ivf", "n_cells": 64, "n_probe": 64},
    {"method": "ivf", "n_cells": 64, "n_probe": 16},
    {"method": "ivf", "n_cells": 64, "n_probe": 8},
    {"method": "pq", "m_sub": 8, "n_codes": 16, "rerank": 100},
    {"method": "pq", "m_sub": 8, "n_codes": 16, "rerank": 25},
)


def ann_recall_report(emb: DataFrame, queries: DataFrame,
                      configs=ANN_REPORT_CONFIGS, k: int = 10) -> DataFrame:
    """Measured recall@k and candidate-scan cost for ANN operating
    points vs exact brute force — the eyes-open trade table a 100 TB
    operator reads before picking a NON-complete configuration (the
    driver entries run measured-complete points so their oracles are
    exact; production at scale wants the cheapest point whose recall
    clears its bar — the GraphOptions.cs FoldAngle trade, quantified).

    One row per config: (method, config, recall_at_k,
    n_candidate_pairs, n_exhaustive_pairs, scan_fraction) where
    n_candidate_pairs counts the exact-rescored (query, vector) pairs
    the config generates — for LSH and IVF the very relation the probe
    scores (at lsh_topk's / ann_topk_ivf's seeds), whose top-k is then
    the approximate answer; the ADC rerank window for PQ — and
    n_exhaustive_pairs = |queries| × (|corpus| − 1) is the brute-force
    scan. recall is averaged over queries on the
    neighbor-ID sets (score ties broken identically on both sides).

    Cost: one brute_topk + per config one candidate count + one
    top-k run over that same candidate relation (trained once per IVF
    config) — every job bounded by the config's own candidates; the
    collected report is |configs| rows of scalars.
    """
    emb = valid_vectors(emb)
    queries = valid_vectors(queries, "q_vec")
    dims = _probe_dims(emb, "embedding")
    n_corpus = emb.count()
    n_queries = queries.count()
    exhaustive = n_queries * max(0, n_corpus - 1)

    def pair_set(df: DataFrame) -> dict:
        by_q: dict = {}
        for r in df.collect():
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return by_q

    exact = pair_set(brute_topk(emb, queries, k=k))

    def recall_of(approx: dict) -> float:
        if not exact:
            return 1.0
        per_q = [
            len(exact[qk] & approx.get(qk, set())) / len(exact[qk])
            for qk in exact
        ]
        return sum(per_q) / len(per_q)

    rows = []
    for cfg in configs:
        cfg = dict(cfg)
        method = cfg.pop("method")
        if method == "pq":
            n_cand = n_queries * min(cfg["rerank"], max(0, n_corpus - 1))
            top = ann_topk_pq(emb, queries, k=k, **cfg)
        else:
            if method == "lsh":
                h = hyperplane_buckets_udf(dims, cfg["n_planes"],
                                           cfg["n_tables"])
                scored = _lsh_scored(
                    _lsh_postings(emb, h, "vec_id", "embedding"), queries,
                    h, cfg["n_planes"], cfg["probe_radius"])
            elif method == "ivf":
                cent = _train_ivf_centroids(emb, cfg["n_cells"], 100_000, 33)
                scored = _ivf_scored(_ivf_entries(emb, cent),
                                     _ivf_probes(queries, cent,
                                                 cfg["n_probe"]))
            else:
                raise ValueError(f"unknown ANN method {method!r}")
            n_cand = scored.count()
            top = _topk_by_query(scored, k)
        approx = pair_set(top)
        cfg_str = ",".join(f"{kk}={vv}" for kk, vv in sorted(cfg.items()))
        rows.append((
            method, cfg_str, round(recall_of(approx), 6), int(n_cand),
            int(exhaustive),
            round(n_cand / exhaustive, 6) if exhaustive else 0.0,
        ))
    spark = emb.sparkSession
    return spark.createDataFrame(
        rows,
        "method string, config string, recall_at_k double, "
        "n_candidate_pairs bigint, n_exhaustive_pairs bigint, "
        "scan_fraction double",
    )


# --- persisted IVF index (r6) -------------------------------------------------

def write_ivf_index(emb: DataFrame, path: str, n_cells: int = 64,
                    sample_cap: int = 100_000, seed: int = 33) -> None:
    """Persist an IVF index: ``{path}/centroids`` = (cell, centroid)
    — the trained spherical-k-means cells — and ``{path}/entries`` =
    (id, vector, cell) PARTITIONED BY cell, so a probe reads only its
    probed cells' directories (the partition-pruning move
    write_text_index makes for terms, applied to vector cells; the
    LSH/PQ stores' missing sibling). The entries are _ivf_entries —
    the relation ann_topk_ivf probes in memory — so probing a stored
    index at the same parameters is row-identical to the in-memory
    operator (pinned)."""
    emb = valid_vectors(emb)
    cent = _train_ivf_centroids(emb, n_cells, sample_cap, seed)
    spark = emb.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in cent[i]]) for i in range(len(cent))],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        _ivf_entries(emb, cent)
        .repartition("cell")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(f"{path}/entries")
    )


def read_ivf_index(spark, path: str):
    """(entries_frame, centroid_matrix) from a write_ivf_index dir.
    The centroid matrix is rebuilt cell-ordered (cells are the train
    indices 0..n-1, so row i IS cell i's centroid)."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell") \
        .collect()
    cent = np.array([r["centroid"] for r in rows], dtype=np.float64)
    return spark.read.parquet(f"{path}/entries"), cent


def ivf_topk_indexed(entries: DataFrame, cent: np.ndarray,
                     queries: DataFrame, k: int = 10,
                     n_probe: int = 8) -> DataFrame:
    """ann_topk_ivf's probe against a persisted index: each query
    expands to its n_probe nearest stored centroids, the probed cell
    ids (≤ |queries| × n_probe scalars, one collect job) prune the
    entries scan to their partition directories, and the shared
    cell-join → exact score → top-k step does the rest — so the
    output is ann_topk_ivf's at the same training parameters;
    n_probe = n_cells still degrades to brute force."""
    qb = _ivf_probes(valid_vectors(queries, "q_vec"), cent, n_probe)
    probed = [r["cell"] for r in qb.select("cell").distinct().collect()]
    return _topk_by_query(
        _ivf_scored(entries.filter(F.col("cell").isin(probed)), qb), k)


def append_ivf_index(emb_new: DataFrame, path: str) -> None:
    """Merge a NEW batch of vectors into a stored IVF index — the
    continuous-ingest maintenance shape (append_text_index /
    append_dedup_index's sibling for the vector store): a crawl's
    embeddings append without retraining or rewriting the corpus.

    The stored centroids are the contract: new vectors are assigned
    with the SAME _ivf_cell_udf kernel the writer used, so the
    appended store is exactly ``entries(old) ∪ assign(new, stored
    centroids)`` (pinned in tests) and validate_ivf_index's
    re-assignment invariant keeps holding. Centroids deliberately do
    NOT retrain — a retrain would silently re-file every old vector;
    when drift warrants new cells (embedding_drift is the monitor for
    that), rebuild with write_ivf_index.

    Cost is one scan of the NEW batch (assign + partitioned append —
    existing cell-directory files are never rewritten, only new files
    land) plus an id-only column-pruned scan of the stored entries for
    the duplicate-id guard (an id already in the index would serve
    twice from its cell; overlap raises loudly, the append_text_index
    convention).
    """
    spark = emb_new.sparkSession
    entries, cent = read_ivf_index(spark, path)
    if not len(cent):
        raise ValueError(f"{path}: empty centroid relation — not an "
                         "IVF store")
    new = valid_vectors(emb_new).select("vec_id", "embedding")
    dup = (
        new.select("vec_id")
        .join(entries.select("vec_id"), "vec_id", "inner")
        .limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"append_ivf_index: id {dup[0][0]} already stored in "
            f"{path} — appending would double its entry")
    assigned = _ivf_entries(new, cent)
    # eagerly materialise before writing into the directory tree the
    # plan is still lazily reading from (the append_text_index lesson)
    assigned = assigned.localCheckpoint()
    (
        assigned.repartition("cell")
        .write.mode("append").partitionBy("cell")
        .parquet(f"{path}/entries")
    )


def append_pq_index(emb_new: DataFrame, path: str) -> None:
    """Merge a NEW batch of vectors into a stored PQ index: encode the
    batch with the STORED codebooks (the exact _pq_encode_udf kernel
    the writer used) and append the code rows — append_ivf_index's
    sibling for the compressed store. Codebooks deliberately do NOT
    retrain (a retrain would re-code every stored vector); when
    embedding_drift says the subspace quantisation went stale, rebuild
    with write_pq_index. Duplicate ids raise (an id already coded
    would serve twice). Cost: one Arrow encode pass over the batch +
    an id-only scan of the stored codes for the guard.
    """
    spark = emb_new.sparkSession
    codes, books = read_pq_index(spark, path)
    new = valid_vectors(emb_new).select("vec_id", "embedding")
    dup = (
        new.select("vec_id")
        .join(codes.select("vec_id"), "vec_id", "inner")
        .limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"append_pq_index: id {dup[0][0]} already coded in {path}")
    _pq_codes(new, books).write.mode("append").parquet(f"{path}/codes")


def append_ann_index(emb_new: DataFrame, path: str, n_planes: int = 8,
                     n_tables: int = 4) -> None:
    """Merge a NEW batch of vectors into a stored LSH index. The
    hyperplanes are seed-deterministic (no training state: the stored
    width and :data:`LSH_SEED0`), so an append with the writer's
    (n_planes, n_tables) makes the store relation-equal to a full
    write_ann_index over old ∪ new — the strongest append contract of
    the four stores (pinned in tests). ``n_planes``/``n_tables`` must
    match the write, as for lsh_topk_indexed; a mismatch would file the
    batch under different hyperplanes. Duplicate ids raise. Existing
    tbl partition files are never rewritten — only new files land.
    """
    spark = emb_new.sparkSession
    index = read_ann_index(spark, path)
    # the store does not record (planes, tables), but its WIDTH is
    # observable: refuse a batch whose vectors differ from the stored
    # width — a mismatched batch would hash under a different
    # hyperplane family and become silently unfindable (review r6)
    stored_dims = _probe_dims(index, "embedding")
    new = valid_vectors(emb_new)
    batch_dims = _probe_dims(new, "embedding")
    if batch_dims != stored_dims:
        raise ValueError(
            f"append_ann_index: batch vectors are {batch_dims}-wide but "
            f"{path} stores {stored_dims}-wide vectors")
    dup = (
        new.select("vec_id")
        .join(index.select("vec_id").distinct(), "vec_id", "inner")
        .limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"append_ann_index: id {dup[0][0]} already indexed in {path}")
    h = hyperplane_buckets_udf(stored_dims, n_planes, n_tables)
    (
        _lsh_postings(new, h, "vec_id", "embedding")
        .repartition("tbl")
        .sortWithinPartitions("bucket")
        .write.mode("append").partitionBy("tbl").parquet(path)
    )
