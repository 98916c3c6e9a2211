"""Hybrid retrieval: a lexical BM25 leg and a vector cosine leg fused
by reciprocal-rank fusion (late-r6 staging; r7/r8 driver-slot candidate).

Reference parity: kreeben/resin answers text queries by embedding the
query string and searching its vector graph
(src/Resin.MachineLearning/GraphSearcher.cs) — a single-leg semantic
search. A production retrieval stack over a 100 TB corpus runs BOTH a
lexical leg (inverted-index BM25) and a vector leg (ANN over
embeddings) and fuses the two rankings; this operator is that composed
face over the engine's two already-oracle-green legs
(textops.bm25_search = C38, similarity.brute_topk = E1).

Fusion is reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
2009): rrf(d) = Σ_legs 1 / (rrf_k + rank_leg(d)), summed over the legs
that returned d, with the standard rrf_k = 60. RRF is the fusion used
when leg scores live on incomparable scales (BM25 term sums vs cosine)
— only ranks cross the boundary.

Exactness: ranks are small integers and 1.0/(rrf_k + rank) is a single
correctly-rounded IEEE division; the two-leg sum is one addition in a
fixed (lex + vec) order — bit-identical across Spark and the DuckDB
oracle, so the fused relation is hash-comparable with no rounding
step.

Scale: each leg is k_each-bounded BEFORE fusion (bm25_search is
TakeOrdered over the |query|-bounded scored relation; brute_topk is a
broadcast-query corpus scan with a per-query top-k window), so the
fusion join touches two ≤ k_each-row relations — the full-outer
equi-join is an exchange of 2·k_each rows regardless of corpus size,
and the final top-k orders ≤ 2·k_each rows. At 100 TB the legs swap in
their persisted-index twins (bm25_topk_indexed = C39, an ANN store =
E17/E18/E21) with identical output contracts; the fusion stage is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resin_spark.operators import similarity
from resin_spark.operators import textops

Tables = dict[str, DataFrame]

HYBRID_QUERY: tuple[str, ...] = textops.BM25_QUERY
HYBRID_QUERY_VEC_ID = 0
HYBRID_TOPK = 20
HYBRID_K_EACH = 50
RRF_K = 60


def hybrid_search_rrf(t: Tables,
                      query: tuple[str, ...] = HYBRID_QUERY,
                      query_vec_id: int = HYBRID_QUERY_VEC_ID,
                      k: int = HYBRID_TOPK,
                      k_each: int = HYBRID_K_EACH,
                      rrf_k: int = RRF_K) -> DataFrame:
    """Top-k documents by RRF over a BM25 leg (bag-of-terms ``query``
    against documents.text) and a cosine leg (the stored embedding with
    vec_id == ``query_vec_id`` against all embeddings), with vec_id
    identified with doc_id. Output: (rank, doc_id, lex_rank, vec_rank,
    rrf_score) — a leg that did not return the doc leaves its rank NULL
    and contributes 0 to the fused score.
    """
    lex = (
        textops.bm25_search(t, query, k=k_each)
        .select("doc_id", F.col("rank").alias("lex_rank"))
    )
    emb = t["embeddings"]
    qside = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_vec"))
    )
    vec = (
        similarity.brute_topk(emb, qside, k=k_each)
        .select(F.col("neighbor_id").alias("doc_id"),
                F.col("rank").alias("vec_rank"))
    )
    return _rrf_fuse(lex, vec, k, rrf_k)


def _rrf_fuse(lex: DataFrame, vec: DataFrame, k: int,
              rrf_k: int) -> DataFrame:
    """Fuse (doc_id, lex_rank) and (doc_id, vec_rank) legs by RRF —
    ONE expression shared by the direct and persisted-index paths so
    their fused relations agree bit-for-bit.

    Full-outer keeps single-leg docs. Spark has no broadcast full-outer
    hash join, but both sides are k_each-bounded so the sort-merge
    exchange moves ≤ 2·k_each rows — corpus-size-independent."""
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id", "lex_rank", "vec_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("lex_rank")),
                       F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("vec_rank")),
                         F.lit(0.0))
        ).alias("rrf_score"),
    )
    top = fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "lex_rank", "vec_rank", "rrf_score")
        .orderBy("rank")
    )


def hybrid_search_indexed(spark, text_index_path: str, ivf_index_path: str,
                          query: tuple[str, ...] = HYBRID_QUERY,
                          query_vec_id: int = HYBRID_QUERY_VEC_ID,
                          k: int = HYBRID_TOPK,
                          k_each: int = HYBRID_K_EACH,
                          rrf_k: int = RRF_K,
                          n_probe: int | None = None) -> DataFrame:
    """hybrid_search_rrf served off PERSISTED stores — the shape a
    100 TB deployment actually runs: the lexical leg reads only the
    query terms' bucket directories of a write_text_index store; the
    vector leg probes a write_ivf_index store (n_probe=None probes
    every cell — complete, row-identical to the direct brute leg at
    the stores' corpus; a lean n_probe trades recall for scan cost,
    priced by ann_recall_report). Fusion is the shared _rrf_fuse
    stage, so at complete probe the output is row-identical to
    hybrid_search_rrf (pinned in tests).
    """
    from resin_spark.operators import textindex as ti

    lex = (
        ti.bm25_topk_indexed(spark, text_index_path, query, k=k_each)
        .select("doc_id", F.col("rank").alias("lex_rank"))
    )
    entries, cent = similarity.read_ivf_index(spark, ivf_index_path)
    qside = (
        entries.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_vec"))
    )
    vec = (
        similarity.ivf_topk_indexed(
            entries, cent, qside, k=k_each,
            n_probe=(len(cent) if n_probe is None else n_probe))
        .select(F.col("neighbor_id").alias("doc_id"),
                F.col("rank").alias("vec_rank"))
    )
    return _rrf_fuse(lex, vec, k, rrf_k)


def hybrid_search_demo(t: Tables) -> DataFrame:
    """Driver-entry form: fixed query terms + fixed stored query vector."""
    return hybrid_search_rrf(t)


def hybrid_search_oracle(query: tuple[str, ...] = HYBRID_QUERY,
                         query_vec_id: int = HYBRID_QUERY_VEC_ID,
                         k: int = HYBRID_TOPK,
                         k_each: int = HYBRID_K_EACH,
                         rrf_k: int = RRF_K) -> str:
    from resin_spark.functions import vectors as V

    bm25 = textops.bm25_search_oracle(query, k=k_each)
    cos = V.cosine_gated_sql("e.embedding", "q.embedding")
    return f"""
    WITH lex AS (
        SELECT doc_id, rank AS lex_rank FROM ({bm25})
    ),
    vemb AS (SELECT * FROM embeddings WHERE {similarity.VALID_VECTORS_SQL}),
    vec AS (
        SELECT neighbor_id AS doc_id, rank AS vec_rank FROM (
            SELECT e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (ORDER BY {cos} DESC, e.vec_id) AS rank
            FROM vemb e, vemb q
            WHERE q.vec_id = {query_vec_id} AND e.vec_id <> q.vec_id
        ) WHERE rank <= {k_each}
    ),
    fused AS (
        SELECT doc_id, lex_rank, vec_rank,
               COALESCE(1.0 / ({rrf_k} + lex_rank), 0.0)
               + COALESCE(1.0 / ({rrf_k} + vec_rank), 0.0) AS rrf_score
        FROM lex FULL OUTER JOIN vec USING (doc_id)
    )
    SELECT rank, doc_id, lex_rank, vec_rank, rrf_score FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
        FROM fused
    ) WHERE rank <= {k}
    ORDER BY rank
    """


MMR_LAMBDA = 0.7
MMR_MAX_K = 10_000


def mmr_rerank(results: DataFrame, emb: DataFrame, k: int | None = None,
               lam: float = MMR_LAMBDA) -> DataFrame:
    """Maximal-marginal-relevance diversity re-rank (Carbonell &
    Goldstein 1998) of a fused result page: greedily pick the doc
    maximising lam·relevance − (1−lam)·max-cosine-to-already-picked,
    so near-duplicate hits stop crowding the page. Input: a relation
    with (doc_id, rrf_score) — hybrid_search_rrf's output shape — plus
    the embeddings table; output (mmr_rank, doc_id, rrf_score,
    max_sim_selected).

    Greedy MMR is inherently sequential in k, so this runs as a
    driver-side numpy loop over the COLLECTED page — bounded by
    construction (a result page is ≤ k_each·legs rows; MMR_MAX_K
    guards against misuse on a corpus-sized relation, the union-find
    gate convention). Relevance is min-max-normalised to [0, 1] so lam
    weighs two commensurable terms. Docs without a stored embedding
    keep relevance order and contribute zero similarity (they cannot
    crowd anything).
    """
    rows = results.select("doc_id", "rrf_score").collect()
    if len(rows) > MMR_MAX_K:
        raise ValueError(
            f"{len(rows)} result rows exceed MMR_MAX_K={MMR_MAX_K}: "
            "MMR is a page re-ranker, not a corpus operator")
    k = len(rows) if k is None else min(k, len(rows))
    spark = results.sparkSession
    if not rows:
        return spark.createDataFrame(
            [], "mmr_rank int, doc_id long, rrf_score double, "
                "max_sim_selected double")
    import numpy as np

    ids = [r["doc_id"] for r in rows]
    vec_rows = {
        r[0]: np.asarray(r[1], dtype=np.float64)
        for r in emb.filter(F.col("vec_id").isin(ids))
        .select("vec_id", "embedding").collect()
        if r[1] is not None
    }
    dim = len(next(iter(vec_rows.values()))) if vec_rows else 1
    m = np.zeros((len(ids), dim))
    for i, d in enumerate(ids):
        v = vec_rows.get(d)
        if v is not None and np.linalg.norm(v) > 0:
            m[i] = v / np.linalg.norm(v)
    sims = m @ m.T
    scores = np.array([r["rrf_score"] for r in rows], dtype=np.float64)
    lo, hi = scores.min(), scores.max()
    rel = np.ones_like(scores) if hi == lo else (scores - lo) / (hi - lo)
    out = []
    n = len(ids)
    # running max-similarity-to-picked vector: O(n) update per pick
    # instead of rebuilding an O(n·|picked|) dict every iteration
    ms = np.zeros(n)
    taken = np.zeros(n, dtype=bool)
    for _ in range(k):
        obj = lam * rel - (1 - lam) * ms
        obj[taken] = -np.inf
        # deterministic tie-break: objective desc, then original order
        best = int(np.lexsort((np.arange(n), -obj))[0])
        taken[best] = True
        out.append((len(out) + 1, ids[best], float(scores[best]),
                    float(ms[best])))
        ms = np.maximum(ms, sims[:, best])
    return spark.createDataFrame(
        out, "mmr_rank int, doc_id long, rrf_score double, "
             "max_sim_selected double")
