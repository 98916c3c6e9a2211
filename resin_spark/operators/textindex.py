"""Persisted inverted text index + indexed BM25 retrieval.

The reference IS an on-disk search index: build once (LexiconBuilder /
GraphBuilder → GraphSerializer writes node pages), then serve queries
by seeking only the pages a query touches (SeekableGraphReader). This
module is that shape for ranked TEXT retrieval: ``write_text_index``
persists the postings relation (term, doc_id, tf) PARTITIONED BY a
term-hash bucket, plus the doc-length relation and the corpus scalars,
and ``bm25_topk_indexed`` answers a query by reading ONLY the buckets
its terms hash into — partition pruning makes query cost proportional
to the query terms' postings, not the corpus. Output is row-identical
to ``textops.bm25_search`` on the same corpus (same rational-idf BM25,
same exact-sum recipe), so the indexed path shares its DuckDB oracle.

Scale: the index build is one tokenise + one (doc, term) aggregate —
the same cost as a single bm25_search — amortised over every later
query; a query reads |query| buckets of |vocab|/n_buckets terms each.
At 100 TB the postings relation partitions across the cluster like any
parquet table, and per-bucket files sorted by term let row-group
min/max statistics prune within a bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from resin_spark.functions import text as T
from resin_spark.operators.textops import (
    BM25_B, BM25_K1, BM25_MAX_K, BM25_QUERY, BM25_TOPK,
)

Tables = dict[str, DataFrame]

N_TERM_BUCKETS = 64


def _term_bucket(term, n_buckets: int = N_TERM_BUCKETS):
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


def _in_term_buckets(terms, n_buckets: int):
    """Partition filter for the buckets ``terms`` hash into: the bucket
    expressions are over literals, so Catalyst constant-folds them and
    the scan plans ``PartitionFilters: [bucket IN (…)]`` — no job."""
    return F.col("bucket").isin(
        [_term_bucket(F.lit(t), n_buckets) for t in terms])


def _postings(docs: DataFrame):
    """(tf, dl) — the two relations a text store holds, derived from
    one tokenise of ``docs``: tf = (term, doc_id, tf, positions), dl =
    (doc_id, dl). Positions are 0-based token offsets, sorted — tf
    rides as their count; the positional payload is what makes phrase
    queries an index probe instead of a corpus scan."""
    toks = (
        docs.filter(F.col("doc_id").isNotNull())
        .select("doc_id",
                F.posexplode(T.tokens("text")).alias("pos", "term"))
    )
    tf = toks.groupBy("term", "doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("positions"),
    ).select("term", "doc_id", F.size("positions").alias("tf"),
             "positions")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    return tf, dl


def write_text_index(docs: DataFrame, path: str,
                     n_buckets: int = N_TERM_BUCKETS) -> None:
    """Persist the inverted index of a corpus:

    - ``{path}/postings``: (term, doc_id, tf) partitioned by
      ``bucket = pmod(xxhash64(term), n_buckets)`` and sorted by term
      within files — a query reads only its terms' bucket directories
      and skips row groups via term min/max stats.
    - ``{path}/doclens``: (doc_id, dl) — the length-normalisation side.
    - ``{path}/stats``: one row (n_docs, total_tokens, n_buckets) —
      avgdl is derived at read time with the same exact division the
      direct operator uses, and n_buckets makes the store
      self-describing: probes and the validator recover the bucket
      function from the stats row instead of trusting the caller to
      re-supply the write-time value (a mismatch silently filed every
      query into the wrong directories).

    Deterministic: same corpus → byte-identical relations.
    """
    tf, dl = _postings(docs)
    (
        tf.withColumn("bucket", _term_bucket(F.col("term"), n_buckets))
        .repartition("bucket")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").partitionBy("bucket").parquet(
            f"{path}/postings")
    )
    dl.write.mode("overwrite").parquet(f"{path}/doclens")
    dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        F.lit(n_buckets).alias("n_buckets"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


POSTINGS_SCHEMA = ("term string, doc_id bigint, tf int, "
                   "positions array<int>, bucket int")
DOCLENS_SCHEMA = "doc_id bigint, dl bigint"


def read_text_index(spark: SparkSession, path: str):
    """(postings, doclens, stats_row) from a write_text_index dir.

    Stats is read FIRST: an index written over a corpus with zero
    tokenized docs has no postings part files at all (partitionBy
    writes nothing for an empty frame), so reading postings before
    checking n_docs would die in schema inference — an empty index
    instead round-trips as typed empty frames."""
    stats = spark.read.parquet(f"{path}/stats").first()
    if stats is None or not stats["n_docs"]:
        return (spark.createDataFrame([], POSTINGS_SCHEMA),
                spark.createDataFrame([], DOCLENS_SCHEMA), stats)
    return (
        spark.read.parquet(f"{path}/postings"),
        spark.read.parquet(f"{path}/doclens"),
        stats,
    )


def stored_n_buckets(stats, fallback: int | None = None) -> int:
    """Bucket count a text index was written with: from the stats row
    (self-describing stores), else ``fallback``, else the module
    default — pre-r6 stores carry no n_buckets column."""
    if stats is not None and "n_buckets" in stats.__fields__ \
            and stats["n_buckets"] is not None:
        return int(stats["n_buckets"])
    return N_TERM_BUCKETS if fallback is None else fallback


def bm25_topk_indexed(spark: SparkSession, path: str,
                      query: tuple[str, ...] = BM25_QUERY,
                      k: int = BM25_TOPK, k1: float = BM25_K1,
                      b: float = BM25_B,
                      n_buckets: int | None = None) -> DataFrame:
    """bm25_search against a persisted index: the postings scan carries
    a bucket partition filter (only the query terms' directories are
    read) plus the term equality filter; df comes from the pruned
    postings themselves. Row-identical to ``textops.bm25_search`` on
    the same corpus and parameters (same expression chain, same
    string→decimal exact sum), so it shares that operator's oracle.
    ``n_buckets`` defaults to the value recorded in the store's stats
    row; pass it only for pre-r6 stores written with a non-default
    count."""
    if k > BM25_MAX_K:
        raise ValueError(
            f"k={k} exceeds BM25_MAX_K={BM25_MAX_K}; rank bm25 scores "
            "downstream instead of asking TakeOrdered for a corpus")
    postings, doclens, stats = read_text_index(spark, path)
    n_docs = stats["n_docs"] if stats else 0
    if not n_docs:
        # an index over zero tokenized docs: avgdl undefined, nothing
        # can match (bm25_scores' empty corpus, where bm25_stats keeps
        # no term)
        return spark.createDataFrame(
            [], "rank int, doc_id long, n_hits long, score double")
    n_buckets = stored_n_buckets(stats, n_buckets)
    avgdl = stats["total_tokens"] / stats["n_docs"]
    tf = postings.filter(
        _in_term_buckets(query, n_buckets) & F.col("term").isin(list(query)))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k11, one_minus_b = k1 + 1.0, 1.0 - b
    idf = ((F.lit(n_docs) - F.col("df")).cast("double") + 0.5) \
        / (F.col("df").cast("double") + 0.5)
    ratio = F.col("dl").cast("double") / F.lit(avgdl)
    denom = F.col("tf").cast("double") \
        + F.lit(k1) * (F.lit(one_minus_b) + F.lit(b) * ratio)
    score_t = idf * ((F.col("tf").cast("double") * F.lit(k11)) / denom)
    per_doc = (
        tf.join(broadcast(df), "term")
        .join(doclens, "doc_id")
        .select("doc_id", score_t.alias("score_t"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum(F.col("score_t").cast("string").cast("decimal(28,15)"))
            .cast("double").alias("score"),
        )
    )
    top = per_doc.orderBy(F.col("score").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "n_hits", "score")
        .orderBy("rank")
    )


def phrase_topk_indexed(spark: SparkSession, path: str,
                        phrase: tuple[str, ...] = None,
                        k: int = None,
                        n_buckets: int | None = None) -> DataFrame:
    """textops.phrase_search against the persisted positional index:
    the probe reads ONLY the phrase terms' bucket directories, then
    counts adjacency by iterated position-set intersection —
    S_1 = positions(term_1); S_j = (S_{j-1} + 1) ∩ positions(term_j);
    occurrences = |S_n| shifted back to start positions. Row-identical
    to phrase_search on the same corpus (same tokenizer, same ranking),
    so it shares that operator's oracle. Query cost ∝ the phrase
    terms' postings — a phrase query never rescans the corpus.

    Repeated phrase terms work unchanged: a term's position set
    intersected with its own shifted self counts exactly the
    consecutive repeats."""
    from resin_spark.operators.textops import (
        BM25_MAX_K, PHRASE_QUERY, PHRASE_TOPK,
    )

    phrase = tuple(phrase or PHRASE_QUERY)
    k = PHRASE_TOPK if k is None else k
    if not phrase:
        raise ValueError("phrase must contain at least one term")
    if k > BM25_MAX_K:
        raise ValueError(f"k={k} exceeds BM25_MAX_K={BM25_MAX_K}")
    postings, doclens, stats = read_text_index(spark, path)
    n_buckets = stored_n_buckets(stats, n_buckets)
    pruned = postings.filter(
        _in_term_buckets(phrase, n_buckets)
        & F.col("term").isin(list(set(phrase))))
    # one side per phrase slot; a term repeated in the phrase reuses
    # its (single) posting row per doc under a different alias
    joined = None
    for i, t in enumerate(phrase):
        side = pruned.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"pos_{i}"))
        joined = side if joined is None else joined.join(side, "doc_id")
    surv = F.col("pos_0")
    for i in range(1, len(phrase)):
        surv = F.array_intersect(
            F.transform(surv, lambda x: x + 1), F.col(f"pos_{i}"))
    scored = (
        joined.select("doc_id", F.size(surv).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
        .join(doclens, "doc_id")
        .select("doc_id", "n_occurrences", F.col("dl").alias("n_tokens"))
    )
    top = scored.orderBy(F.col("n_occurrences").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "n_occurrences", "n_tokens")
        .orderBy("rank")
    )


def append_text_index(docs_new: DataFrame, path: str) -> None:
    """Merge a NEW batch of documents into a stored text index —
    the continuous-ingest maintenance shape (write_dedup_index's
    incremental counterpart for search): a crawl appends its docs
    without rebuilding the corpus-wide index.

    Equivalent by contract to ``write_text_index(old ∪ new)`` — pinned
    relation-for-relation in tests/test_textindex.py. The cost is
    proportional to the NEW batch plus the bucket directories its
    terms touch, never the whole index:

    - new postings/doclens derive from one tokenise of the batch;
    - only the term-hash bucket partitions the batch's terms hash into
      are rewritten (dynamic partition overwrite — untouched bucket
      directories keep their files byte-identical, the seek-side I/O
      win persists across appends);
    - the affected stored postings are eagerly materialised
      (localCheckpoint) before the overwrite, because Spark cannot
      overwrite a partition it is still lazily reading from — the held
      rows are bucket-scoped, ~|touched vocab|/n_buckets of the index;
    - doclens appends; stats recomputes from the appended doclens (one
      aggregate), preserving the stored n_buckets.

    Batch doc_ids must be NEW: a doc_id already in the index would
    double its postings, so overlap raises loudly (one |doclens|-row
    semi-join to check — the validator's ids_duplicated invariant,
    enforced at write time).
    """
    spark = docs_new.sparkSession
    postings, doclens, stats = read_text_index(spark, path)
    n_buckets = stored_n_buckets(stats)
    new_ids = docs_new.filter(F.col("doc_id").isNotNull()) \
        .select("doc_id").distinct()
    n_overlap = new_ids.join(doclens, "doc_id").count()
    if n_overlap:
        raise ValueError(
            f"append_text_index: {n_overlap} doc_ids already indexed at "
            f"{path}; incremental appends require fresh ids (re-crawls "
            "of existing docs need corpus_delta + rebuild of affected "
            "docs, not a blind append)")
    tf_new, dl_new = _postings(docs_new)
    tf_new = tf_new.withColumn("bucket",
                               _term_bucket(F.col("term"), n_buckets))
    affected = [r["bucket"] for r in
                tf_new.select("bucket").distinct().collect()]
    if affected:
        kept = postings.filter(F.col("bucket").isin(affected)) \
            .select("term", "doc_id", "tf", "positions", "bucket") \
            .localCheckpoint()
        (
            kept.unionByName(tf_new)
            .repartition("bucket")
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket").parquet(f"{path}/postings")
        )
    dl_new.write.mode("append").parquet(f"{path}/doclens")
    (
        spark.read.parquet(f"{path}/doclens")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
            F.lit(n_buckets).alias("n_buckets"),
        )
        .coalesce(1).localCheckpoint()
        .write.mode("overwrite").parquet(f"{path}/stats")
    )
