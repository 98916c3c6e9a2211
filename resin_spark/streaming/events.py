"""Event-table pipelines (SURVEY.md §2 block G).

Batch versions are the oracle-checked semantics; the structured
streaming variant (:func:`stream_hourly_rollup`) runs the same
windowed aggregation over ``readStream`` with a watermark, so the
batch results double as the expected output of the stream.

Timestamps are emitted as epoch seconds (bigint) so the correctness
hash is independent of timezone rendering differences between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resin_spark.functions.exact import dsum
from resin_spark.io import file_stream

Tables = dict[str, DataFrame]


def hourly_rollup(t: Tables) -> DataFrame:
    """Tumbling 1-hour window count/sum per event_type.

    ``window()`` keeps the aggregation map-side partial; the shuffle
    carries only (type × hour) groups. Identical shape runs under
    structured streaming (see stream_hourly_rollup).
    """
    # null-ts rows (corrupt ingest) are dropped EXPLICITLY: F.window
    # silently drops them anyway, but SQL engines keep a null group, so
    # the filter is what makes the semantics engine-independent.
    e = t["events"].filter(F.col("ts").isNotNull())
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", scale=4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("hour_start", "event_type")
    )


def hourly_rollup_oracle() -> str:
    return """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY hour_start, event_type
    """


def sessionize(t: Tables, gap_minutes: int = 30) -> DataFrame:
    """Gaps-and-islands sessionisation: a new session starts when a user
    is idle longer than ``gap_minutes``.

    One shuffle on user_id; both windows reuse the same partitioning
    (Catalyst plans a single exchange). No driver-side iteration — the
    cumulative-sum trick keeps it fully distributed.
    """
    gap = gap_minutes * 60
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # sessionisation partitions on user_id and orders on ts: null rows
    # (corrupt ingest) would sort engine-dependently — drop them
    e = (
        t["events"]
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id", "value")
        .withColumn("prev_ts", F.lag("ts").over(by_user))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > gap)
            ).cast("int"),
        )
        .withColumn("session_id", F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return (
        e.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_timestamp(F.min("ts")).alias("session_start"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("duration_sec"),
        )
        .orderBy("user_id", "session_id")
    )


def sessionize_oracle(gap_minutes: int = 30) -> str:
    gap = gap_minutes * 60
    return f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {gap}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_sec
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """


def props_json(t: Tables) -> DataFrame:
    """Extract the JSON ``props.k`` field and aggregate per event_type —
    semi-structured extraction stays JVM-side (get_json_object).

    ``k`` counts only INTEGRAL values (digit-run strings after JSON
    extraction): engine-native casts diverge on everything else —
    Spark's string→bigint truncates '3.5' while DuckDB's TRY_CAST
    rounds it to 4, and DuckDB's plain CAST throws on 'v' where Spark
    yields NULL (r7 rel-fuzz seed 9000) — so both sides gate on the
    same ^-?digits$ shape and try_cast only that."""
    v = F.get_json_object("props", "$.k")
    e = t["events"].select(
        "event_type",
        F.when(v.rlike("^-?[0-9]+$"), v.try_cast("bigint")).alias("k"),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def props_json_oracle() -> str:
    # json_valid guard: Spark's get_json_object is NULL on malformed
    # JSON (the right semantic for a scrubbing pipeline — one bad row
    # must not kill the job); DuckDB's json_extract THROWS, so the
    # oracle needs the explicit guard to express the same semantics.
    # json_extract_string mirrors get_json_object's string-unquoting;
    # the integral-shape regexp + TRY_CAST mirrors the engine's gate
    # (see props_json — native casts diverge on fractional strings).
    return """
    SELECT event_type,
           COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM (
        SELECT event_type,
               CASE WHEN json_valid(props)
                         AND regexp_matches(
                             json_extract_string(props, '$.k'),
                             '^-?[0-9]+$')
                    THEN TRY_CAST(json_extract_string(props, '$.k')
                                  AS BIGINT) END AS k
        FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
    """


def _event_stream(spark: SparkSession, events_parquet_dir: str):
    """readStream over an events parquet directory with the same ns→µs
    timestamp handling as the batch loader.

    nanosAsLong is an SQL conf (parquet exposes no per-reader option for
    it), so it is set only around the one-off schema inference and then
    restored — constructing a stream must not change how unrelated batch
    reads in the same session interpret ns timestamp columns."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        schema = spark.read.parquet(events_parquet_dir).schema
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    stream = file_stream(spark, events_parquet_dir, schema)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP (with local tz); an NTZ→LTZ cast
        # interprets the wall-clock in the session timezone — the same
        # interpretation unix_timestamp() applies to NTZ on the batch
        # side, so stream and batch epoch values agree.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def stream_sessionize(spark: SparkSession, events_parquet_dir: str,
                      gap_minutes: int = 30, watermark: str = "2 hours"):
    """Streaming sessionisation with the built-in ``session_window`` —
    Spark's native stateful merge of per-user activity windows (the
    idiomatic alternative to hand-rolled applyInPandasWithState state).

    Sessions finalize and emit (append mode) once the event-time
    watermark passes their close; the gaps-and-islands batch
    :func:`sessionize` is the reference output — every emitted session
    must appear there (tested), with only sessions still inside the
    watermark horizon allowed to be pending.
    """
    stream = _event_stream(spark, events_parquet_dir)
    # NULL-user gate: the batch gaps-and-islands sessionize (and its
    # driver-checked oracle) drops NULL user_id, while session_window's
    # groupBy would keep a NULL-user group — apply the batch semantics
    # JVM-side (r7 stream-fuzz find, seed 13001)
    return (
        stream.filter(F.col("user_id").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.unix_timestamp(F.min("ts")).alias("session_start"))
        .select("user_id", "session_start", "n_events")
    )


def stream_user_running_totals(spark: SparkSession, events_parquet_dir: str):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count and latest event time, carried in
    explicit group state across micro-batches (update mode — each batch
    emits the refreshed cumulative row for every user it touched).

    This is the hand-rolled-state path the built-in ``window`` /
    ``session_window`` aggregations can't express — arbitrary per-key
    accumulators (counters here; a real pipeline swaps in dedup caches,
    rate limiters, online sketches). State is a single (count, max_us)
    pair per user: micro-batch input is Arrow-batched pandas, state
    lookups are O(1) per key, and the shuffle is the standard
    hash-partition on the group key — identical scaling behavior to the
    built-in stateful operators at 1000 executors.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _event_stream(spark, events_parquet_dir)

    def update(key, pdfs, state: GroupState):
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # event-time max as epoch micros (int — state schema stays flat)
            us = (pdf["ts"].astype("int64") // 1000).max()
            last_us = max(last_us, int(us))
        state.update((n, last_us))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "last_seen_us": [last_us]}
        )

    return (
        stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, last_seen_us long",
            stateStructType="n long, last_us long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_hourly_rollup(spark: SparkSession, events_parquet_dir: str,
                         watermark: str = "2 hours"):
    """Structured-streaming twin of :func:`hourly_rollup`.

    Reads the events parquet directory as a stream (one file per
    trigger), applies a watermark for late data, and aggregates into
    tumbling 1-hour windows. Returns the streaming DataFrame; callers
    attach their own sink (tests use format('memory') +
    trigger(availableNow=True) and compare against the batch result).
    """
    stream = _event_stream(spark, events_parquet_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             # same decimal-exact sum as the batch face, so the full
             # batch row (incl. sum_value) rebuilds from the stream
             dsum("value", scale=4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_exact(spark: SparkSession, docs_parquet_dir: str):
    """Streaming exact dedup — the streaming twin of the batch
    dedup_exact (D1): documents arrive as a file stream and only the
    FIRST occurrence of each content hash is emitted; later copies, in
    the same or any later micro-batch, are dropped by Spark's stateful
    dropDuplicates (state = the seen-hash set, hash-partitioned across
    executors exactly like a batch groupBy).

    This is the online form a continuous ingestion pipeline runs: dedup
    against everything already ingested without re-reading it. No
    watermark is set, so state is unbounded by design here (content
    hashes live forever, as an ingestion ledger must); a real deploy
    with bounded re-crawl windows adds ``withWatermark`` on an event
    time to age state out.
    """
    stream = file_stream(spark, docs_parquet_dir)
    return (
        stream.withColumn("content_hash", F.md5("text"))
        .dropDuplicates(["content_hash"])
        .select("doc_id", "content_hash")
    )


def stream_near_dedup(spark: SparkSession, docs_parquet_dir: str,
                      index_docs, n: int = 3, num_perm: int = 128,
                      bands: int = 32, tau: float = 0.5, seed: int = 42):
    """Streaming NEAR-duplicate detection: documents arrive as a file
    stream and each is checked against a static minhash-LSH index of the
    already-ingested corpus — the ingestion-time twin of the batch
    ``minhash_lsh_pairs`` (D3), sharing its index (``dedup.lsh_index``),
    its banding expression, and its exact-Jaccard verification, so a
    pair flagged here is exactly a pair the batch job would flag.

    Shape: the stream side computes its shingle-hash set PER ROW
    (``shingle_hashes_from_tokens`` — no groupBy, so no watermark
    gymnastics), minhashes it with the same Arrow UDF, explodes its band
    hashes, and stream-static joins the corpus band table on
    (band, band_hash). Candidates that share a band are verified with
    exact Jaccard over the hashed shingle sets; ``dropDuplicates`` on
    (doc_id, dup_of) collapses pairs that collide in several bands
    (stateful, unbounded by design — an ingestion ledger; bounded
    deploys add a watermark). The static side is localCheckpoint'ed
    once, so per-micro-batch re-evaluation reads a materialised RDD
    instead of re-shingling the corpus.

    Output (append mode): (doc_id, dup_of, jaccard) — every stream doc
    paired with each corpus doc whose verified Jaccard ≥ tau.
    """
    from resin_spark.functions import text as T
    from resin_spark.operators import dedup as D

    idx_hashes, idx_bands = D.lsh_index(index_docs, n, num_perm, bands, seed)
    idx_bands = idx_bands.select(
        F.col("doc_id").alias("dup_of"), "band", "band_hash"
    ).localCheckpoint(eager=False)
    idx_hashes = idx_hashes.select(
        F.col("doc_id").alias("dup_of"), F.col("hashes").alias("dup_hashes")
    )

    stream = file_stream(spark, docs_parquet_dir)
    sig = D._minhash_udf(num_perm, seed)
    docs = (
        stream.select("doc_id", T.tokens("text").alias("tk"))
        .select("doc_id", D.shingle_hashes_from_tokens("tk", n).alias("hashes"))
        .filter(F.size(F.col("hashes")) > 0)
        .withColumn("sig", sig("hashes"))
    )
    banded = docs.select(
        "doc_id", "hashes",
        F.posexplode(D._band_hash_array("sig", num_perm, bands))
        .alias("band", "band_hash"),
    )
    return (
        banded.join(idx_bands, ["band", "band_hash"])
        .filter(F.col("doc_id") != F.col("dup_of"))
        .select("doc_id", "dup_of", "hashes")
        .join(idx_hashes, "dup_of")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("hashes", "dup_hashes"))
            / F.size(F.array_union("hashes", "dup_hashes")),
        )
        .filter(F.col("jaccard") >= tau)
        .select("doc_id", "dup_of", "jaccard")
        .dropDuplicates(["doc_id", "dup_of"])
    )


def stream_hll_registers(spark: SparkSession, events_parquet_dir: str):
    """Streaming HLL: accumulate the deterministic distinct-count
    registers across micro-batches — the "sketch as streaming state"
    form a continuous ingestion pipeline keeps per metric.

    The aggregation is the SAME expression as the batch sketch
    (operators/sketch.hll_registers), run as a stateful groupBy-max:
    state is bounded at |event_types| × 256 rows FOREVER (register
    max-merge is idempotent and monotone — no watermark needed, unlike
    count-style state), and after any prefix of the stream the state
    equals the batch registers over the events seen so far, so the
    final estimates equal hll_distinct's bit-for-bit (pinned in
    tests/test_streaming_io.py). Complete-mode output: the register
    table IS the result.
    """
    from resin_spark.operators.sketch import hll_registers

    stream = file_stream(spark, events_parquet_dir)
    return hll_registers(stream.filter(F.col("user_id").isNotNull()))


def stream_cms_counters(spark: SparkSession, docs_parquet_dir: str):
    """Streaming Count-Min: accumulate the deterministic frequency
    counters across document micro-batches. Same shared expression as
    the batch sketch (operators/sketch.cms_counters) as a stateful
    groupBy-sum: state is bounded at d × w rows forever (counter
    addition is the sketch merge), and after any stream prefix the
    counter table equals the batch counters over the documents seen so
    far (pinned in tests/test_streaming_io.py). Complete-mode output.
    """
    from resin_spark.operators.sketch import cms_counters

    stream = file_stream(spark, docs_parquet_dir)
    from resin_spark.functions.text import tokens

    toks = (
        stream.filter(F.col("doc_id").isNotNull())
        .select(F.explode(tokens("text")).alias("tok"))
    )
    return cms_counters(toks)
