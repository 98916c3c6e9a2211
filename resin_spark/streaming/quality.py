"""Streaming twins of the batch operators: each arriving document (or
vector) is scored or classified against a FROZEN artifact built from
the already-ingested corpus, the way a production ingestion gate
deploys a KenLM/CCNet scorer, a language filter or a standing search
profile.

Each twin runs the batch operator's own code on the stream: the token
array is the batch ``tk`` (functions/text.prepare_documents), and every
score, bits value and prior comes from the batch frames and
expressions (textops.bm25_stats / bm25_score_rows and phrase_matches;
traindata.unigram_bits_frame, bigram_bits_frames and nb_model_frames).
BM25 and phrase matching are row-local Spark expressions end to end.
The three LM scorers (unigram, bigram, Naive Bayes) look tokens up in a
vocabulary-sized dict broadcast once and share one Arrow-batched
mapInPandas pass (:func:`_score_tokens`) whose Python body does only the
lookups and integer micro-bit sums: a Spark map lookup (element_at on a
broadcast map) scans the map linearly, ~229 s for 400k lookups in a
65,536-key map on local[4], where a dict takes milliseconds. No twin
holds stream-side state or shuffles, unless its batch face is an
aggregate (manifest, boilerplate keywords), and every file source is
:func:`resin_spark.io.file_stream`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resin_spark.io import file_stream
from resin_spark.operators import textops as tx
from resin_spark.operators import traindata as td

VOCAB_CAP = 1 << 16


def _micro(bits: float) -> int:
    """A 6-dp bits value as an exact integer number of micro-bits."""
    return round(bits * 1e6)


def _unigram_table(bits_uni: DataFrame, vocab_cap: int, min_tf: int = 1):
    """(bits_by_token, oov_bits) from a unigram_bits_frame: the
    ``vocab_cap`` highest-tf tokens (ties: token asc) with tf >=
    ``min_tf``. An empty model has no singleton prior; its OOV value is
    0."""
    rows = (
        bits_uni.filter(F.col("tf") >= min_tf)
        .orderBy(F.col("tf").desc(), "tok")
        .limit(vocab_cap)
        .select("tok", "bits", "oov_bits")
        .collect()
    )
    oov_bits = rows[0]["oov_bits"] if rows else 0.0
    return {r["tok"]: r["bits"] for r in rows}, oov_bits


def _score_tokens(arrays: DataFrame, model, score, schema: str) -> DataFrame:
    """One mapInPandas pass scoring each row's token array ``tk``
    against a broadcast dict ``model``: the output row is every other
    column of ``arrays``, passed through, followed by ``score(model,
    tk)``. ``arrays`` is a batch token-array frame, so NULL and
    zero-token rows are already gone JVM-side (Arrow would hand a NULL
    long to pandas as NaN, where an ``is None`` guard never fires)."""
    import pandas as pd

    bc = arrays.sparkSession.sparkContext.broadcast(model)
    keys = [c for c in arrays.columns if c != "tk"]
    names = [f.split()[0] for f in schema.split(",")]

    def run(batches):
        m = bc.value
        for pdf in batches:
            rows = zip(*(pdf[c] for c in keys), pdf["tk"])
            yield pd.DataFrame([(*k, *score(m, tk)) for *k, tk in rows],
                               columns=names)

    return arrays.mapInPandas(run, schema)


def build_unigram_lm(docs: DataFrame, vocab_cap: int = VOCAB_CAP,
                     min_tf: int = 1):
    """(bits_by_token, oov_bits): the frozen scorer artifact.

    The values are traindata.unigram_bits_frame's — the frame the
    batch ``quality_perplexity`` scores with — so streaming scores over
    in-vocabulary text equal the batch output bit-for-bit. The
    vocabulary keeps the ``vocab_cap`` highest-tf tokens (ties: token
    asc); any other token scores ``oov_bits`` — the information content
    of a singleton (−log2 1/total), the standard pessimistic OOV prior.

    The collect is vocab-sized (≤ vocab_cap rows), never corpus-sized.
    The top-cap's TakeOrdered merge ships at most partitions × cap
    rows to the driver; a web-scale vocabulary (garbage tokens make it
    ~|corpus tokens| in the limit) should first drop the hapax tail
    with ``min_tf >= 2`` — the filter runs before the ordered take, so
    the merge only ever sees the surviving vocabulary. min_tf stays 1
    by default because the exact batch-parity contract needs every
    corpus token in vocabulary.
    """
    return _unigram_table(td.unigram_bits_frame(td._doc_tokens(docs)),
                          vocab_cap, min_tf)


def stream_quality_score(spark: SparkSession, docs_parquet_dir: str,
                         lm_docs: DataFrame,
                         vocab_cap: int = VOCAB_CAP) -> DataFrame:
    """Score a document stream with a static unigram LM built from
    ``lm_docs``: (doc_id, n_tokens, bits_per_token), append mode.

    Per-row scoring only — look each token up in the broadcast bits
    table, sum exact integer micro-bits, HALF_UP-round the mean — so
    there is no watermark, no state store, and no shuffle on the stream
    side; docs with zero tokens are dropped (the batch twin's explode
    semantics). On a shared-vocabulary corpus the emitted rows equal
    the batch ``quality_perplexity`` output exactly (pinned in
    tests/test_streaming_io.py); unseen tokens score the OOV prior.
    """
    bits_by_token, oov_bits = build_unigram_lm(lm_docs, vocab_cap)
    model = ({t: _micro(b) for t, b in bits_by_token.items()},
             _micro(oov_bits))

    def score(m, tk):
        table, oov = m
        return (sum(table.get(t, oov) for t in tk),)

    arrays = td._doc_token_arrays(file_stream(spark, docs_parquet_dir))
    # The mean rounds in INTEGER micro-bits — floor((2·micro+n)/(2n))
    # is exact HALF_UP of micro/n (bits are non-negative) — because
    # the batch side (exact.dravg) half-up-rounds the exact DECIMAL
    # quotient: a float mean is off by an ulp on exact .5-at-the-7th-
    # digit ties (r7 stream-fuzz, seed 13002: 4.041214 vs 4.041215)
    return _score_tokens(
        arrays.select("doc_id", F.size("tk").alias("n_tokens"), "tk"),
        model, score, "doc_id long, n_tokens long, micro long",
    ).select(
        "doc_id", "n_tokens",
        (F.expr("(2 * micro + n_tokens) div (2 * n_tokens)")
         .cast("double") / 1_000_000).alias("bits_per_token"),
    )


BIGRAM_CAP = 1 << 18


def build_bigram_lm(docs: DataFrame, bigram_cap: int = BIGRAM_CAP,
                    vocab_cap: int = VOCAB_CAP):
    """(bits_by_bigram, bits_by_token, oov_bits): the frozen KN-bigram
    scorer artifact (streaming twin of traindata.quality_perplexity_bigram).

    Every value comes from the SAME frames the batch operator scores
    with (traindata.bigram_bits_frames), so streaming scores over
    fully-covered text equal the batch output bit-for-bit. The bigram
    table keeps the ``bigram_cap`` highest-c12 types (ties: (w1, w2)
    asc), the unigram table the ``vocab_cap`` highest-tf tokens; both
    collects are vocabulary-sized, never corpus-sized. Backoff at
    score time: an unseen bigram falls back to the unigram bits of its
    RIGHT word (stupid backoff, α = 1), an unseen word to the singleton
    OOV prior — same spirit as the unigram twin's prior, and irrelevant
    to the batch-parity pin, which covers the full vocabulary.
    """
    bits_bi, bits_uni = td.bigram_bits_frames(td._doc_token_arrays(docs))
    bi_rows = (
        bits_bi.orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(bigram_cap).select("w1", "w2", "bits").collect()
    )
    bits_by_bigram = {(r["w1"], r["w2"]): r["bits"] for r in bi_rows}
    return (bits_by_bigram, *_unigram_table(bits_uni, vocab_cap))


def stream_quality_score_bigram(spark: SparkSession, docs_parquet_dir: str,
                                lm_docs: DataFrame,
                                bigram_cap: int = BIGRAM_CAP,
                                vocab_cap: int = VOCAB_CAP) -> DataFrame:
    """Score a document stream with the frozen bigram LM:
    (doc_id, n_tokens, bits_total), append mode.

    Per-row scoring only (first-token unigram lookup + adjacent-bigram
    lookups → exact integer micro-bits sum) — no watermark, no state,
    no stream-side shuffle. bits_total is an integer number of
    micro-bits divided by 1e6 — exactly the batch operator's
    decimal(18,6) sum — so on a shared-vocabulary corpus the emitted
    rows equal the batch quality_perplexity_bigram output row-for-row
    (pinned in tests/test_streaming_io.py).
    """
    bits_bi, bits_uni, oov = build_bigram_lm(lm_docs, bigram_cap, vocab_cap)
    model = ({k: _micro(b) for k, b in bits_bi.items()},
             {t: _micro(b) for t, b in bits_uni.items()}, _micro(oov))

    def score(m, tk):
        table_bi, table_uni, oov_micro = m
        micro = table_uni.get(tk[0], oov_micro)
        for w1, w2 in zip(tk, tk[1:]):
            b = table_bi.get((w1, w2))
            micro += table_uni.get(w2, oov_micro) if b is None else b
        return (micro,)

    arrays = td._doc_token_arrays(file_stream(spark, docs_parquet_dir))
    return _score_tokens(
        arrays.select("doc_id", F.size("tk").alias("n_tokens"), "tk"),
        model, score, "doc_id long, n_tokens long, micro long",
    ).select("doc_id", "n_tokens",
             (F.col("micro") / 1_000_000).alias("bits_total"))


def build_nb_model(docs: DataFrame, vocab_cap: int = VOCAB_CAP):
    """(bits_by_lang_tok, per_lang): the frozen Naive-Bayes language
    classifier artifact (streaming twin of traindata.nb_lang_classify).

    The relations come STRAIGHT from traindata.nb_model_frames — the
    same frames the batch operator scores with and write_nb_model
    persists — filtered to the ``vocab_cap`` highest-global-tf tokens
    (ties: token asc), so streaming scores over in-vocabulary text
    equal the batch output bit-for-bit by construction (no duplicated
    smoothing/rounding recipe to drift). A (lang, tok) pair absent
    from the table scores that language's oov_bits, which IS the batch
    value for a zero-count pair ((0+1)/(n_lang+V)). Both collects are
    vocabulary-sized, never corpus-sized.
    """
    model, cand, cnt = td.nb_model_frames(docs, with_counts=True)
    # global tf from the already-checkpointed (lang, tok, c) counts —
    # no third corpus scan for the vocab cap
    kept = (
        cnt.groupBy("tok").agg(F.sum("c").alias("gtf"))
        .orderBy(F.col("gtf").desc(), "tok").limit(vocab_cap)
        .select("tok")
    )
    model_rows = model.join(F.broadcast(kept), "tok").collect()
    lang_rows = cand.collect()
    bits_by_lang_tok = {(r["cand"], r["tok"]): r["bits"] for r in model_rows}
    per_lang = {r["cand"]: (r["prior_bits"], r["oov_bits"])
                for r in lang_rows}
    return bits_by_lang_tok, per_lang


def stream_lang_classify(spark: SparkSession, docs_parquet_dir: str,
                         model_docs: DataFrame,
                         vocab_cap: int = VOCAB_CAP) -> DataFrame:
    """Classify a document stream with the frozen NB language model:
    (doc_id, true_lang, pred_lang, best_bits, correct), append mode.

    Per-row scoring only — fold integer micro-bits per candidate
    language, argmin with language-ascending tie-break — no watermark,
    no state store, no stream-side shuffle. On a shared-vocabulary
    corpus the emitted rows equal the batch ``nb_lang_classify`` output
    exactly (pinned in tests/test_streaming_io.py); tokens outside the
    model score each language's OOV prior, which is also the batch
    zero-count value.
    """
    table, per_lang = build_nb_model(model_docs, vocab_cap)
    model = ({k: _micro(b) for k, b in table.items()},
             [(lang, _micro(prior), _micro(oov))
              for lang, (prior, oov) in sorted(per_lang.items())])

    def score(m, tk):
        tbl, langs = m
        best = None
        for lang, prior, oov in langs:
            micro = prior + sum(tbl.get((lang, t), oov) for t in tk)
            if best is None or micro < best[1]:
                best = (lang, micro)
        return best

    arrays = td._labelled_token_arrays(file_stream(spark, docs_parquet_dir))
    return _score_tokens(
        arrays.select("doc_id", F.col("lang").alias("true_lang"), "tk"),
        model, score,
        "doc_id long, true_lang string, pred_lang string, micro long",
    ).select(
        "doc_id", "true_lang", "pred_lang",
        (F.col("micro") / 1_000_000).alias("best_bits"),
        (F.col("pred_lang") == F.col("true_lang")).alias("correct"),
    )


# --- streaming BM25 (ingestion-time twin of textops.bm25_search) -------------

def stream_bm25_score(spark: SparkSession, docs_parquet_dir: str,
                      model_docs: DataFrame, query=None,
                      k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Score a document stream against a frozen BM25 model:
    (doc_id, n_hits, score), append mode — the ingestion-time ranked
    filter ("does this new doc match the standing query profile").

    The model is textops.bm25_stats over ``model_docs`` (the deduped
    query's document frequencies, n_docs, avgdl), and the stream is
    scored by the batch projection itself (textops.bm25_score_rows),
    so on a shared corpus the emitted rows equal batch bm25_scores
    bit-for-bit (pinned in tests). No watermark, no state store, no
    stream-side shuffle. Query terms unseen in the model corpus
    (df=0) are dropped from the query — no idf is defined for them;
    docs with zero query-term hits emit nothing, and an empty model
    emits no rows.
    """
    stats = tx.bm25_stats(model_docs, tuple(query or tx.BM25_QUERY))
    return tx.bm25_score_rows(file_stream(spark, docs_parquet_dir),
                              stats, k1, b)


def stream_phrase_match(spark: SparkSession, docs_parquet_dir: str,
                        phrase=None) -> DataFrame:
    """Streaming exact-phrase matcher: (doc_id, n_occurrences,
    n_tokens) for arriving docs containing the phrase — the
    ingestion-time routing face of textops.phrase_search, which ranks
    the same row-local relation (textops.phrase_matches): no
    watermark, no state, no shuffle. Emitted rows equal the batch
    operator's pre-top-k scored relation bit-for-bit (integer counts;
    pinned in tests)."""
    return tx.phrase_matches(file_stream(spark, docs_parquet_dir),
                             tuple(phrase or tx.PHRASE_QUERY))


def stream_corpus_delta(spark: SparkSession, docs_parquet_dir: str,
                        old_snapshot: DataFrame) -> DataFrame:
    """Classify a document stream against a FROZEN snapshot fingerprint
    relation: each arriving doc emits (doc_id, status, old_md5,
    new_md5) with status ∈ added | modified | unchanged — the
    ingestion-time face of pipeline.corpus_delta (batch compares two
    complete snapshots; the stream classifies docs as they arrive, so
    'removed' is definitionally out of scope — absence never arrives).

    The old snapshot collapses to its (doc_id, md5) projection once
    and joins stream-static per micro-batch (broadcastable when it
    fits; Spark re-plans the static side per batch otherwise); the
    stream side computes md5 row-locally. Emitted rows equal the batch
    corpus_delta rows for every streamed doc_id (pinned in tests).
    """
    old = old_snapshot.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", F.md5("text").alias("old_md5")
    ).withColumn("_o", F.lit(1))
    stream = file_stream(spark, docs_parquet_dir)
    return (
        stream.filter(F.col("doc_id").isNotNull())
        .select("doc_id", F.md5("text").alias("new_md5"))
        .join(old, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_o").isNull(), F.lit("added"))
            .when(F.col("old_md5").eqNullSafe(F.col("new_md5")),
                  F.lit("unchanged"))
            .otherwise(F.lit("modified")).alias("status"),
            "old_md5", "new_md5",
        )
    )


def stream_embedding_drift(spark: SparkSession, emb_parquet_dir: str,
                           old_snapshot: DataFrame) -> DataFrame:
    """Classify an embedding stream against a FROZEN old-snapshot
    centroid relation: each arriving vector emits (vec_id, label,
    label_known, dist_to_old_centroid, norm_new) — the ingestion-time
    face of traindata.embedding_drift (batch compares two complete
    snapshots; the stream scores vectors as a re-embedding run lands
    them, so per-label rollups and 'labels that vanished' are
    definitionally batch-side). A vector arriving with a label the old
    snapshot never saw reports label_known=false — the new-class
    signal a monitoring sink alerts on.

    The old snapshot collapses once to its per-label decimal-exact
    centroids (label_centroid_vectors — one row per label, broadcast-
    safe at any corpus size) and joins stream-static per micro-batch;
    the stream side is a row-local distance/norm fold, JVM-side
    (zip_with/aggregate), no Python, no stream-side shuffle, no state.
    norm_new is emitted UNROUNDED so the batch pin can rebuild
    embedding_drift's decimal-exact per-label mean_norm_new from the
    streamed rows bit-for-bit (tests/test_streaming_io.py).
    """
    from resin_spark.functions import vectors as V
    from resin_spark.operators.similarity import valid_vectors
    from resin_spark.operators.traindata import label_centroid_vectors

    cents = (
        label_centroid_vectors(old_snapshot)
        .select(F.col("c_label").alias("label"),
                F.col("centroid").alias("centroid_old"))
        .withColumn("_o", F.lit(1))
    )
    stream = file_stream(spark, emb_parquet_dir)
    new = valid_vectors(stream).filter(F.col("label").isNotNull())
    # norm_new folds over the RAW float array — the exact expression
    # the batch operator sums, so the decimal pin holds bit-for-bit;
    # the distance fold runs on the double-cast copy to match the
    # double-typed stored centroids
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    return (
        new.select("vec_id", "label", emb_d.alias("e"),
                   V.norm("embedding").alias("norm_new"))
        .join(cents, "label", "left")
        .select(
            "vec_id", "label",
            F.col("_o").isNotNull().alias("label_known"),
            F.when(
                F.col("_o").isNotNull(),
                F.round(V.l2_distance("e", "centroid_old"), 9),
            ).alias("dist_to_old_centroid"),
            "norm_new",
        )
    )


def stream_encoding_anomalies(spark: SparkSession,
                              docs_parquet_dir: str) -> DataFrame:
    """Streaming encoding-damage detector: (doc_id, source, n_repl,
    n_ctrl, n_moji) for arriving docs with any damage — the
    ingestion-time face of health.encoding_anomalies (the per-source
    card is a batch rollup; the stream flags broken docs the moment a
    crawl shard lands, before they pollute downstream stats).

    Counting is row-local (length/replace/regexp_count — the exact
    expression chain of health.encoding_anomaly_flags), so the twin is
    stateless: no watermark, no shuffle. Emitted rows equal the batch
    flags relation's flagged subset bit-for-bit (pinned in tests).
    """
    from resin_spark.operators.health import encoding_anomaly_flags

    stream = file_stream(spark, docs_parquet_dir)
    return (
        encoding_anomaly_flags(stream.filter(F.col("doc_id").isNotNull()))
        .filter(F.col("n_repl") + F.col("n_ctrl") + F.col("n_moji") > 0)
    )


def stream_cdc_flags(spark: SparkSession, docs_parquet_dir: str,
                     standing: DataFrame) -> DataFrame:
    """Streaming content-defined-chunk classifier: each arriving doc's
    chunks emit (doc_id, chunk_no, ch, is_known) where is_known means
    the chunk's exact text already exists in a FROZEN standing corpus —
    the ingestion-time face of traindata.cdc_chunk_stats (the batch op
    counts corpus-wide; the stream flags copied passages the moment a
    crawl shard lands, shift-proof because boundaries are content-
    defined).

    The standing corpus collapses once to its distinct chunk-hash
    relation (16-byte keys; broadcastable when it fits, stream-static
    hash join otherwise); the stream side is the row-local HOF
    chunking + explode — no watermark, no state, no stream-side
    shuffle before the join. Streamed rows equal the batch chunk
    relation joined against the same standing set (pinned in tests).
    """
    from resin_spark.operators.traindata import cdc_chunks

    known = (
        cdc_chunks(standing)
        .select("ch").distinct()
        .withColumn("_k", F.lit(1))
    )
    stream = file_stream(spark, docs_parquet_dir)
    return (
        cdc_chunks(stream)
        .join(known, "ch", "left")
        .select("doc_id", "chunk_no", "ch",
                F.col("_k").isNotNull().alias("is_known"))
    )


def stream_apply_mixture(spark: SparkSession, docs_parquet_dir: str,
                         plan: DataFrame) -> DataFrame:
    """Assign epoch-copy counts to a document stream against a FROZEN
    mixture plan: each arriving doc emits (doc_id, source, n_copies)
    using pipeline.mixture_copy_count — the ingestion-time face of
    pipeline.apply_mixture (batch plans AND executes over one corpus;
    the stream executes a standing plan as crawl shards land, the shape
    a production loader actually runs).

    ``plan`` is the (source, sampling_rate) projection of
    pipeline.mixture_plan over the standing corpus, frozen before the
    stream starts; it broadcasts per micro-batch. The coin is
    row-local (salted md5 of doc_id), so rows agree bit-for-bit with
    batch apply_mixture at the same plan (pinned in tests). Zero
    state, zero shuffle on the stream side.
    """
    from resin_spark.operators.pipeline import mixture_copy_count

    frozen = plan.select("source", "sampling_rate")
    stream = file_stream(spark, docs_parquet_dir)
    return (
        stream.filter(F.col("doc_id").isNotNull())
        .join(F.broadcast(frozen), "source", "left")
        .select("doc_id", "source",
                mixture_copy_count(F.col("sampling_rate")).alias("n_copies"))
    )


def stream_split_assign(spark: SparkSession,
                        docs_parquet_dir: str) -> DataFrame:
    """Streaming train/val/test assignment: each arriving doc emits
    (doc_id, source, split) via pipeline.split_of — the ingestion-time
    face of pipeline.dataset_split (the batch card audits realised
    shares; the stream routes each doc to its split the moment a crawl
    shard lands, the shape an export loader tags output paths with).

    The label is a pure row-local expression of doc_id (salted md5
    coin vs Python-inlined hex boundaries): zero state, zero
    watermark, zero shuffle — and the assignment agrees bit-for-bit
    with the batch label at ANY arrival order or shard split, because
    nothing but the id feeds the coin (pinned in tests).
    """
    from resin_spark.operators.pipeline import split_of

    stream = file_stream(spark, docs_parquet_dir)
    return (
        stream.filter(F.col("doc_id").isNotNull())
        .select("doc_id", "source",
                split_of(F.col("doc_id")).alias("split"))
    )


def stream_mm_meta(spark: SparkSession, docs_parquet_dir: str) -> DataFrame:
    """Streaming F1 twin: typed metadata (size, container format,
    fake-decoded dimensions, checksum) for media payloads the moment a
    crawl shard lands — the ingestion-time face of
    multimodal.binary_meta, completing the block-has-a-streaming-face
    coverage for the multimodal suite.

    One stateless Arrow mapInPandas pass per micro-batch: no state, no
    watermark, no shuffle. Rows equal the batch relation bit-for-bit
    (pinned in tests and fuzzed over random corpora); NULL text takes
    the adjudicated coalesce-to-b'' semantics (n_bytes 0, md5 of
    empty) on BOTH faces since the r7 with_payload fix. A real decoder
    drops into the shared frame unchanged — schema, batching and the
    stream plumbing here stay identical.
    """
    from resin_spark.operators.multimodal import payload_meta_frame

    stream = file_stream(spark, docs_parquet_dir)
    return payload_meta_frame(stream.filter(F.col("doc_id").isNotNull()))


def stream_shard_manifest(spark: SparkSession, docs_parquet_dir: str,
                          n_shards: int | None = None) -> DataFrame:
    """Manifest-as-streaming-state: per-shard running (n_docs, n_chars,
    content_sig) over arriving docs — the release signature accumulates
    AS the export lands instead of in a post-hoc pass.

    The same algebra that makes the batch manifest one map-side
    partial aggregate (bit_xor is associative + commutative with 8
    bytes of state) makes it a bounded-state streaming aggregate: this
    is the HLL/CMS sketch-as-streaming-state family with XOR as the
    merge. The pre-aggregate frame is traindata.manifest_rows — shared
    VERBATIM with the batch card, so once the directory drains, the
    complete-mode table equals batch shard_manifest row-for-row at any
    shard/file arrival order (pinned in tests). State: n_shards rows
    of three 8-byte counters, forever.
    """
    from resin_spark.operators.traindata import N_SHARDS, manifest_rows

    n = N_SHARDS if n_shards is None else n_shards
    stream = file_stream(spark, docs_parquet_dir)
    return (
        manifest_rows(stream, n)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("nc").alias("n_chars"),
             F.bit_xor("sig").alias("content_sig"))
    )


def stream_warc_ingest(spark: SparkSession, warc_dir: str,
                       warc_types: tuple[str, ...] | None = ("response",)
                       ) -> DataFrame:
    """Crawl shards land → extracted documents stream: readStream over
    WARC segments (binaryFile source, one segment per trigger), the
    H14 record parser applied VERBATIM (io.warc_record_batches), then
    H15 extraction — the production ingest head that feeds every other
    streaming twin (split routing, quality scoring, manifest
    accumulation, encoding flags) a documents-shaped stream.

    All stages are row-local (parse, HTTP split, HTMLParser text,
    deterministic ids): zero state, zero watermark, zero stream-side
    shuffle. Rows equal the batch read_warc → warc_extract_text
    composition file-for-file (pinned in tests).
    """
    from resin_spark.io import WARC_SCHEMA, warc_record_batches
    from resin_spark.operators.extract import warc_extract_text

    keep = tuple(warc_types) if warc_types is not None else None
    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("maxFilesPerTrigger", 1)
        .load(warc_dir)
        .select("path", "content")
        .mapInPandas(warc_record_batches(keep), WARC_SCHEMA)
    )
    return warc_extract_text(stream)


def stream_boilerplate_keywords(spark: SparkSession,
                                docs_parquet_dir: str) -> DataFrame:
    """Ingestion-time face of the H15 boilerplate card's KEYWORD half:
    per-source running (n_lines, n_chars, keyword_lines,
    keyword_char_share) over arriving docs — a crawl build watches
    template keyword mass accumulate as shards land, before a batch
    card ever runs.

    The line-classification frame is extract.boiler_line_rows, shared
    VERBATIM with the batch card; the running totals are one bounded
    streaming aggregate (|sources| rows of three counters, forever).
    The TEMPLATE half (repeated-line doc frequency) is deliberately
    NOT streamed: it needs a corpus-global distinct-doc count per line
    plus a join back to the line stream — two stateful operators whose
    composition Structured Streaming cannot run in one query, and a
    running doc-frequency verdict would flip lines from unique to
    template mid-stream anyway (retrospective by nature). Once the
    directory drains, the complete-mode table equals the batch card's
    keyword columns row-for-row (pinned in tests)."""
    from resin_spark.operators.extract import boiler_line_rows

    stream = file_stream(spark, docs_parquet_dir)
    kw_chars = F.sum(F.when(F.col("is_keyword"),
                            F.col("n_chars")).otherwise(F.lit(0)))
    total_chars = F.sum("n_chars")
    return (
        boiler_line_rows(stream)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            total_chars.cast("long").alias("n_chars"),
            F.sum(F.col("is_keyword").cast("long")).alias("keyword_lines"),
            F.try_divide(kw_chars.cast("double"),
                         total_chars).alias("keyword_char_share"),
        )
    )
