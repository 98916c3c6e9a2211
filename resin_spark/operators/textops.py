"""Text-analysis operators over the documents table (SURVEY.md §2 block C).

Every operator is a single scan + narrow aggregation — no Python UDFs;
the token pipeline stays inside whole-stage codegen. Per-doc work is
embarrassingly parallel, so these shapes hold unchanged at 100 TB; the
only shuffles are the final groupBys on low-cardinality keys (terms,
langs), which AQE coalesces.
"""

from __future__ import annotations

import math
import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resin_spark.functions import text as T

Tables = dict[str, DataFrame]


def tokenize_stats(t: Tables) -> DataFrame:
    """Per-doc token counts + mean token length (StringAnalyzer.SplitWords
    analog; reference src/Resin.TextAnalysis/StringAnalyzer.cs:252-309)."""
    toks = T.tokens("text")
    d = t["documents"].select(
        "doc_id",
        toks.alias("toks"),
    )
    return (
        d.select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.size(F.array_distinct("toks")).alias("n_distinct"),
            # NULL for zero-token docs on BOTH engines (ANSI division
            # would error; the oracle CASEs to NULL)
            F.when(
                F.size("toks") > 0,
                F.aggregate("toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
                / F.size("toks"),
            ).alias("mean_token_len"),
        )
        .orderBy("doc_id")
    )


def tokenize_stats_oracle() -> str:
    toks = T.tokens_sql("text")
    return f"""
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           CASE WHEN len(toks) = 0 THEN NULL ELSE
               list_reduce(list_transform(toks, x -> CAST(length(x) AS BIGINT)),
                           (a, b) -> a + b) / len(toks) END AS mean_token_len
    FROM (SELECT doc_id, {toks} AS toks FROM documents)
    ORDER BY doc_id
    """


def term_frequencies(t: Tables, top_n: int = 100) -> DataFrame:
    """Corpus term frequency, top-N by (count desc, term). Explode happens
    after projection; partial aggregation combines map-side."""
    return (
        t["documents"]
        .select(F.explode(T.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(top_n)
    )


def term_frequencies_oracle(top_n: int = 100) -> str:
    return f"""
    SELECT term, COUNT(*) AS n
    FROM (SELECT unnest({T.tokens_sql("text")}) AS term FROM documents)
    GROUP BY term ORDER BY n DESC, term LIMIT {top_n}
    """


def lexicon_build(t: Tables) -> DataFrame:
    """Distinct token → stable sorted index (LexiconBuilder.cs:1-19: a
    SortedList keyed by word).

    Adjudicated adaptation (r7 parity re-read): the reference assigns
    ``index`` in FIRST-SEEN enumeration order (the SortedList only
    sorts the keys; values are arrival-ordered) — well-defined for a
    sequential word stream, not for a distributed unordered corpus.
    This assigns the sorted rank instead: deterministic at any
    parallelism, and isomorphic for every consumer (the ML Tokenizer's
    one-hot geometry and C11's sparse counts only need a stable
    bijection, never the reference's arrival numbers).

    Scalable global rank without a single-partition window: tokens are
    [a-z0-9]+, so the first character is a prefix of the sort order and
    buckets the vocabulary into ≤36 contiguous lexicographic ranges. Pass
    one counts per bucket (alphabet-sized frame → in-plan prefix-sum
    offsets); pass two ranks within each bucket in parallel and adds the
    bucket offset.
    Output is identical to ``ROW_NUMBER() OVER (ORDER BY token) - 1`` but
    every window partition is distributed. At billions of tokens widen to
    a 2-char prefix (1296 buckets) — same shape.
    """
    # Checkpointed: the offsets branch and the ranking branch both read
    # the vocabulary; un-materialised, Catalyst compiles two independent
    # corpus scans + explode + distinct (no exchange reuse across the
    # branches — verified in the executed plan).
    toks = (
        t["documents"]
        .select(F.explode(T.tokens("text")).alias("token"))
        .distinct()
        .withColumn("bucket", F.substring("token", 1, 1))
        .localCheckpoint(eager=False)
    )
    # bucket offsets = exclusive prefix sum over the per-bucket counts.
    # The count frame is alphabet-bounded (≤36 rows here, ≤ distinct
    # first codepoints ever), so the unpartitioned window runs on a
    # frame whose size does NOT grow with the corpus — in-plan, no
    # driver collect/createDataFrame round-trip.
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    off = (
        toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
        .select("bucket",
                F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset"))
    )
    w = Window.partitionBy("bucket").orderBy("token")
    return (
        toks.join(F.broadcast(off), "bucket")
        .withColumn("index", (F.col("offset") + F.row_number().over(w) - 1).cast("long"))
        .select("token", "index")
        .orderBy("token")
    )


def lexicon_build_oracle() -> str:
    return f"""
    SELECT token, ROW_NUMBER() OVER (ORDER BY token) - 1 AS index
    FROM (SELECT DISTINCT unnest({T.tokens_sql("text")}) AS token FROM documents)
    ORDER BY token
    """


def lexicon_angle(t: Tables, dims: int = 512) -> DataFrame:
    """Angle-keyed lexicon: the reference's BuildLexicon semantics
    (StringAnalyzer.cs:35-80): every distinct token is keyed by the
    cosine of its hashed-feature vector against the all-ones unit
    vector (CompareToUnitVector, :752-757) and TryPut into a KV column —
    first-wins per angle key, sorted by angle for write locality.

    Spark shape: distinct tokens (the case-preserving full-parity
    SplitWords tokenizer, functions/text.split_words) → Arrow-batched
    angle UDF → groupBy(angle_key) with min(token) as the stored entry +
    collision count. The angle key is a locality-sensitive scalar, so
    the final orderBy(angle_key) is the same range partitioning the
    reference exploits — at scale it becomes the bucketing key for
    similarity probes. Rows-only check (the feature hashing is
    procedural, not SQL-expressible). Footnote: Java regex classifies
    whole codepoints, so non-BMP letters survive here where C#'s
    UTF-16 walk would split them — irrelevant for BMP corpora.
    """
    return _lexicon_frame(t, dims).orderBy("angle_key")


def _lexicon_frame(t: Tables, dims: int) -> DataFrame:
    """Unsorted angle-keyed lexicon — the shared subplan behind
    lexicon_angle (adds the output orderBy) and lexicon_validate (pure
    aggregate, needs no sort so skips the range exchange)."""
    from resin_spark.functions import hashing
    toks = (
        t["documents"]
        .select(F.explode(T.split_words("text")).alias("token"))
        .distinct()
    )
    ak = hashing.angle_key_udf(dims)
    return (
        toks.select("token", ak(F.col("token")).alias("angle_key"))
        .groupBy("angle_key")
        .agg(F.min("token").alias("token"), F.count(F.lit(1)).alias("n_collisions"))
    )


def pipeline_curate(t: Tables) -> DataFrame:
    """End-to-end curation rollup — the composed shape of a pretraining
    data pipeline, every stage an oracle-checked operator from this
    module: quality gate (quality_score) → canonical exact dedup (keep
    the min-id copy, dedup.exact_dedup semantics) → language split
    (lang_id) with document and token budgets per language.

    All three stages join on doc_id, so at scale they are co-partitioned
    equi-joins over one documents scan per stage; the final rollup is a
    tiny groupBy on pred_lang. This is the query a user runs to answer
    "what survives cleaning, in which language, and how many tokens do
    I get" — the pipeline's budget sheet.
    """
    from resin_spark.operators.dedup import exact_dedup
    q = quality_score(t).filter(F.col("quality_ok")).select("doc_id", "n_tokens")
    canon = exact_dedup(t["documents"]).select(
        F.col("keep_id").alias("doc_id"))
    lang = lang_id(t).select("doc_id", "pred_lang")
    return (
        q.join(canon, "doc_id")
        .join(lang, "doc_id")
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("pred_lang")
    )


def pipeline_curate_oracle() -> str:
    toks = T.tokens_sql("text")
    stop = T.stopword_count_sql("toks")
    langs = sorted(T.LANG_PROFILES)
    cols = ", ".join(
        f"{T.stopword_count_sql('toks', T.LANG_PROFILES[lang])} AS m_{lang}"
        for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"m_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN m_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH base AS (
        SELECT doc_id, text, length(text) AS n_chars, {toks} AS toks
        FROM documents
    ),
    q AS (
        SELECT doc_id, len(toks) AS n_tokens
        FROM base
        WHERE COALESCE(
            len(toks) >= 10
            AND (CASE WHEN len(toks) > 0 THEN {stop} / len(toks) END) >= 0.01
            AND (CASE WHEN n_chars > 0
                 THEN {T.punct_count_sql("text")} / n_chars END) <= 0.2,
            FALSE)
    ),
    canon AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    lang AS (
        SELECT doc_id, {case} AS pred_lang
        FROM (SELECT doc_id, {cols} FROM base)
    )
    SELECT pred_lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM q JOIN canon USING (doc_id) JOIN lang USING (doc_id)
    GROUP BY pred_lang ORDER BY pred_lang
    """


def probe_missing_angles(t: Tables, dims: int = 512, n_probes: int = 200,
                         precision: int = 2) -> DataFrame:
    """LexiconInspector analog (LexiconInspector.cs:20-45,
    SampleAngles/FindMissingAngles): probe angle candidates across
    [-1, 1] and report the ones with no lexicon entry nearby.

    The reference draws probes from a seeded uniform rng and checks
    exact KV-key presence; distributed, the order-dependent serial rng
    becomes an evenly spaced grid (``-1 + 2i/(n-1)``, deterministic
    under any partitioning — documented divergence, same gap-probing
    purpose), and "present" is bucketed at 10^-precision — exact-double
    probing of a float key space reports every probe missing, which the
    reference comment ("probe gap buckets") doesn't intend. The probe
    side is ``spark.range`` (generated, never scanned) left-anti joined
    against distinct lexicon key buckets — both sides tiny aggregates at
    any corpus size.
    """
    return _probe_missing_from(t["documents"].sparkSession,
                               lexicon_angle(t, dims), n_probes, precision)


def _probe_missing_from(spark, lex: DataFrame, n_probes: int,
                        precision: int) -> DataFrame:
    scale = 10 ** precision
    probes = spark.range(n_probes).select(
        (F.lit(-1.0) + 2.0 * F.col("id") / (n_probes - 1)).alias("probe_angle")
    ).withColumn("bucket", F.floor(F.col("probe_angle") * scale))
    keys = lex.select(
        F.floor(F.col("angle_key") * scale).alias("bucket")
    ).distinct()
    return (
        probes.join(keys, "bucket", "left_anti")
        .select(F.round("probe_angle", 9).alias("probe_angle"))
        .orderBy("probe_angle")
    )


def lexicon_validate(t: Tables, dims: int = 512, n_probes: int = 200,
                     precision: int = 2) -> DataFrame:
    """ValidateLexicon analog (StringAnalyzer.cs:97-130; CLI
    ValidateLexiconCommand): integrity stats of the angle-keyed lexicon
    in one aggregate pass — every distinct token must be reachable
    through its angle key (tokens_covered == n_tokens), collision
    pressure is the max/mean tokens sharing one key (the reference logs
    the least-entropic collision), and the key range confirms the
    locality-sensitive scalar stays in [-1, 1]. Plus the
    LexiconInspector probe (probe_missing_angles): how many of n_probes
    grid angles have no key in their 10^-precision bucket.

    Rows-only permanently (r6 adjudication): every output value derives
    from the angle keys, which are cosines of the 512-dim hashed
    char-ngram embedding (functions/hashing.py) — the same procedural
    embedder that makes lexicon_angle and string_compare genuinely
    non-SQL-expressible. A DuckDB oracle would have to reimplement the
    FNV feature hasher in SQL; the scalar-Python parity tests
    (tests/test_hashing_features.py, test_text.py) pin the values
    instead.

    ONE aggregate pass over the lexicon: the probe grid is
    deterministic, so its buckets are a literal array and the gap count
    is a set-membership expression against collect_set of the observed
    key buckets — bounded at 2*10^precision + 1 values however large
    the corpus — rather than a second traversal of the embedding-UDF
    subplan (a join-shaped probe forced Spark to recompute that
    subplan: measured 17x on the sf0.1 bench). One row out; no sort,
    no window, no join.
    """
    scale = 10 ** precision
    # same IEEE double grid as probe_missing_angles: -1 + (2*i)/(n-1)
    probe_buckets = [
        math.floor((-1.0 + (2.0 * i) / (n_probes - 1)) * scale)
        for i in range(n_probes)
    ]
    probe_arr = "array(" + ",".join(f"{b}L" for b in probe_buckets) + ")"
    return (
        _lexicon_frame(t, dims)
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_collisions").alias("tokens_covered"),
            F.max("n_collisions").alias("max_collisions"),
            F.round(F.avg("n_collisions"), 6).alias("mean_collisions"),
            F.round(F.min("angle_key"), 9).alias("min_key"),
            F.round(F.max("angle_key"), 9).alias("max_key"),
            (F.min("angle_key") >= -1.0).alias("keys_in_range_lo"),
            (F.max("angle_key") <= 1.0).alias("keys_in_range_hi"),
            F.collect_set(
                F.floor(F.col("angle_key") * scale)
            ).alias("_key_buckets"),
        )
        .withColumn(
            "n_missing_angles",
            F.expr(
                f"size(filter({probe_arr},"
                " p -> NOT array_contains(_key_buckets, p)))"
            ),
        )
        .withColumn("n_probes", F.lit(n_probes))
        .drop("_key_buckets")
    )


def tfidf_topterms(t: Tables, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf.

    idf is the rational form (N+1)/(df+1) rather than its logarithm:
    IEEE division and multiplication are exactly rounded and therefore
    bit-identical across engines, while ln() is implementation-defined
    in the last ulp — the rational form keeps the correctness hash
    tolerance-free without changing the ranking (log is monotone).

    Plan: explode → (doc, term) counts (map-side combinable) → term df
    (second small agg) → broadcast-joined scoring → per-doc top-k
    window. N is a driver scalar from one count — the only collected
    value, O(1) size.
    """
    docs = t["documents"]
    n_docs = docs.count()
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df, "term")
        .withColumn(
            "tfidf",
            F.col("tf") * (F.lit(float(n_docs + 1)) / (F.col("df") + 1)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", "rank")
    )


def tfidf_topterms_oracle(k: int = 5) -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({toks}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               tf.tf * (((SELECT COUNT(*) FROM documents) + 1.0) / (df.df + 1)) AS tfidf
        FROM tf JOIN df USING (term)
    )
    SELECT doc_id, rank, term, tf, df, tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rank
        FROM scored
    ) WHERE rank <= {k}
    ORDER BY doc_id, rank
    """


def sentence_vectors(t: Tables) -> DataFrame:
    """Sentence vectors over the lexicon — the reference's Tokenizer
    (src/Resin.MachineLearning/Tokenizer.cs): each token maps to a
    one-hot over the lexicon index and a sentence is the sum of its
    tokens' one-hots. The natural Spark representation is sparse:
    per doc, the sorted lexicon indices present and their counts.

    Shape: tokens ⋈ lexicon (equi-join on token; the lexicon side is a
    distinct-vocabulary relation AQE broadcasts when small, shuffles
    when not) → two-level groupBy, all map-side combinable. Dense
    materialisation is deliberately avoided — at 100 TB a vocabulary-
    width dense array per doc is the wrong layout.
    """
    lex = lexicon_build(t)
    toks = t["documents"].select(
        "doc_id", F.explode(T.tokens("text")).alias("token")
    )
    counts = (
        toks.join(lex, "token")
        .groupBy("doc_id", "index")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # the sparse vector's index/count arrays travel as '|'-joined strings
    # so any downstream canonicalizer (pandas sort, hash compare) treats
    # them as plain sortable scalars — same trick as kv_get_many
    return (
        counts.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("index", "cnt"))).alias("p"))
        .select(
            "doc_id",
            F.array_join(
                F.transform("p", lambda s: s["index"].cast("string")), "|"
            ).alias("indices"),
            F.array_join(
                F.transform("p", lambda s: s["cnt"].cast("string")), "|"
            ).alias("counts"),
            F.size("p").cast("long").alias("n_distinct_terms"),
        )
        .orderBy("doc_id")
    )


def sentence_vectors_oracle() -> str:
    return f"""
    WITH lex AS (
        SELECT token, ROW_NUMBER() OVER (ORDER BY token) - 1 AS index
        FROM (SELECT DISTINCT unnest({T.tokens_sql("text")}) AS token FROM documents)
    ),
    toks AS (
        SELECT doc_id, unnest({T.tokens_sql("text")}) AS token FROM documents
    ),
    counts AS (
        SELECT doc_id, index, COUNT(*) AS cnt
        FROM toks JOIN lex USING (token)
        GROUP BY doc_id, index
    )
    SELECT doc_id,
           string_agg(CAST(index AS VARCHAR), '|' ORDER BY index) AS indices,
           string_agg(CAST(cnt AS VARCHAR), '|' ORDER BY index) AS counts,
           COUNT(*) AS n_distinct_terms
    FROM counts GROUP BY doc_id ORDER BY doc_id
    """


def quality_score(t: Tables) -> DataFrame:
    """Heuristic doc quality: length, stopword ratio, punctuation ratio.

    The boolean gate mirrors a pretraining-pipeline quality filter
    (keep: long enough, some stopwords, little punctuation noise).
    """
    toks = T.tokens("text")
    d = t["documents"].select(
        "doc_id",
        F.length("text").alias("n_chars"),
        toks.alias("toks"),
        T.punct_count("text").alias("n_punct"),
    ).select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        # zero-token / zero-char docs get NULL ratios on both engines
        # (ANSI division would error) and always fail the quality gate
        F.when(F.size("toks") > 0,
               T.stopword_count(F.col("toks")) / F.size("toks")).alias("stop_ratio"),
        F.when(F.col("n_chars") > 0,
               F.col("n_punct") / F.col("n_chars")).alias("punct_ratio"),
    )
    return d.withColumn(
        "quality_ok",
        F.coalesce(
            (F.col("n_tokens") >= 10)
            & (F.col("stop_ratio") >= 0.01)
            & (F.col("punct_ratio") <= 0.2),
            F.lit(False),
        ),
    ).orderBy("doc_id")


def quality_score_oracle() -> str:
    toks = T.tokens_sql("text")
    stop = T.stopword_count_sql("toks")
    return f"""
    SELECT doc_id, n_chars, n_tokens, stop_ratio, punct_ratio,
           COALESCE(n_tokens >= 10 AND stop_ratio >= 0.01 AND punct_ratio <= 0.2,
                    FALSE) AS quality_ok
    FROM (
        SELECT doc_id, n_chars, len(toks) AS n_tokens,
               CASE WHEN len(toks) > 0 THEN {stop} / len(toks) END AS stop_ratio,
               CASE WHEN n_chars > 0
                    THEN {T.punct_count_sql("text")} / n_chars END AS punct_ratio
        FROM (SELECT doc_id, length(text) AS n_chars, text, {toks} AS toks FROM documents)
    )
    ORDER BY doc_id
    """


def lang_id(t: Tables) -> DataFrame:
    """Marker-word language ID: count profile hits per language, argmax
    with alphabetical tie-break. Profiles are constants — pure map-side."""
    toks = T.tokens("text")
    d = t["documents"].select("doc_id", toks.alias("toks"))
    for lang, words in sorted(T.LANG_PROFILES.items()):
        d = d.withColumn(f"m_{lang}", T.stopword_count(F.col("toks"), words))
    langs = sorted(T.LANG_PROFILES)
    best = F.greatest(*[F.col(f"m_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"m_{lang}") == best, F.lit(lang)).otherwise(pred)
    return d.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.cast("bigint").alias("n_matches"),
    ).orderBy("doc_id")


def lang_id_oracle() -> str:
    toks = T.tokens_sql("text")
    langs = sorted(T.LANG_PROFILES)
    cols = ",\n               ".join(
        f"{T.stopword_count_sql('toks', T.LANG_PROFILES[lang])} AS m_{lang}"
        for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"m_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN m_{lang} = best THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    SELECT doc_id, {case} AS pred_lang, CAST(best AS BIGINT) AS n_matches
    FROM (
        SELECT doc_id, {best} AS best, * FROM (
            SELECT doc_id,
               {cols}
            FROM (SELECT doc_id, {toks} AS toks FROM documents)
        )
    )
    ORDER BY doc_id
    """


def fingerprint(t: Tables) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document
    (HashOperations.cs Knuth-hash analog, made engine-portable)."""
    return (
        t["documents"]
        .select("doc_id", T.doc_fingerprint("text").alias("fingerprint"))
        .orderBy("doc_id")
    )


def fingerprint_oracle() -> str:
    return f"""
    SELECT doc_id, {T.doc_fingerprint_sql("text")} AS fingerprint
    FROM documents ORDER BY doc_id
    """


def unicode_range(t: Tables) -> DataFrame:
    """Corpus min/max codepoint (StringAnalyzer.FindUnicodeRange,
    StringAnalyzer.cs:714-743). Per-doc min/max first (no explode), then
    a global fold — the shuffle carries one row per document.

    Two documented adaptations vs the reference (r7 parity re-read):
    (1) the reference's ``first`` can never move off its 0 initial —
    the update guard ``c < last && c < first`` compares an unsigned
    char against 0 — so FindUnicodeRange always reports range start 0;
    this implements the evident INTENT (true corpus min), not the bug.
    (2) the reference walks UTF-16 units (a non-BMP char contributes
    two surrogate halves ≤ 0xFFFF); this reports true codepoints,
    which can exceed 0xFFFF on supplementary-plane corpora. Both
    diverge only on corpora the reference's own logic mishandles."""
    codes = F.transform(F.split("text", ""), lambda c: F.ascii(c))
    return (
        t["documents"]
        .select(
            F.array_min(codes).alias("dmin"),
            F.array_max(codes).alias("dmax"),
        )
        .agg(
            F.min("dmin").alias("min_codepoint"),
            F.max("dmax").alias("max_codepoint"),
        )
    )


def unicode_range_oracle() -> str:
    return """
    SELECT MIN(dmin) AS min_codepoint, MAX(dmax) AS max_codepoint
    FROM (
        SELECT list_min(list_transform(string_split(text, ''), c -> ascii(c))) AS dmin,
               list_max(list_transform(string_split(text, ''), c -> ascii(c))) AS dmax
        FROM documents
    )
    """


def token_count_bpe(t: Tables) -> DataFrame:
    """Whitespace vs BPE-ish token counts per doc (pipeline budgeting)."""
    return (
        t["documents"]
        .select(
            "doc_id",
            F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("n_ws_tokens"),
            F.size(T.bpe_tokens("text")).alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def token_count_bpe_oracle() -> str:
    return f"""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_ws_tokens,
           len({T.bpe_tokens_sql("text")}) AS n_bpe_tokens
    FROM documents ORDER BY doc_id
    """


def split_words_stats(t: Tables) -> DataFrame:
    """Per-doc stats under the FULL SplitWords tokenizer (case-preserving
    Unicode categories, math symbols standalone — functions.text.
    split_words, parity with StringAnalyzer.cs:252-309) as opposed to
    the ASCII-projection stats of text_tokenize_stats: token count,
    case-sensitive distinct count, and standalone-symbol count.

    Scale: pure map + low-cardinality agg — the regex runs once per doc
    in codegen; no shuffle before the final per-doc projection."""
    toks = T.split_words(F.col("text"))
    sym = F.size(F.filter(toks, lambda x: x.rlike(r"^\p{Sm}$")))
    return (
        t["documents"]
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_words"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            sym.cast("long").alias("n_math_symbols"),
        )
        .orderBy("doc_id")
    )


def split_words_stats_oracle() -> str:
    toks = T.split_words_sql("text")
    return f"""
    SELECT doc_id,
           len({toks}) AS n_words,
           len(list_distinct({toks})) AS n_distinct,
           len(list_filter({toks}, x -> regexp_matches(x, '^\\p{{Sm}}$')))
               AS n_math_symbols
    FROM documents ORDER BY doc_id
    """


PER_DOC_TOKEN_CAP = 512


def term_cooccurrence(t: Tables, min_pairs: int = 2,
                      per_doc_cap: int = PER_DOC_TOKEN_CAP) -> DataFrame:
    """Document-level term co-occurrence with an exact PMI-style lift
    ratio: for token pair (a, b), ``lift = P(a,b) / (P(a)·P(b))``
    computed as the all-integer expression ``n_pairs · n_docs /
    (df_a · df_b)`` — a single exact-input double division, so both
    engines emit identical bits (log-PMI would be correctly-rounded too,
    but the ratio needs no transcendental at all).

    Scale: the pair explosion is a per-document self-join keyed on
    doc_id, and the per-doc fan-out is HARD-CAPPED at ``per_doc_cap``
    distinct tokens — without it one 100k-distinct-token doc emits
    C(100k, 2) ≈ 5·10⁹ rows on a single key. The cap keeps each doc's
    RAREST tokens (lowest document frequency, ties by token — the
    PPJoin prefix-selection idea): stopword-ish pairs are dropped
    first, the informative low-df pairs survive, and the selection is
    deterministic in both engines. df_a/df_b are computed from the
    FULL (uncapped) token sets. Use :func:`term_cooccurrence_cap_report`
    for the dropped fraction at a given cap.
    """
    docs = t["documents"]
    toks = (
        docs.select("doc_id", F.explode(F.array_distinct(T.tokens("text")))
                    .alias("tok"))
    )
    n_docs = docs.count()
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    capped = (
        toks.join(dfreq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_doc_cap)
        .select("doc_id", "tok")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_pairs)
    )
    da = dfreq.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    db = dfreq.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(da, "tok_a").join(db, "tok_b")
        .select(
            "tok_a", "tok_b", "n_pairs", "df_a", "df_b",
            (F.col("n_pairs") * F.lit(n_docs)
             / (F.col("df_a") * F.col("df_b"))).alias("lift"),
        )
        .orderBy("tok_a", "tok_b")
    )


def term_cooccurrence_cap_report(t: Tables,
                                 per_doc_cap: int = PER_DOC_TOKEN_CAP) -> DataFrame:
    """One-row accounting of what the per-doc cap drops: docs over the
    cap, distinct-token occurrences dropped, and the dropped fraction —
    the companion report term_cooccurrence's docstring promises."""
    docs = t["documents"]
    sizes = docs.select(
        F.size(F.array_distinct(T.tokens("text"))).cast("long").alias("n_distinct"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_distinct") > per_doc_cap).cast("long")).alias("n_docs_capped"),
        F.sum(F.greatest(F.col("n_distinct") - per_doc_cap, F.lit(0).cast("long")))
            .alias("n_tokens_dropped"),
        (F.sum(F.greatest(F.col("n_distinct") - per_doc_cap, F.lit(0).cast("long")))
         / F.sum("n_distinct")).alias("dropped_frac"),
    )


def term_cooccurrence_oracle(min_pairs: int = 2,
                             per_doc_cap: int = PER_DOC_TOKEN_CAP) -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH tk AS (
        SELECT doc_id, unnest(list_distinct({toks})) AS tok FROM documents
    ),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tk GROUP BY tok),
    capped AS (
        SELECT doc_id, tok FROM (
            SELECT tk.doc_id, tk.tok,
                   ROW_NUMBER() OVER (PARTITION BY tk.doc_id
                                      ORDER BY dfreq.df, tk.tok) AS rn
            FROM tk JOIN dfreq ON dfreq.tok = tk.tok
        ) WHERE rn <= {per_doc_cap}
    ),
    pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_pairs
        FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_pairs}
    )
    SELECT tok_a, tok_b, n_pairs, da.df AS df_a, db.df AS df_b,
           n_pairs * (SELECT COUNT(*) FROM documents) / (da.df * db.df) AS lift
    FROM pairs
    JOIN dfreq da ON da.tok = tok_a
    JOIN dfreq db ON db.tok = tok_b
    ORDER BY tok_a, tok_b
    """


# --- BM25 ranked retrieval ----------------------------------------------------

BM25_QUERY = ("merge", "sort", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def _bm25_tf(docs: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, dl, tf_0, …): per-doc length and per-term frequencies
    as ROW-LOCAL array ops over one tokenize — tokenized docs only."""
    def _tf(i: int, q: str):
        # closure per call: a default-arg lambda would change the
        # lambda's arity and make F.filter bind the array INDEX to it
        return F.size(F.filter("tk", lambda x: x == q)).alias(f"tf_{i}")

    return (
        T.prepare_documents(docs).select("doc_id", "tk")
        .filter(F.col("doc_id").isNotNull())
        .filter(F.size("tk") >= 1)
        .select("doc_id", F.size("tk").alias("dl"),
                *[_tf(i, q) for i, q in enumerate(terms)])
    )


def bm25_stats(docs: DataFrame, query: tuple[str, ...] = BM25_QUERY):
    """(df_by_term, n_docs, avgdl): the corpus statistics BM25 scores
    with, from ONE aggregate probe over ``docs``. ``df_by_term`` keeps
    query order and only the terms the corpus holds (df > 0): a term
    no doc contains has no defined idf and can add no hit. avgdl is
    None when no doc has a token."""
    # The query is a SET of terms (the pre-r11 groupBy(doc_id, term)
    # path deduped implicitly); the positional enumeration would
    # otherwise score and count a duplicated term twice (ADVICE r11).
    query = tuple(dict.fromkeys(query))
    stats = _bm25_tf(docs, query).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("tot"),
        *[F.count(F.when(F.col(f"tf_{i}") > 0, F.lit(1))).alias(f"df_{i}")
          for i in range(len(query))],
    ).first()
    n = stats["n"]
    df_by_term = {q: stats[f"df_{i}"] for i, q in enumerate(query)
                  if stats[f"df_{i}"]}
    return df_by_term, n, (stats["tot"] / n if n else None)


def bm25_score_rows(docs: DataFrame, stats, k1: float = BM25_K1,
                    b: float = BM25_B) -> DataFrame:
    """(doc_id, n_hits, score) for every doc of ``docs`` with a query
    hit, scored against ``stats`` (a :func:`bm25_stats` triple, which
    may come from another corpus — the streaming twin scores arriving
    docs against a frozen one). Row-local: the statistics fold into
    the expression as literals, so ``docs`` may be a stream."""
    df_by_term, n_docs, avgdl = stats
    terms = tuple(df_by_term)
    k11, one_minus_b = k1 + 1.0, 1.0 - b
    ratio = F.col("dl").cast("double") / F.lit(avgdl)
    denom_base = F.lit(k1) * (F.lit(one_minus_b) + F.lit(b) * ratio)

    def term_score(i: int, df_i: int):
        idf = ((n_docs - df_i) + 0.5) / (df_i + 0.5)
        tf = F.col(f"tf_{i}").cast("double")
        score_t = F.lit(idf) * ((tf * F.lit(k11)) / (tf + denom_base))
        return F.when(F.col(f"tf_{i}") > 0,
                      score_t.cast("string").cast("decimal(28,15)"))

    zero = F.lit(0).cast("decimal(28,15)")
    scores = [F.coalesce(term_score(i, df_by_term[q]), zero)
              for i, q in enumerate(terms)]
    hits = [(F.col(f"tf_{i}") > 0).cast("long") for i in range(len(terms))]
    # no term to score (an empty corpus, or none of the query in it):
    # the typed empty relation
    score_sum = reduce(operator.add, scores) if terms else zero
    n_hits = reduce(operator.add, hits) if terms else F.lit(0).cast("long")
    return (
        _bm25_tf(docs, terms).withColumn("n_hits", n_hits)
        .filter(F.col("n_hits") > 0)
        .select("doc_id", "n_hits", score_sum.cast("double").alias("score"))
    )


def bm25_scores(t: Tables, query: tuple[str, ...] = BM25_QUERY,
                k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """(doc_id, n_hits, score): the full unranked BM25 per-doc scoring
    relation — the library surface for "score everything" consumers
    (exports, joins, the streaming twin's batch pin); bm25_search is
    its top-k presentation. No global sort anywhere: the output stays
    partitioned by doc_id.

    r11 shape: the query is a compile-time bag of terms, so per-doc
    term frequencies are ROW-LOCAL array ops (size(filter(tk, = term))
    per term) over one tokenize — no token explode, no (doc, term)
    shuffle, no scoring joins. Corpus statistics (n_docs, avgdl, df per
    term) come from ONE aggregate probe (:func:`bm25_stats`) whose
    scalars fold into the scoring expression (:func:`bm25_score_rows`)
    as literals; the per-(doc, term) score_t doubles and their
    decimal(28,15)-exact sum are bit-identical to the previous join
    form (decimal addition is exact, so summing the fixed per-term
    order equals summing the shuffle order), keeping the oracle hash
    green. The streaming twin applies the same projection to arriving
    docs. At 100 TB this removes the corpus-token-count exchange
    entirely: the only remaining shuffle in bm25_search is the ≤ k
    top-k."""
    docs = t["documents"]
    return bm25_score_rows(docs, bm25_stats(docs, query), k1, b)


BM25_MAX_K = 100_000


def bm25_search(t: Tables, query: tuple[str, ...] = BM25_QUERY,
                k: int = BM25_TOPK, k1: float = BM25_K1,
                b: float = BM25_B,
                scores: DataFrame | None = None) -> DataFrame:
    """Ranked text retrieval: BM25 top-k documents for a bag-of-terms
    query — the full-text-search face of the engine beside the vector
    face (closest_match); the reference searches its vector tree for
    embedded STRINGS (GraphSearcher over StringAnalyzer embeddings),
    and this is the inverted-index ranked analog every search engine
    user expects.

    Exactness: idf uses the Okapi RATIONAL form (N - df + 0.5)/(df +
    0.5) WITHOUT the logarithm — the tfidf_topterms convention: IEEE
    +,·,/ are exactly rounded and bit-identical across engines while
    ln() is implementation-defined in the last ulp. ln is monotone, so
    per-term weighting order is unchanged; the documented deviation is
    that multi-term sums weight rare terms more steeply than textbook
    BM25. Per-doc term-score sums go through the string→decimal(28,15)
    exact-sum recipe so accumulation order cannot flip the hash.

    Plan/scale: one corpus scan feeds both the doc-length aggregate
    and the query-term tf aggregate (the term filter keeps the scored
    relation |query|-bounded); df/N/avgdl are |query|-row or scalar;
    scoring joins broadcast; the global top-k is orderBy+limit —
    Spark's TakeOrdered, map-side k per partition, never a
    single-partition sort of the corpus.
    """
    if k > BM25_MAX_K:
        raise ValueError(
            f"k={k} exceeds BM25_MAX_K={BM25_MAX_K}: the top-k holds a "
            "k-sized ordered buffer per partition (TakeOrdered); for the "
            "full ranked relation use bm25_scores() and rank downstream")
    # ``scores`` (r11): optional precomputed bm25_scores relation so a
    # melt composing several result-page faces (snippets + facets)
    # prices the corpus scoring pass once — the split_governance_card
    # pairs= precedent; default keeps the self-contained plan.
    per_doc = bm25_scores(t, query, k1, b) if scores is None else scores
    top = per_doc.orderBy(F.col("score").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "n_hits", "score")
        .orderBy("rank")
    )


def bm25_search_oracle(query: tuple[str, ...] = BM25_QUERY,
                       k: int = BM25_TOPK, k1: float = BM25_K1,
                       b: float = BM25_B) -> str:
    toks = T.tokens_sql("text")
    terms = ", ".join(f"'{q}'" for q in query)
    k11, one_minus_b = k1 + 1.0, 1.0 - b
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({toks}) AS term
        FROM documents WHERE doc_id IS NOT NULL
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks
        WHERE term IN ({terms}) GROUP BY 1, 2
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id,
               ((CAST(s.n - df.df AS DOUBLE) + 0.5)
                / (CAST(df.df AS DOUBLE) + 0.5))
               * ((CAST(tf.tf AS DOUBLE) * {k11})
                  / (CAST(tf.tf AS DOUBLE)
                     + {k1} * ({one_minus_b}
                               + {b} * (CAST(dl.dl AS DOUBLE) / s.avgdl))))
                   AS score_t
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_hits,
               CAST(SUM(CAST(CAST(score_t AS VARCHAR) AS DECIMAL(28,15)))
                    AS DOUBLE) AS score
        FROM scored GROUP BY doc_id
    )
    SELECT rank, doc_id, n_hits, score
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM per_doc
    ) WHERE rank <= {k}
    ORDER BY rank
    """


PHRASE_QUERY = ("merge", "sort")
PHRASE_TOPK = 20


def phrase_matches(docs: DataFrame,
                   phrase: tuple[str, ...] = PHRASE_QUERY) -> DataFrame:
    """(doc_id, n_occurrences, n_tokens) for every doc of ``docs``
    holding ``phrase`` as an adjacent token sequence at least once —
    the scored relation phrase_search ranks and the streaming phrase
    matcher emits. Row-local, so ``docs`` may be a stream.

    The token array is materialised by a LOWER projection and the
    match lambda references that column, not the tokenize expression:
    inlining T.tokens into every element_at re-ran the tokenizer once
    per (start × term) probe — codegen subexpression elimination does
    not reach inside higher-order-function lambdas — which multiplied
    the scan cost by roughly the phrase length (r5 bench: 4.4 s vs
    0.6 s for the same corpus scan in text_tokenize_stats).
    CollapseProject cannot re-inline it: the column is referenced more
    than once and tokenize is not a cheap expression.

    Non-matching docs are dropped by a generator (inline over a
    one-element array filtered on the count), not a Filter: predicate
    pushdown moves a Filter below the tk projection with the alias
    substituted, re-inlining the tokenizer into every element_at
    (measured 6×), and it does not push through a Generate.
    """
    if not phrase:
        raise ValueError("phrase must contain at least one term")
    n = len(phrase)
    base = (
        T.prepare_documents(docs).filter(F.col("doc_id").isNotNull())
        .select("doc_id", "tk")
    )
    tk = F.col("tk")
    # sequence(1, stop) COUNTS DOWN when stop < 1 (the bpe_train /
    # shingle lesson) — docs shorter than the phrase must short-circuit
    # to an empty start list, never fall through to the sequence
    starts = F.when(
        F.size(tk) >= n,
        F.sequence(F.lit(1), F.size(tk) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))

    def match_at(i):
        cond = F.element_at(tk, i.cast("int")) == phrase[0]
        for j in range(1, n):
            cond = cond & (F.element_at(tk, (i + j).cast("int")) == phrase[j])
        return cond

    scored = F.struct(
        F.size(F.filter(starts, match_at)).alias("n_occurrences"),
        F.size(tk).alias("n_tokens"),
    )
    return base.select("doc_id", F.inline(F.filter(
        F.array(scored), lambda r: r["n_occurrences"] > 0)))


def phrase_search(t: Tables, phrase: tuple[str, ...] = PHRASE_QUERY,
                  k: int = PHRASE_TOPK) -> DataFrame:
    """Exact consecutive-phrase search: top-k documents by number of
    occurrences of ``phrase`` as an adjacent token sequence —
    (rank, doc_id, n_occurrences, n_tokens). The positional face of
    the search block beside ranked bag-of-terms retrieval (bm25) and
    vector search (closest_match).

    Scale: occurrence counting is ROW-LOCAL (:func:`phrase_matches` —
    one pass builds the token array and a higher-order filter counts
    the match positions; no explode, no positional-postings join, no
    shuffle at all before the top-k); the global top-k is
    orderBy+limit (TakeOrdered). Integer counts make the oracle
    hash-exact with no float care.
    """
    if k > BM25_MAX_K:
        raise ValueError(f"k={k} exceeds BM25_MAX_K={BM25_MAX_K}")
    top = (
        phrase_matches(t["documents"], phrase)
        .orderBy(F.col("n_occurrences").desc(), "doc_id").limit(k)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "n_occurrences", "n_tokens")
        .orderBy("rank")
    )


def phrase_search_oracle(phrase: tuple[str, ...] = PHRASE_QUERY,
                         k: int = PHRASE_TOPK) -> str:
    toks = T.tokens_sql("text")
    n = len(phrase)
    conds = " AND ".join(
        f"tk[CAST(i + {j} AS BIGINT)] = '{term}'"
        for j, term in enumerate(phrase)
    )
    return f"""
    WITH base AS (
        SELECT doc_id, {toks} AS tk FROM documents WHERE doc_id IS NOT NULL
    ),
    scored AS (
        SELECT doc_id,
               len(list_filter(range(1, greatest(len(tk) - {n - 1}, 0) + 1),
                               i -> {conds})) AS n_occurrences,
               len(tk) AS n_tokens
        FROM base
    )
    SELECT rank, doc_id, n_occurrences, n_tokens
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, doc_id)
                   AS rank
        FROM scored WHERE n_occurrences > 0
    ) WHERE rank <= {k}
    ORDER BY rank
    """


# --- search snippets: the result-presentation face of the search block --------

# Lockstep knobs shared with search_snippets_oracle.
SNIP_TOPK = 10
SNIP_RADIUS = 3


def search_snippets(t: Tables, query: tuple[str, ...] = BM25_QUERY,
                    k: int = SNIP_TOPK,
                    radius: int = SNIP_RADIUS,
                    scores: DataFrame | None = None) -> DataFrame:
    """Result snippets for the BM25 top-k: (rank, doc_id, pos, snippet)
    where pos is the 1-based token position of the FIRST occurrence of
    any query term (earliest across terms) and snippet is the ±radius
    token window around it, joined with spaces — what a search UI
    renders under each hit (the reference surfaces raw stored fields;
    every production search face adds this).

    Row-local after the top-k: positions and the window are array ops
    over one tokenize of only the k hit docs (the corpus scan is
    pruned by the broadcast top-k semi-join); a BM25 hit always
    contains a query term, so pos is non-NULL by construction —
    kept nullable for defensive parity.

    Exactness: integer array positions + string concat, no floats.
    """
    top = bm25_search(t, query, k, scores=scores).select("rank", "doc_id")
    from pyspark.sql.functions import broadcast
    hits = (T.prepare_documents(t["documents"])
            .filter(F.col("doc_id").isNotNull()).select("doc_id", "tk"))
    base = hits.join(broadcast(top), "doc_id").select("rank", "doc_id", "tk")
    pos = F.array_min(F.filter(
        F.array(*[F.array_position("tk", F.lit(q)) for q in query]),
        lambda x: x > 0))
    start = F.greatest(F.lit(1), F.col("pos") - radius)
    end = F.least(F.size("tk"), F.col("pos") + radius)
    return (
        base.withColumn("pos", pos)
        .withColumn(
            "snippet",
            F.concat_ws(" ", F.slice("tk", start, end - start + 1)))
        .select("rank", "doc_id", "pos", "snippet")
        .orderBy("rank")
    )


def search_snippets_oracle(query: tuple[str, ...] = BM25_QUERY,
                           k: int = SNIP_TOPK,
                           radius: int = SNIP_RADIUS) -> str:
    toks = T.tokens_sql("text")
    bm25 = bm25_search_oracle(query, k=k)
    poslist = ", ".join(
        f"COALESCE(list_position(tk, '{q}'), 0)" for q in query)
    return f"""
    WITH top AS (SELECT rank, doc_id FROM ({bm25})),
    d AS (
        SELECT doc_id, {toks} AS tk
        FROM documents WHERE doc_id IS NOT NULL
    ),
    hit AS (
        SELECT t.rank, t.doc_id, d.tk,
               list_min(list_filter([{poslist}], x -> x > 0)) AS pos
        FROM top t JOIN d ON t.doc_id = d.doc_id
    )
    SELECT rank, doc_id, pos,
           array_to_string(list_transform(
               range(greatest(1, pos - {radius}),
                     least(len(tk), pos + {radius}) + 1),
               i -> tk[i]), ' ') AS snippet
    FROM hit ORDER BY rank
    """


# --- C62: facet counts over the result page -------------------------------------

def search_facets(t: Tables, query: tuple[str, ...] = BM25_QUERY,
                  k: int = BM25_TOPK,
                  scores: DataFrame | None = None) -> DataFrame:
    """Facet counts for the BM25 top-k result page: (facet, value,
    n_hits, hit_share) over the source and lang dimensions — the
    search-UI sidebar ("web (12) · wiki (8)") every production search
    face renders beside C56's snippets; the reference stores these
    fields per hit (cirrussearch source/lang), this rolls the PAGE up.

    Plan/scale: the k-row page broadcast-semi-joins the corpus (scan
    pruned to the hits), the two facet dimensions unpivot via a
    row-local 2-element explode, and the aggregate sees ≤ 2·|values|
    groups with the share window over those bounded groups only —
    nothing here scales with the corpus, only with k.

    Exactness: counts plus one IEEE division of identical longs per
    row; grouping keys are raw strings (NULL groups land together on
    both engines).
    """
    from pyspark.sql.functions import broadcast
    top = bm25_search(t, query, k, scores=scores).select("doc_id")
    page = (
        t["documents"].filter(F.col("doc_id").isNotNull())
        .join(broadcast(top), "doc_id")
        .select("source", "lang")
    )
    un = page.select(F.explode(F.array(
        F.struct(F.lit("source").alias("facet"),
                 F.col("source").alias("value")),
        F.struct(F.lit("lang").alias("facet"),
                 F.col("lang").alias("value")),
    )).alias("fv")).select("fv.facet", "fv.value")
    w = Window.partitionBy("facet")
    return (
        un.groupBy("facet", "value")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .withColumn("hit_share",
                    F.try_divide(F.col("n_hits").cast("double"),
                                 F.sum("n_hits").over(w)))
        .orderBy("facet", F.col("n_hits").desc(), "value")
    )


def search_facets_oracle(query: tuple[str, ...] = BM25_QUERY,
                         k: int = BM25_TOPK) -> str:
    """Nests the C38 oracle as the page CTE — any bm25 change
    re-windows this op too."""
    return f"""
    WITH top AS ({bm25_search_oracle(query, k=k)}),
    page AS (
        SELECT d.source, d.lang
        FROM documents d JOIN top USING (doc_id)
    ),
    un AS (
        SELECT 'source' AS facet, source AS value FROM page
        UNION ALL
        SELECT 'lang' AS facet, lang AS value FROM page
    ),
    g AS (SELECT facet, value, COUNT(*) AS n_hits FROM un GROUP BY 1, 2)
    SELECT facet, value, n_hits,
           CAST(n_hits AS DOUBLE)
               / NULLIF(SUM(n_hits) OVER (PARTITION BY facet), 0)
               AS hit_share
    FROM g
    ORDER BY facet, n_hits DESC, value
    """
