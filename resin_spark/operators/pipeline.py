"""Corpus-curation pipeline operators (SURVEY.md §2 block C extras).

The operators a pretraining-data pipeline runs AROUND the per-document
analyses: benchmark-contamination checking, deterministic stratified
sampling, and token-budget sequence packing. All three are single-scan
shapes whose only shuffles are equi-joins / low-cardinality groupBys,
so they hold unchanged at 100 TB (scale notes per operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resin_spark.functions import text as T
import os

from resin_spark.operators.dedup import (_shingles_sql, connected_components,
                                         embedding_dedup_oracle,
                                         embedding_dedup_pairs,
                                         ngram_jaccard_pairs,
                                         shingle_hashes_from_tokens, shingles)

Tables = dict[str, DataFrame]

# Benchmark membership for contamination_check: a deterministic ~1%
# slice stands in for the held-out eval set a real pipeline would load.
_BENCH_MOD = 97

# stratified_sample: per-language keep rates. Thresholds are exact
# 16-bit hex bounds (rate * 0x10000) compared lexicographically against
# the first 4 hex chars of md5(doc_id) — uniform, deterministic, and
# engine-agnostic (plain string compare, no float math in the gate).
SAMPLE_RATES: dict[str, float] = {
    "en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.125, "zh": 0.0625,
}
_DEFAULT_RATE = 0.05


def _rate_threshold(rate: float) -> str:
    return format(int(rate * 0x10000), "04x")


def contamination_check(t: Tables, n: int = 4, tau: float = 0.5) -> DataFrame:
    """Benchmark-contamination scan: for every candidate document, the
    fraction of its distinct word-``n``-gram shingles that also appear in
    the benchmark set (docs with ``doc_id % 97 == 0`` here; a real run
    swaps in the eval-suite shingle table). The GPT-3-style n-gram
    overlap decontamination test, as one relational pass.

    Scale: one shingle pass over the corpus, one equi-join on shingle
    against the (small) benchmark shingle set — AQE broadcasts it when
    it fits, which a real benchmark set always does — then a groupBy on
    doc_id. No cartesian anywhere; cost is linear in corpus shingles.
    """
    docs = t["documents"]
    # shingles join as xxhash64 longs — the overlap test only needs
    # membership, so 8-byte keys replace n-word strings in the distinct,
    # the bench join, and both groupBys (collision-free in practice:
    # p < 1e-10 at 10^9 distinct shingles)
    sh = shingles(docs, n).select("doc_id", F.xxhash64("shingle").alias("h"))
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench_sh = sh.filter(is_bench).select("h").distinct()
    cand_sh = sh.filter(~is_bench)
    # n_shingles is the doc's own distinct-shingle count — row-local
    # (r11, the shingle_hash_sets argument): a projection instead of a
    # second explode + groupBy pass over cand_sh. Pre-filter on the
    # INPUT size (never on the computed array — the codegen trap
    # pinned in test_shingle_sets_is_row_local_projection).
    totals = (
        docs.filter(~is_bench)
        .select("doc_id", T.tokens("text").alias("tk"))
        .filter(F.size("tk") >= n)
        .select("doc_id",
                F.size(shingle_hashes_from_tokens("tk", n))
                .cast("long").alias("n_shingles"))
    )
    hits = (
        cand_sh.join(bench_sh, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    ratio = F.col("n_hits") / F.col("n_shingles")
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.when(F.coalesce("n_shingles", F.lit(0)) > 0, ratio)
            .alias("contam_ratio"),
            F.coalesce(ratio >= tau, F.lit(False)).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def contamination_check_oracle(n: int = 4, tau: float = 0.5) -> str:
    return f"""
    WITH sh AS ({_shingles_sql(n)}),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
    cand AS (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cand GROUP BY doc_id),
    hit AS (SELECT cand.doc_id, COUNT(*) AS n_hits
            FROM cand JOIN bench USING (shingle) GROUP BY cand.doc_id)
    SELECT d.doc_id,
           COALESCE(n_shingles, 0) AS n_shingles,
           COALESCE(n_hits, 0) AS n_hits,
           CASE WHEN COALESCE(n_shingles, 0) > 0
                THEN n_hits / n_shingles END AS contam_ratio,
           COALESCE(n_hits / n_shingles >= {tau}, FALSE) AS contaminated
    FROM documents d
    LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
    WHERE d.doc_id % {_BENCH_MOD} <> 0
    ORDER BY doc_id
    """


def stratified_sample(t: Tables) -> DataFrame:
    """Deterministic stratified sampling rollup: per (lang, source)
    stratum, how many documents the per-language rate keeps and how many
    characters survive — the domain-mixing budget sheet.

    The keep decision is ``substr(md5(doc_id), 1, 4) < rate_threshold``:
    reproducible across engines and runs, uniform over docs, and
    rate-exact in 1/65536 steps. Scale: one scan, map-side partial agg
    onto |langs|×|sources| groups — no other shuffle, no RNG state.
    """
    docs = t["documents"]
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = F.lit(_rate_threshold(_DEFAULT_RATE))
    for lang, rate in sorted(SAMPLE_RATES.items()):
        thr = F.when(F.col("lang") == lang, F.lit(_rate_threshold(rate))).otherwise(thr)
    keep = h < thr
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_sampled"),
            F.coalesce(F.sum(F.when(keep, F.col("n_chars"))), F.lit(0))
            .alias("sampled_chars"),
        )
        .orderBy("lang", "source")
    )


def stratified_sample_oracle() -> str:
    case = "CASE lang " + " ".join(
        f"WHEN '{lang}' THEN '{_rate_threshold(rate)}'"
        for lang, rate in sorted(SAMPLE_RATES.items())
    ) + f" ELSE '{_rate_threshold(_DEFAULT_RATE)}' END"
    return f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < {case}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(COALESCE(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < {case}
                    THEN n_chars END), 0) AS BIGINT) AS sampled_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """


# pack_sequences: docs per cumsum bucket. Contiguous doc_id ranges, so
# per-bucket token totals prefix-sum into exact global offsets.
_PACK_BUCKET = 1024
# buckets per superbucket for the second prefix-sum level: the only
# unpartitioned window runs over n_docs / (1024*4096) ≈ n/2^22 rows
# (24k rows at 10^11 docs) — bounded, never the doc frame.
_PACK_SUPER = 4096


def pack_sequences(t: Tables, budget: int = 256) -> DataFrame:
    """Concat-and-chunk sequence packing: documents in doc_id order are
    laid end-to-end on one token tape and cut every ``budget`` tokens;
    each doc is assigned to the sequence its first token lands in. The
    rollup reports per-sequence doc count, id span, and token mass (may
    exceed ``budget`` where a doc straddles a cut — the standard
    pretraining concat-packing semantic).

    Scale: the exclusive global cumsum is a LAZY two-level distributed
    prefix sum — no ``collect()``, no window over the doc frame without a
    partition key. Docs bucket by ``doc_id div 1024`` (contiguous
    ranges); level 1 prefix-sums bucket totals within each superbucket
    of 4096 buckets (window partitioned by superbucket, distributed);
    level 2 prefix-sums the superbucket totals — the only unpartitioned
    window, over an aggregate frame of n/2^22 rows. The per-doc running
    sum then adds its bucket's offset inside a window partitioned by
    bucket. Identical output to ``SUM(...) OVER (ORDER BY doc_id ROWS
    UNBOUNDED PRECEDING)`` with every doc-touching window distributed.
    """
    d = (
        t["documents"]
        .select(
            "doc_id",
            F.size(T.tokens("text")).cast("long").alias("n_tokens"),
            (F.col("doc_id") - F.col("doc_id") % _PACK_BUCKET).alias("bucket"),
        )
    )
    span = _PACK_BUCKET * _PACK_SUPER
    per_bucket = (
        d.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bt"))
        .withColumn("super", F.col("bucket") - F.col("bucket") % span)
    )
    wb = (
        Window.partitionBy("super")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_bucket = per_bucket.withColumn(
        "within", F.coalesce(F.sum("bt").over(wb), F.lit(0))
    )
    ws = Window.orderBy("super").rowsBetween(Window.unboundedPreceding, -1)
    per_super = (
        per_bucket.groupBy("super")
        .agg(F.sum("bt").alias("st"))
        .withColumn("soff", F.coalesce(F.sum("st").over(ws), F.lit(0)))
    )
    off = (
        per_bucket.join(per_super.select("super", "soff"), "super")
        .select("bucket", (F.col("soff") + F.col("within")).alias("offset"))
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(off, "bucket")
        .withColumn(
            "cum_excl",
            F.col("offset") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
        )
        .withColumn("seq_id", F.expr(f"cum_excl div {budget}"))
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("seq_id")
    )


def quality_repetition(t: Tables) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per doc,
    the distinct-token fraction, the mass of the single most frequent
    unigram, and the mass of the most frequent word bigram; a doc is
    flagged when any ratio crosses the (Gopher-ish) thresholds —
    top unigram > 30%, top bigram > 20%, distinct fraction < 30%.

    Scale: one explode of a combined unigram+bigram stream (bigrams are
    space-joined so the two populations can't collide), one
    map-side-combining groupBy on (doc_id, gram), one groupBy on doc_id.
    Both shuffles key on doc_id-prefixed keys, so skew follows document
    length, not corpus-wide term popularity — no hot 'the' key.
    """
    docs = t["documents"]
    tk = T.tokens("text")
    # grams shuffle as (xxhash64, is_bigram) pairs — 9 bytes instead of
    # the gram string; counts are what's aggregated, so hashing is
    # transparent (collision-free in practice, p < 1e-10 at 1e9 grams)
    unis = F.transform("tk", lambda x: F.struct(
        F.xxhash64(x).alias("h"), F.lit(False).alias("b")))
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("tk") - 2),
        lambda i: F.struct(
            F.xxhash64(F.concat_ws(" ", F.element_at("tk", i + 1),
                                   F.element_at("tk", i + 2))).alias("h"),
            F.lit(True).alias("b")),
    )
    grams = (
        docs.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 1)
        .select(
            "doc_id",
            F.size("tk").alias("n_tokens"),
            F.size(F.array_distinct("tk")).alias("n_distinct"),
            F.explode(
                F.concat(unis, F.when(F.size("tk") >= 2, bigrams)
                         .otherwise(F.array()))
            ).alias("g"),
        )
    )
    counts = (
        grams.groupBy("doc_id", "n_tokens", "n_distinct", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_bigram = F.col("g.b")
    return (
        counts.groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(
            F.max(F.when(~is_bigram, F.col("c"))).alias("top_uni"),
            F.max(F.when(is_bigram, F.col("c"))).alias("top_bi"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_distinct") / F.col("n_tokens")).alias("distinct_frac"),
            (F.col("top_uni") / F.col("n_tokens")).alias("top_unigram_frac"),
            F.when(F.col("n_tokens") >= 2,
                   F.col("top_bi") / (F.col("n_tokens") - 1))
            .alias("top_bigram_frac"),
        )
        .withColumn(
            "flagged",
            (F.col("top_unigram_frac") > 0.30)
            | (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) > 0.20)
            | (F.col("distinct_frac") < 0.30),
        )
        .orderBy("doc_id")
    )


def quality_repetition_oracle() -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH d AS (
        SELECT doc_id, {toks} AS tk FROM documents WHERE len({toks}) >= 1
    ),
    g AS (
        SELECT doc_id, len(tk) AS n_tokens,
               len(list_distinct(tk)) AS n_distinct,
               unnest(list_concat(tk,
                   CASE WHEN len(tk) >= 2 THEN
                       list_transform(range(1, len(tk)),
                                      i -> tk[i] || ' ' || tk[i + 1])
                   ELSE [] END)) AS gram
        FROM d
    ),
    c AS (
        SELECT doc_id, n_tokens, n_distinct, gram, COUNT(*) AS c
        FROM g GROUP BY ALL
    ),
    m AS (
        SELECT doc_id, n_tokens, n_distinct,
               MAX(CASE WHEN NOT contains(gram, ' ') THEN c END) AS top_uni,
               MAX(CASE WHEN contains(gram, ' ') THEN c END) AS top_bi
        FROM c GROUP BY ALL
    )
    SELECT doc_id, n_tokens,
           n_distinct / n_tokens AS distinct_frac,
           top_uni / n_tokens AS top_unigram_frac,
           CASE WHEN n_tokens >= 2 THEN top_bi / (n_tokens - 1) END
               AS top_bigram_frac,
           top_uni / n_tokens > 0.30
               OR COALESCE(top_bi / (n_tokens - 1) > 0.20, FALSE)
               OR n_distinct / n_tokens < 0.30 AS flagged
    FROM m ORDER BY doc_id
    """


# PII patterns: RE2-and-Java-compatible (no lookaround, no backrefs) so
# Spark (java.util.regex) and DuckDB (RE2) match identical spans.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_RE = r"\+?[0-9][0-9 ().-]{7,}[0-9]"


def pii_redact(t: Tables) -> DataFrame:
    """PII scan + redaction accounting: per doc, how many email / IPv4 /
    phone-shaped spans appear, and the doc length after replacing each
    with a typed placeholder. The pre-release scrub every training-data
    pipeline runs; counts double as an audit report.

    Scale: pure map — three regexp passes per row inside whole-stage
    codegen, no shuffle at all (the final orderBy is presentation-only;
    a real run writes the scan unordered). Patterns are anchored to the
    lowercased text like the rest of the text suite.
    """
    docs = t["documents"]
    low = F.lower(F.col("text"))
    n = lambda pat: F.size(F.regexp_extract_all(low, F.lit(pat), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(low, PII_EMAIL_RE, "[EMAIL]"),
            PII_IP_RE, "[IP]"),
        PII_PHONE_RE, "[PHONE]")
    return (
        docs.select(
            "doc_id",
            n(PII_EMAIL_RE).cast("long").alias("n_emails"),
            n(PII_IP_RE).cast("long").alias("n_ips"),
            n(PII_PHONE_RE).cast("long").alias("n_phones"),
            F.length(redacted).cast("long").alias("redacted_len"),
        )
        .withColumn(
            "has_pii",
            (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0,
        )
        .orderBy("doc_id")
    )


def pii_redact_oracle() -> str:
    def esc(p: str) -> str:
        # DuckDB single-quoted strings are escape-free: only quote
        # doubling is needed. Doubling backslashes (the r3 bug) turned
        # \+? into "one-or-more literal backslashes" and \b into
        # "backslash then b" — the oracle could never match a phone/IP,
        # which the generated corpus (no phone/IP spans) never exposed;
        # the edge-doc harness did (tests/test_edge_docs.py doc 7).
        return p.replace("'", "''")
    e, i, p = esc(PII_EMAIL_RE), esc(PII_IP_RE), esc(PII_PHONE_RE)
    return f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{e}')) AS n_emails,
           len(regexp_extract_all(lower(text), '{i}')) AS n_ips,
           len(regexp_extract_all(lower(text), '{p}')) AS n_phones,
           length(regexp_replace(regexp_replace(regexp_replace(lower(text),
               '{e}', '[EMAIL]', 'g'), '{i}', '[IP]', 'g'),
               '{p}', '[PHONE]', 'g')) AS redacted_len,
           len(regexp_extract_all(lower(text), '{e}'))
             + len(regexp_extract_all(lower(text), '{i}'))
             + len(regexp_extract_all(lower(text), '{p}')) > 0 AS has_pii
    FROM documents ORDER BY doc_id
    """


def domain_mix(t: Tables) -> DataFrame:
    """Domain-mixture budget sheet: per (lang, source) stratum, document
    and token totals, the stratum's exact share of corpus tokens, and a
    temperature-flattened sampling weight ``sqrt(n_tokens)`` (alpha=0.5
    unigram-LM style upweighting of small domains). The normalisation
    denominator is left to the consumer: summing doubles is
    order-sensitive, so a cross-engine-exact result reports the
    deterministic per-stratum numerator plus the exact integer token
    share instead of a float grand total.

    Scale: one token-count scan with map-side partial aggregation onto
    |langs|x|sources| groups, plus a broadcast of the single-row exact
    total. sqrt is IEEE-correctly-rounded in both engines, and
    bigint/bigint division is exact-input — every output bit matches.
    """
    docs = t["documents"]
    per = (
        docs.select("lang", "source",
                    F.size(T.tokens("text")).cast("long").alias("nt"))
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )
    total = per.groupBy().agg(F.sum("n_tokens").alias("total_tokens"))
    return (
        per.join(F.broadcast(total))
        .select(
            "lang", "source", "n_docs", "n_tokens",
            # try_divide: a zero-token corpus reports NULL shares
            # instead of aborting under ANSI (r6 fuzz find)
            F.try_divide(F.col("n_tokens"), F.col("total_tokens"))
            .alias("token_share"),
            F.sqrt("n_tokens").alias("temp_weight"),
        )
        .orderBy("lang", "source")
    )


def domain_mix_oracle() -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH per AS (
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(len({toks})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs, n_tokens,
           n_tokens / NULLIF((SELECT SUM(n_tokens) FROM per), 0)
               AS token_share,
           sqrt(n_tokens) AS temp_weight
    FROM per ORDER BY lang, source
    """


def pack_sequences_oracle(budget: int = 256) -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH d AS (SELECT doc_id, len({toks}) AS n_tokens FROM documents),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {budget} AS BIGINT) AS seq_id
        FROM d
    )
    SELECT seq_id,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM c GROUP BY seq_id ORDER BY seq_id
    """


# --- filter-funnel attrition accounting --------------------------------------

FUNNEL_MIN_TOKENS = 5
FUNNEL_MIN_DISTINCT_FRAC = 0.3


def filter_funnel(t: Tables, min_tokens: int = FUNNEL_MIN_TOKENS,
                  min_distinct_frac: float = FUNNEL_MIN_DISTINCT_FRAC
                  ) -> DataFrame:
    """Per-stage attrition sheet for a five-stage curation stack — the
    "data card" table every released pretraining corpus publishes
    (Dolma/RefinedWeb style): how many docs and tokens survive each
    filter, applied cumulatively.

        0 ingest      doc_id AND text present
        1 length      >= min_tokens tokens
        2 repetition  distinct-token fraction >= min_distinct_frac
                      (row-local degenerate-doc gate)
        3 langid      marker-word language ID agrees with the recorded
                      lang (the cheap wrong-language screen)
        4 dedup       exact-content keep-min among stage-3 survivors

    Plan shape: ONE documents scan computes every per-doc flag (stages
    1-3 are row-local expressions — no explode, no per-stage scans);
    stage 4 adds the single shuffle (md5 window, keep-min over
    SURVIVORS via min(when(survivor, doc_id)) so earlier-dropped copies
    can't claim canonical); a global aggregate folds the flags into
    per-stage sums and `stack` emits the 6-row sheet. Output is O(1)
    rows at any corpus size; the one wide exchange is the dedup window
    — the same md5 shuffle dedup_exact already sweeps. Cumulative
    gating means each stage's counts condition on all earlier stages,
    exactly how a real pipeline's attrition is reported.
    """
    langs = sorted(T.LANG_PROFILES)
    d = T.prepare_documents(t["documents"]).select(
        "doc_id", "has_text", "lang", "h", "tk",
        F.coalesce(F.size("tk").cast("bigint"), F.lit(0)).alias("nt"),
    )
    for lang in langs:
        d = d.withColumn(f"m_{lang}",
                         T.stopword_count(F.col("tk"), T.LANG_PROFILES[lang]))
    best = F.greatest(*[F.col(f"m_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"m_{lang}") == best, F.lit(lang)).otherwise(pred)
    d = d.select(
        "doc_id", "lang", "nt", "h",
        (F.col("doc_id").isNotNull() & F.col("has_text")).alias("s0"),
        pred.alias("pred_lang"),
        F.when(F.col("nt") > 0,
               F.size(F.array_distinct("tk")).cast("double") / F.col("nt"))
        .otherwise(F.lit(0.0)).alias("distinct_frac"),
    ).select(
        "*",
        (F.col("s0") & (F.col("nt") >= min_tokens)).alias("s1"),
    ).select(
        "*",
        (F.col("s1") & (F.col("distinct_frac") >= min_distinct_frac))
        .alias("s2"),
    ).select(
        "*",
        # coalesce: a NULL recorded lang makes (pred == lang) NULL, and
        # s2 & NULL stays NULL when s2 is true — the oracle's CASE WHEN
        # folds that row to 0, but F.sum over an ALL-NULL flag column
        # returns NULL, so a corpus whose every langid-stage survivor
        # has NULL lang reported NULL docs_out where the oracle said 0
        # (multi-line staged fuzz, seed 2604). NULL lang is a langid
        # FAIL, stated as false.
        F.coalesce(F.col("s2") & (F.col("pred_lang") == F.col("lang")),
                   F.lit(False)).alias("s3"),
    )
    w = Window.partitionBy("h")
    d = d.withColumn(
        "s4",
        F.col("s3")
        & (F.min(F.when(F.col("s3"), F.col("doc_id"))).over(w)
           == F.col("doc_id")),
    )
    agg = d.agg(
        F.count(F.lit(1)).alias("c_all"),
        *[F.sum(F.col(f"s{i}").cast("bigint")).alias(f"c{i}")
          for i in range(5)],
        *[F.sum(F.when(F.col(f"s{i}"), F.col("nt")).otherwise(0))
          .alias(f"t{i}") for i in range(5)],
    )
    names = ["ingest", "length", "repetition", "langid", "dedup"]
    stack_args = ", ".join(
        f"{i}, '{names[i]}', {'c_all' if i == 0 else f'c{i - 1}'}, "
        f"c{i}, t{i}"
        for i in range(5)
    )
    return (
        agg.selectExpr(
            f"stack(5, {stack_args}) AS "
            "(stage, stage_name, docs_in, docs_out, tokens_out)"
        )
        .select(
            F.col("stage").cast("bigint").alias("stage"),
            "stage_name",
            F.col("docs_in").cast("bigint").alias("docs_in"),
            F.col("docs_out").cast("bigint").alias("docs_out"),
            (F.col("docs_in") - F.col("docs_out")).cast("bigint")
            .alias("docs_dropped"),
            F.col("tokens_out").cast("bigint").alias("tokens_out"),
        )
        .orderBy("stage")
    )


def filter_funnel_oracle(min_tokens: int = FUNNEL_MIN_TOKENS,
                         min_distinct_frac: float = FUNNEL_MIN_DISTINCT_FRAC) -> str:
    langs = sorted(T.LANG_PROFILES)
    tk = T.tokens_sql("text")
    m_cols = ",\n               ".join(
        f"{T.stopword_count_sql('tk', T.LANG_PROFILES[lang])} AS m_{lang}"
        for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"m_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN m_{lang} = best THEN '{lang}'" for lang in langs
    ) + " END"
    rows = "\n    UNION ALL\n".join(
        f"    SELECT {i} AS stage, '{n}' AS stage_name, "
        f"{'c_all' if i == 0 else f'c{i - 1}'} AS docs_in, c{i} AS docs_out, "
        f"{'c_all' if i == 0 else f'c{i - 1}'} - c{i} AS docs_dropped, "
        f"t{i} AS tokens_out FROM agg"
        for i, n in enumerate(
            ["ingest", "length", "repetition", "langid", "dedup"])
    )
    return f"""
    WITH base AS (
        SELECT doc_id, lang, {tk} AS tk, md5(text) AS h,
               doc_id IS NOT NULL AND text IS NOT NULL AS s0
        FROM documents
    ), feat AS (
        SELECT doc_id, lang, h, s0,
               COALESCE(len(tk), 0) AS nt,
               CASE WHEN COALESCE(len(tk), 0) > 0
                    THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                    ELSE 0.0 END AS distinct_frac,
               {case} AS pred_lang
        FROM (
            SELECT *, {best} AS best FROM (
                SELECT doc_id, lang, tk, h, s0,
               {m_cols}
                FROM base
            )
        )
    ), flags AS (
        SELECT *,
               s0 AND nt >= {min_tokens} AS s1,
               s0 AND nt >= {min_tokens}
                  AND distinct_frac >= {min_distinct_frac} AS s2,
               s0 AND nt >= {min_tokens}
                  AND distinct_frac >= {min_distinct_frac}
                  AND pred_lang = lang AS s3
        FROM feat
    ), flags4 AS (
        SELECT *,
               s3 AND MIN(CASE WHEN s3 THEN doc_id END)
                          OVER (PARTITION BY h) = doc_id AS s4
        FROM flags
    ), agg AS (
        SELECT COUNT(*) AS c_all,
               {", ".join(f"CAST(SUM(CASE WHEN s{i} THEN 1 ELSE 0 END) AS BIGINT) AS c{i}" for i in range(5))},
               {", ".join(f"CAST(SUM(CASE WHEN s{i} THEN nt ELSE 0 END) AS BIGINT) AS t{i}" for i in range(5))}
        FROM flags4
    )
    SELECT stage, stage_name, CAST(docs_in AS BIGINT) AS docs_in,
           CAST(docs_out AS BIGINT) AS docs_out,
           CAST(docs_dropped AS BIGINT) AS docs_dropped,
           CAST(tokens_out AS BIGINT) AS tokens_out
    FROM (
{rows}
    )
    ORDER BY stage
    """


# --- Bloom-filter decontamination (map-side membership) ----------------------

BLOOM_M = 1 << 16   # filter bits
BLOOM_K = 3         # hash functions


def _bloom_pos(col, j: int, m: int):
    from resin_spark.operators.dedup import _token_hash60
    return (_token_hash60(F.concat_ws("#", col, F.lit(str(j)))) % m)


def bloom_contamination(t: Tables, n: int = 4, tau: float = 0.5,
                        m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Benchmark decontamination through a Bloom filter instead of an
    exact shingle join — the shape that scales to a 100 TB corpus
    probed against a big eval suite: the filter is ≤ ``m`` bit
    positions (8 KiB as a bitmap, ≤ m rows as a relation) and is
    BROADCAST, so candidate shingles are tested map-side with zero
    shuffle of the probe stream; only the per-doc rollup exchanges,
    and that is keyed by doc_id like every per-doc stat.

    Per candidate doc: distinct word-``n``-gram shingles, how many
    pass all ``k`` Bloom probes, the hit fraction, and the flag at
    ``tau``. One-sided error only: every truly-overlapping shingle
    hits (no false negatives — the decontamination guarantee), a
    non-overlapping shingle hits with p ≈ (bits_set/m)^k; comparing
    against contamination_check's exact n_hits shows the FP surplus
    (tests pin superset + FP-rate bound).

    Determinism/exactness: positions are md5-hash60 mod m — identical
    integers in both engines — and the ``k`` probes are k broadcast
    equi-joins (no per-shingle groupBy), so the oracle reproduces the
    filter bit-for-bit and the driver hash-checks the COUNTS, not an
    approximation contract.
    """
    from resin_spark.operators.dedup import shingles

    docs = t["documents"]
    sh = shingles(docs, n)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    # the filter: distinct bit positions set by benchmark shingles
    bench_sh = sh.filter(is_bench)
    pos_frames = [
        bench_sh.select(_bloom_pos(F.col("shingle"), j, m).alias("pos"))
        for j in range(k)
    ]
    bits = pos_frames[0]
    for f in pos_frames[1:]:
        bits = bits.unionByName(f)
    bits = bits.distinct().localCheckpoint(eager=False)
    cand = sh.filter(~is_bench)
    probed = cand
    hit = None
    for j in range(k):
        bj = bits.select(F.col("pos").alias(f"p{j}"),
                         F.lit(True).alias(f"in{j}"))
        probed = probed.withColumn(f"p{j}", _bloom_pos(F.col("shingle"), j, m)) \
            .join(F.broadcast(bj), f"p{j}", "left")
        term = F.col(f"in{j}").isNotNull()
        hit = term if hit is None else (hit & term)
    per_doc = (
        probed.withColumn("hit", hit)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("hit").cast("long")).alias("n_bloom_hits"),
        )
    )
    ratio = F.col("n_bloom_hits") / F.col("n_shingles")
    return (
        docs.filter(~is_bench).select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_bloom_hits", F.lit(0)).cast("long")
            .alias("n_bloom_hits"),
            F.when(F.coalesce("n_shingles", F.lit(0)) > 0, ratio)
            .alias("bloom_ratio"),
            F.coalesce(ratio >= tau, F.lit(False)).alias("flagged"),
        )
        .orderBy("doc_id")
    )


def bloom_contamination_oracle(n: int = 4, tau: float = 0.5,
                               m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    from resin_spark.operators.dedup import _shingles_sql, _token_hash60_sql

    def pos(j: int) -> str:
        expr = "shingle || '#' || '" + str(j) + "'"
        return f"({_token_hash60_sql(expr)}) % {m}"

    bit_union = "\n        UNION\n".join(
        f"        SELECT {pos(j)} AS pos FROM bench_sh" for j in range(k)
    )
    probe_joins = "\n    ".join(
        f"LEFT JOIN bits b{j} ON ({pos(j)}) = b{j}.pos" for j in range(k)
    )
    all_hit = " AND ".join(f"b{j}.pos IS NOT NULL" for j in range(k))
    return f"""
    WITH sh AS ({_shingles_sql(n)}),
    bench_sh AS (SELECT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
    bits AS (
{bit_union}
    ),
    cand AS (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} <> 0),
    probed AS (
        SELECT cand.doc_id, CASE WHEN {all_hit} THEN 1 ELSE 0 END AS hit
        FROM cand
    {probe_joins}
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(hit) AS BIGINT) AS n_bloom_hits
        FROM probed GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_shingles, 0) AS n_shingles,
           COALESCE(n_bloom_hits, 0) AS n_bloom_hits,
           CASE WHEN COALESCE(n_shingles, 0) > 0
                THEN n_bloom_hits / n_shingles END AS bloom_ratio,
           COALESCE(n_bloom_hits / n_shingles >= {tau}, FALSE) AS flagged
    FROM documents d
    LEFT JOIN per_doc USING (doc_id)
    WHERE d.doc_id % {_BENCH_MOD} <> 0
    ORDER BY doc_id
    """


# --- corpus snapshot diff (continuous-ingest version accounting) -------------

def corpus_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-doc diff between two corpus snapshots: (doc_id, status,
    old_md5, new_md5) with status ∈ added | removed | modified |
    unchanged — the version-accounting step a continuous-ingest
    pipeline runs between crawls (what must be re-deduped, re-scored,
    re-embedded; what can be dropped from downstream indexes).

    Content identity is md5(text) (the dedup_exact fingerprint), with
    null text fingerprinting as NULL and compared null-safely — a doc
    whose text flipped to/from null counts as modified. Scale: two
    scans projected to (doc_id, md5) — 24 bytes/row — and ONE
    full-outer equi-join on doc_id; bucketed snapshot tables co-locate
    it to zero exchange. No corpus×corpus shape anywhere.
    """
    o = old.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", F.md5("text").alias("old_md5")).withColumn("_o", F.lit(1))
    n = new.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", F.md5("text").alias("new_md5")).withColumn("_n", F.lit(1))
    return (
        o.join(n, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.when(F.col("_o").isNull(), F.lit("added"))
            .when(F.col("_n").isNull(), F.lit("removed"))
            .when(F.col("old_md5").eqNullSafe(F.col("new_md5")),
                  F.lit("unchanged"))
            .otherwise(F.lit("modified")).alias("status"),
            "old_md5", "new_md5",
        )
        .orderBy("doc_id")
    )


def corpus_delta_summary(old: DataFrame, new: DataFrame) -> DataFrame:
    """(status, n_docs) rollup of corpus_delta — the four-row change
    card a crawl report prints."""
    return (
        corpus_delta(old, new)
        .groupBy("status").agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("status")
    )


# Deterministic snapshot derivation for the driver/oracle form (r6
# promotion): old = documents; new = documents with every 13th doc
# removed, every 11th (surviving) doc's text suffixed, and a synthetic
# added doc per 17th id. Both engines derive the same pair from the
# one physical table.
DELTA_REMOVE_MOD = 13
DELTA_EDIT_MOD = 11
DELTA_ADD_MOD = 17
DELTA_ADD_OFFSET = 1_000_000_000


def corpus_delta_demo(t: Tables) -> DataFrame:
    """corpus_delta over a deterministic synthetic second snapshot of
    the documents table (see the DELTA_* constants) — the
    driver-checkable form; the library API is corpus_delta(old, new)."""
    docs = t["documents"].filter(F.col("doc_id").isNotNull())
    survivors = docs.filter(F.col("doc_id") % DELTA_REMOVE_MOD != 0)
    edited = survivors.select(
        "doc_id",
        F.when(F.col("doc_id") % DELTA_EDIT_MOD == 0,
               F.concat_ws(" ", "text", F.lit("v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    added = docs.filter(F.col("doc_id") % DELTA_ADD_MOD == 0).select(
        (F.col("doc_id") + DELTA_ADD_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.lit("new crawl doc"), "text").alias("text"),
    )
    return corpus_delta(docs, edited.unionByName(added))


def corpus_delta_demo_oracle() -> str:
    return f"""
    WITH old AS (
        SELECT doc_id, md5(text) AS old_md5 FROM documents
        WHERE doc_id IS NOT NULL
    ),
    new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % {DELTA_EDIT_MOD} = 0
                        THEN CASE WHEN text IS NULL THEN 'v2'
                                  ELSE text || ' v2' END
                        ELSE text END) AS new_md5
        FROM documents
        WHERE doc_id IS NOT NULL AND doc_id % {DELTA_REMOVE_MOD} <> 0
        UNION ALL
        SELECT doc_id + {DELTA_ADD_OFFSET},
               md5(CASE WHEN text IS NULL THEN 'new crawl doc'
                        ELSE 'new crawl doc ' || text END)
        FROM documents
        WHERE doc_id IS NOT NULL AND doc_id % {DELTA_ADD_MOD} = 0
    )
    SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN old_md5 IS NOT DISTINCT FROM new_md5 THEN 'unchanged'
                ELSE 'modified' END AS status,
           old_md5, new_md5
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    ORDER BY doc_id
    """


# --- temperature-scaled mixture plan ------------------------------------------

# Token budget for the demo plan. Alpha is FIXED at 0.5 (sqrt): sqrt is
# IEEE-correctly-rounded in every engine, pow(x, alpha) is not — an
# arbitrary-alpha plan could not be oracle-exact.
MIX_BUDGET = 1_000_000


def mixture_plan(docs: DataFrame, budget: int = MIX_BUDGET) -> DataFrame:
    """Per-source resampling plan for a token-budgeted training run —
    the step after domain_mix (pipeline.py:408): normalise the
    temperature weights, allocate the budget, and report how many
    epochs of each source the allocation implies (sampling_rate > 1
    means the source repeats).

    (source, n_docs, n_tokens, token_share, temp_share, planned_tokens,
    sampling_rate, n_epochs) with temp_share ∝ sqrt(n_tokens) — the
    alpha=0.5 temperature flattening used for multilingual/multi-domain
    mixtures (small sources upweighted, never dominated).

    Cross-engine exactness: summing raw sqrt doubles is order-sensitive,
    so each weight is rounded to 6 decimals and summed as
    decimal(28,6) — exact integer arithmetic, order-free; the share is
    then ONE double division, planned_tokens ONE multiply + floor.
    Scale: one token-count scan with map-side partial aggregation onto
    |sources| groups + a broadcast single-row total; the plan relation
    itself is |sources| rows.
    """
    per = (
        T.prepare_documents(docs)
        .select("source", F.size("tk").cast("long").alias("nt"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens"))
        .withColumn("w", F.round(F.sqrt("n_tokens"), 6).cast("decimal(28,6)"))
    )
    total = per.groupBy().agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("w").cast("double").alias("total_w"),
    )
    # try_divide everywhere a divisor can legitimately be 0 (ANSI mode
    # throws on bare /): an all-empty-text source plans 0 tokens with a
    # NULL rate, an all-empty corpus reports NULL shares — loud in the
    # report, never a job abort.
    share = F.try_divide(F.col("w").cast("double"), F.col("total_w"))
    planned = F.coalesce(F.floor(F.lit(float(budget)) * share), F.lit(0))
    return (
        per.join(F.broadcast(total))
        .select(
            "source", "n_docs", "n_tokens",
            F.try_divide("n_tokens", "total_tokens").alias("token_share"),
            share.alias("temp_share"),
            planned.alias("planned_tokens"),
            F.try_divide(planned, F.col("n_tokens")).alias("sampling_rate"),
            F.floor(F.try_divide(planned + F.col("n_tokens") - 1,
                                 F.col("n_tokens"))).alias("n_epochs"),
        )
        .orderBy("source")
    )


def mixture_plan_demo(t: Tables) -> DataFrame:
    """mixture_plan over the documents table at MIX_BUDGET — the
    driver-checkable form; the library API is mixture_plan(docs,
    budget)."""
    return mixture_plan(t["documents"].filter(F.col("doc_id").isNotNull()))


def mixture_plan_demo_oracle(budget: int = MIX_BUDGET) -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH per AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len({toks})) AS BIGINT) AS n_tokens,
               CAST(round(sqrt(CAST(SUM(len({toks})) AS BIGINT)), 6)
                    AS DECIMAL(28,6)) AS w
        FROM documents WHERE doc_id IS NOT NULL GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(w) AS DOUBLE) AS total_w
        FROM per
    )
    SELECT source, n_docs, n_tokens,
           n_tokens / total_tokens AS token_share,
           CAST(w AS DOUBLE) / total_w AS temp_share,
           -- COALESCE mirrors the engine's planned = coalesce(floor, 0):
           -- a source whose every text is NULL has NULL n_tokens/w and
           -- PLANS 0 TOKENS (found by tools/deep_fuzz_staged seed 2007)
           COALESCE(CAST(floor({float(budget)}
                    * (CAST(w AS DOUBLE) / total_w)) AS BIGINT), 0)
               AS planned_tokens,
           COALESCE(CAST(floor({float(budget)}
                    * (CAST(w AS DOUBLE) / total_w)) AS BIGINT), 0)
               / n_tokens AS sampling_rate,
           CAST(floor((COALESCE(CAST(floor({float(budget)}
                    * (CAST(w AS DOUBLE) / total_w)) AS BIGINT), 0)
                    + n_tokens - 1) / n_tokens) AS BIGINT) AS n_epochs
    FROM per, tot ORDER BY source
    """


def source_divergence(docs: DataFrame) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution —
    KL(source ‖ corpus) in bits: the quantitative "which source is the
    odd one out" card behind mixture decisions (a source whose token
    distribution diverges hard deserves its own quality pass before it
    gets weight). No smoothing needed: every source token exists in
    the corpus, so p_corpus > 0 wherever p_source > 0.

    (source, n_tokens, n_distinct, kl_bits), kl_bits ≥ 0 with 0 iff
    the source's distribution equals the corpus's.

    Cross-engine exactness (the nb_lang_classify recipe,
    traindata.py:860): both ratios are exact long→double divisions and
    log2 is rounded to 6 decimals at the per-token grain. The sum is
    then kept EXACT by factoring p_s out of the per-token term:
    KL = Σ (c_st/n_s)·r_t = (Σ c_st·r_t) / n_s with n_s constant per
    source — c_st·r_t is an exact decimal product (r_t enters as
    decimal(18,6), scale-matched to its own rounding, so the
    double→decimal cast is unambiguous), the sum is an exact decimal,
    and the one division per source is a single IEEE double op both
    engines compute identically. The previous form summed
    (p_s·r_t)::decimal(28,12) — a FULL-precision double product cast
    to scale 12, whose binary-vs-shortest-decimal rounding diverged
    between engines at the 12th decimal (staged-fuzz seed 2512, found
    the first run the generator emitted multi-line texts). Scale: one
    (source, tok) count shuffle, a tok-level rollup for the corpus
    marginals, one join back on tok (Zipf-skewed — AQE territory),
    |sources| output rows. The NB model-build shape.
    """
    toks = (
        T.prepare_documents(docs)
        .filter(F.col("doc_id").isNotNull() & F.col("has_text"))
        .select("source", F.explode("tk").alias("tok"))
    )
    # localCheckpoint (r11): the (source, tok) count frame feeds the
    # per-source totals, the corpus marginals AND the final KL join —
    # three independent branches that would each re-run the token
    # explode + count shuffle. Vocabulary-sized materialisation.
    st = (
        toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_st"))
        .localCheckpoint(eager=False)
    )
    s_tot = st.groupBy("source").agg(
        F.sum("c_st").alias("n_s"),
        F.count(F.lit(1)).alias("n_distinct"))
    c_tot = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    n_all = c_tot.groupBy().agg(F.sum("c_t").alias("n_corpus"))
    p_s = F.col("c_st") / F.col("n_s")
    p_c = F.col("c_t") / F.col("n_corpus")
    r6 = F.round(F.log2(p_s / p_c), 6).cast("decimal(18,6)")
    term = F.col("c_st").cast("decimal(20,0)") * r6
    return (
        st.join(s_tot, "source").join(c_tot, "tok")
        .join(F.broadcast(n_all))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.max("n_distinct").alias("n_distinct"),
            (F.sum(term).cast("double")
             / F.max("n_s").cast("double")).alias("kl_bits"),
        )
        .orderBy("source")
    )


def source_divergence_oracle() -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH tk AS (
        SELECT source, unnest({toks}) AS tok FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    st AS (
        SELECT source, tok, COUNT(*) AS c_st FROM tk GROUP BY source, tok
    ),
    s_tot AS (
        SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s,
               COUNT(*) AS n_distinct
        FROM st GROUP BY source
    ),
    c_tot AS (
        SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY tok
    ),
    n_all AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_corpus FROM c_tot)
    SELECT st.source, MAX(n_s) AS n_tokens,
           MAX(n_distinct) AS n_distinct,
           CAST(SUM(CAST(c_st AS DECIMAL(20,0))
                    * CAST(round(log2((c_st / n_s) / (c_t / n_corpus)), 6)
                           AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(MAX(n_s) AS DOUBLE) AS kl_bits
    FROM st
    JOIN s_tot ON st.source = s_tot.source
    JOIN c_tot ON st.tok = c_tot.tok
    CROSS JOIN n_all
    GROUP BY st.source ORDER BY st.source
    """


# --- C53: apply_mixture — execute the mixture plan ----------------------------

# Salt decorrelating the epoch-boost coin from stratified_sample's keep
# coin (both hash doc_id); lockstep with apply_mixture_demo_oracle.
MIX_SALT = ":mix"


def mixture_copy_count(rate_col, salt: str = MIX_SALT):
    """Row-local epoch-copy count for a doc given its source's
    sampling_rate: floor(rate) + a salted 16-bit md5 coin on the
    fractional part. ONE expression shared by the batch operator and
    the streaming twin so their copy assignments agree bit-for-bit."""
    rate = F.coalesce(rate_col, F.lit(0.0))
    base = F.floor(rate).cast("long")
    frac = rate - F.floor(rate)
    thr = F.lpad(F.lower(F.hex(F.floor(frac * 65536).cast("long"))),
                 4, "0")
    h4 = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 4)
    return (base + F.when(h4 < thr, F.lit(1)).otherwise(F.lit(0))) \
        .cast("long")


def apply_mixture(docs: DataFrame, budget: int = MIX_BUDGET,
                  salt: str = MIX_SALT,
                  plan: DataFrame | None = None) -> DataFrame:
    """Materialise mixture_plan deterministically: per document,
    (doc_id, source, n_copies) — how many epochs this doc appears in a
    training run that realises its source's sampling_rate. Every doc
    gets floor(rate) copies plus one more when its md5 coin lands under
    the fractional part, so E[realised tokens] = planned tokens with
    NO RNG state: reproducible across engines, runs and partitionings
    (the stratified_sample recipe, decorrelated by ``salt``; the coin
    is 16-bit — rate granularity 1/65536, the same step the sampler
    uses).

    n_copies = 0 drops the doc (downsampled source); > 1 repeats it
    (upsampled source). Consumers explode n_copies into epoch rows or
    feed it to a weighted loader directly — at 100 TB you ship the
    (doc_id, n_copies) relation, never the replicated corpus.

    Scale: the |sources|-row plan broadcasts; one scan computes the
    coin and copy count map-side. No shuffle beyond mixture_plan's own
    token-count aggregate.
    """
    # plan over the SAME relation that executes: NULL-doc_id rows are
    # excluded from both sides, or their token mass would deflate every
    # source's sampling_rate relative to what materialises (review r6).
    # ``plan`` lets a caller reuse one mixture_plan across plan+execute.
    docs = docs.filter(F.col("doc_id").isNotNull())
    if plan is None:
        plan = mixture_plan(docs, budget)
    plan = plan.select("source", "sampling_rate")
    return (
        docs
        .join(F.broadcast(plan), "source", "left")
        .select(
            "doc_id", "source",
            mixture_copy_count(F.col("sampling_rate"), salt)
            .alias("n_copies"),
        )
    )


def apply_mixture_demo(t: Tables, budget: int = MIX_BUDGET,
                       plan: DataFrame | None = None) -> DataFrame:
    """Per-source realisation accounting of apply_mixture vs the plan:
    (source, n_docs, realized_docs, realized_tokens, planned_tokens,
    realization_ratio). The driver-checkable rollup — the per-doc
    relation is the library surface. ``plan`` (r11) optionally reuses a
    precomputed mixture_plan relation (the melt shares one plan across
    its mixture + mixture_applied sections); default self-contained."""
    docs = T.prepare_documents(
        t["documents"].filter(F.col("doc_id").isNotNull()))
    # ONE mixture_plan serves both the executor and the accounting join
    # (it was computed twice before — two identical corpus scans)
    full_plan = mixture_plan(docs, budget) if plan is None else plan
    copies = apply_mixture(docs, budget, plan=full_plan)
    toks = docs.select("doc_id", F.size("tk").cast("long").alias("nt"))
    plan = full_plan.select("source", "planned_tokens")
    per = (
        copies.join(toks, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_copies").alias("realized_docs"),
            F.sum(F.col("n_copies") * F.col("nt")).alias("realized_tokens"),
        )
    )
    return (
        per.join(F.broadcast(plan), "source")
        .select(
            "source", "n_docs", "realized_docs", "realized_tokens",
            "planned_tokens",
            F.try_divide(F.col("realized_tokens").cast("double"),
                         F.col("planned_tokens")).alias("realization_ratio"),
        )
        .orderBy("source")
    )


def apply_mixture_demo_oracle(budget: int = MIX_BUDGET,
                              salt: str = MIX_SALT) -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH per AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len({toks})) AS BIGINT) AS n_tokens,
               CAST(round(sqrt(CAST(SUM(len({toks})) AS BIGINT)), 6)
                    AS DECIMAL(28,6)) AS w
        FROM documents WHERE doc_id IS NOT NULL GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(w) AS DOUBLE) AS total_w FROM per
    ),
    plan AS (
        -- COALESCE mirrors mixture_plan's planned = coalesce(floor, 0)
        -- for an all-NULL-text source (deep-fuzz seed 2007)
        SELECT source,
               COALESCE(CAST(floor({float(budget)}
                        * (CAST(w AS DOUBLE) / total_w)) AS BIGINT), 0)
                   AS planned_tokens,
               COALESCE(CAST(floor({float(budget)}
                        * (CAST(w AS DOUBLE) / total_w)) AS BIGINT), 0)
                   / n_tokens AS sampling_rate
        FROM per, tot
    ),
    coins AS (
        SELECT d.doc_id, d.source, len({toks}) AS nt,
               COALESCE(p.sampling_rate, 0.0) AS rate,
               substr(md5(CAST(d.doc_id AS VARCHAR) || '{salt}'), 1, 4)
                   AS h4
        FROM documents d LEFT JOIN plan p ON d.source = p.source
        WHERE d.doc_id IS NOT NULL
    ),
    copies AS (
        SELECT doc_id, source, nt,
               CAST(floor(rate) AS BIGINT)
               + CASE WHEN h4 < lpad(lower(to_hex(CAST(floor(
                          (rate - floor(rate)) * 65536) AS BIGINT))),
                          4, '0')
                      THEN 1 ELSE 0 END AS n_copies
        FROM coins
    ),
    rolled AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_copies) AS BIGINT) AS realized_docs,
               CAST(SUM(n_copies * nt) AS BIGINT) AS realized_tokens
        FROM copies GROUP BY source
    )
    SELECT r.source, r.n_docs, r.realized_docs, r.realized_tokens,
           p.planned_tokens,
           CAST(r.realized_tokens AS DOUBLE) / NULLIF(p.planned_tokens, 0)
               AS realization_ratio
    FROM rolled r JOIN plan p ON r.source = p.source
    ORDER BY r.source
    """


# --- C58: chunk_documents — within-doc sliding-window chunking ----------------

# Lockstep knobs shared with chunk_documents_oracle.
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16


def chunk_documents(docs: DataFrame, chunk_tokens: int = CHUNK_TOKENS,
                    overlap: int = CHUNK_OVERLAP) -> DataFrame:
    """Sliding-window chunking WITHIN each document: (doc_id, chunk_id,
    start_pos, n_tokens, chunk_text) with chunks of ``chunk_tokens``
    tokens stepping by ``chunk_tokens − overlap`` — the
    retrieval/embedding-prep shape (every RAG and embedding pipeline
    cuts long docs this way so context survives the cut), complementing
    pack_sequences (C17), which cuts a tape ACROSS docs with no
    overlap.

    Chunk layout: starts at 1, 1+step, 1+2·step, …; a doc with
    n ≤ chunk_tokens yields exactly one chunk; otherwise
    1 + ceil((n − chunk_tokens)/step) chunks, the last possibly short
    (never empty, never a chunk fully contained in the previous one).
    Zero-token and NULL-text docs yield no chunks. All integer
    arithmetic — exact cross-engine, no floats anywhere.

    Scale: one scan; the explode fans each doc to its own chunks
    (row-local — no shuffle at all); downstream groupings shuffle on
    (doc_id, chunk_id) like any exploded relation.
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap={overlap} must be smaller than "
            f"chunk_tokens={chunk_tokens} (the window must advance)")
    step = chunk_tokens - overlap
    base = (
        T.prepare_documents(docs).select("doc_id", "tk")
        .filter(F.col("doc_id").isNotNull())
        .withColumn("n", F.size("tk"))
        .filter(F.col("n") > 0)
    )
    n_chunks = F.when(
        F.col("n") <= chunk_tokens, F.lit(1)
    ).otherwise(
        (F.lit(1) + F.floor((F.col("n") - chunk_tokens + step - 1)
                            / F.lit(step))).cast("int"))
    start = F.lit(1) + F.col("chunk_id") * step
    length = F.least(F.lit(chunk_tokens), F.col("n") - start + 1)
    return (
        base.withColumn("chunk_id",
                        F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            start.cast("int").alias("start_pos"),
            length.cast("int").alias("n_tokens"),
            F.concat_ws(" ", F.slice("tk", start, length))
            .alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def chunk_documents_demo(t: Tables) -> DataFrame:
    return chunk_documents(t["documents"])


def chunk_documents_oracle(chunk_tokens: int = CHUNK_TOKENS,
                           overlap: int = CHUNK_OVERLAP) -> str:
    toks = T.tokens_sql("text")
    step = chunk_tokens - overlap
    return f"""
    WITH d AS (
        SELECT doc_id, {toks} AS tk
        FROM documents WHERE doc_id IS NOT NULL
    ),
    sized AS (
        SELECT doc_id, tk, len(tk) AS n FROM d WHERE len(tk) > 0
    ),
    fanned AS (
        SELECT doc_id, tk, n,
               unnest(range(0, CASE WHEN n <= {chunk_tokens} THEN 1
                   ELSE 1 + CAST(floor((n - {chunk_tokens} + {step} - 1)
                                       / {step}) AS BIGINT) END))
                   AS chunk_id
        FROM sized
    )
    SELECT doc_id,
           CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST(1 + chunk_id * {step} AS INTEGER) AS start_pos,
           CAST(least({chunk_tokens},
                      n - (1 + chunk_id * {step}) + 1) AS INTEGER)
               AS n_tokens,
           array_to_string(list_transform(
               range(CAST(1 + chunk_id * {step} AS BIGINT),
                     CAST(1 + chunk_id * {step}
                          + least({chunk_tokens},
                                  n - (1 + chunk_id * {step}) + 1)
                          AS BIGINT)),
               j -> tk[CAST(j AS INTEGER)]), ' ') AS chunk_text
    FROM fanned
    ORDER BY doc_id, chunk_id
    """


# --- C59 + D15: deterministic dataset split + cross-split leakage ------------

# Train/val/test assignment is the stratified_sample 16-bit md5 coin
# against two integer hex boundaries — reproducible across engines,
# runs, and partitionings, with zero RNG state to ship or seed.
# SPLIT_SALT decorrelates the split coin from every other md5 coin in
# the suite (sampling keep, mixture realisation, benchmark slice).
SPLIT_SALT = "split-v1:"
SPLIT_TEST_FRAC = 0.10
SPLIT_VAL_FRAC = 0.10
# the train fraction is DERIVED once in Python and inlined as the same
# IEEE double literal on both engines — never re-computed in SQL
SPLIT_TRAIN_FRAC = 1.0 - SPLIT_TEST_FRAC - SPLIT_VAL_FRAC

# split_leakage pair source: the D2 exact PPJoin relation at its
# driver operating point — LEAK_N / LEAK_TAU are lockstep knobs with
# the oracle (change both sides together).
LEAK_N = 3
LEAK_TAU = 0.5


def _split_bounds() -> tuple[str, str]:
    return (_rate_threshold(SPLIT_TEST_FRAC),
            _rate_threshold(SPLIT_TEST_FRAC + SPLIT_VAL_FRAC))


def split_of(doc_id_col):
    """train/val/test label as a PURE EXPRESSION of doc_id: the first 4
    hex chars of md5(salt || id) against two integer 16-bit boundaries
    (test below ~0.10, val below ~0.20, train above). Because the label
    is derivable anywhere from the id alone, downstream ops never join
    a split-assignment table — split_leakage labels its pair relation
    map-side with zero extra shuffle."""
    lo, hi = _split_bounds()
    h = F.substring(
        F.md5(F.concat(F.lit(SPLIT_SALT), doc_id_col.cast("string"))), 1, 4)
    return (F.when(h < lo, F.lit("test"))
            .when(h < hi, F.lit("val"))
            .otherwise(F.lit("train")))


def _split_sql(id_expr: str) -> str:
    lo, hi = _split_bounds()
    coin = f"substr(md5('{SPLIT_SALT}' || CAST({id_expr} AS VARCHAR)), 1, 4)"
    return (f"CASE WHEN {coin} < '{lo}' THEN 'test' "
            f"WHEN {coin} < '{hi}' THEN 'val' ELSE 'train' END")


def dataset_split(docs: DataFrame) -> DataFrame:
    """Per-(source, split) accounting card for the deterministic
    train/val/test assignment: (source, split, n_docs, n_chars,
    doc_share, target_frac) — the sheet a pipeline signs off before
    export, showing each source's realised split shares beside the
    targets (the md5 coin is uniform, so shares converge at 1/65536
    granularity; small sources visibly wobble, which is the point of
    printing them).

    Exactness: the gate is a plain string compare of hex coins against
    Python-computed literals; shares are single IEEE divisions of
    engine-identical integers. Scale: one scan, map-side partial agg
    onto |sources|×3 groups; the share window partitions those bounded
    groups only — never the corpus.
    """
    d = docs.filter(F.col("doc_id").isNotNull()).select(
        "source",
        split_of(F.col("doc_id")).alias("split"),
        F.coalesce(F.col("n_chars").cast("long"), F.lit(0)).alias("nc"),
    )
    src_w = Window.partitionBy("source")
    target = (F.when(F.col("split") == "test", F.lit(SPLIT_TEST_FRAC))
              .when(F.col("split") == "val", F.lit(SPLIT_VAL_FRAC))
              .otherwise(F.lit(SPLIT_TRAIN_FRAC)))
    return (
        d.groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nc").alias("n_chars"))
        .withColumn("doc_share",
                    F.try_divide(F.col("n_docs").cast("double"),
                                 F.sum("n_docs").over(src_w)))
        .withColumn("target_frac", target)
        .select("source", "split", "n_docs", "n_chars", "doc_share",
                "target_frac")
        .orderBy("source", "split")
    )


def dataset_split_demo(t: Tables) -> DataFrame:
    return dataset_split(t["documents"])


def dataset_split_demo_oracle() -> str:
    split = _split_sql("doc_id")
    return f"""
    WITH d AS (
        SELECT source, {split} AS split,
               COALESCE(CAST(n_chars AS BIGINT), 0) AS nc
        FROM documents WHERE doc_id IS NOT NULL
    ),
    g AS (
        SELECT source, split, COUNT(*) AS n_docs,
               CAST(SUM(nc) AS BIGINT) AS n_chars
        FROM d GROUP BY 1, 2
    )
    SELECT source, split, n_docs, n_chars,
           CAST(n_docs AS DOUBLE)
               / NULLIF(SUM(n_docs) OVER (PARTITION BY source), 0)
               AS doc_share,
           CASE split WHEN 'test' THEN CAST({SPLIT_TEST_FRAC!r} AS DOUBLE)
                      WHEN 'val' THEN CAST({SPLIT_VAL_FRAC!r} AS DOUBLE)
                      ELSE CAST({SPLIT_TRAIN_FRAC!r} AS DOUBLE) END
               AS target_frac
    FROM g
    ORDER BY source, split
    """


def split_leakage(docs: DataFrame, n: int = LEAK_N,
                  tau: float = LEAK_TAU,
                  pairs: DataFrame | None = None) -> DataFrame:
    """Cross-split near-duplicate leakage card: the D2 exact-Jaccard
    pair relation labelled by each side's train/val/test assignment —
    (split_lo, split_hi, n_pairs, pair_share). The (train, test) and
    (train, val) rows are the eval-contamination mechanism random
    document-level splitting cannot avoid (near-dup copies of a test
    doc land in train; Lee et al. 2022 measure the effect): run this
    BEFORE trusting a held-out loss, and if the cross rows are
    non-trivial, split by dedup cluster instead of by doc.

    Exactness: the pair relation is the oracle-green D2 computation;
    labels are pure doc_id expressions; counting and one IEEE division
    land identically on both engines. Scale: PPJoin pair stage is the
    proven exact-at-scale design; labelling is MAP-SIDE (no
    assignment-table join — split_of derives from the id), and the
    final aggregate sees ≤ 6 (split, split) groups.

    ``pairs`` (r11): an optional PRECOMPUTED D2 pair relation at the
    same (n, tau) point — the driver entries pass one shared
    localCheckpoint so the governance card, the cluster split and this
    card price the PPJoin once per process instead of once per
    consumer (VERDICT r9 item 4). None (the default, and every
    non-driver caller) keeps the self-contained dataflow.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, n, tau)
    sa, sb = split_of(F.col("doc_a")), split_of(F.col("doc_b"))
    tot_w = Window.partitionBy()
    return (
        pairs.select(F.least(sa, sb).alias("split_lo"),
                     F.greatest(sa, sb).alias("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("pair_share",
                    F.try_divide(F.col("n_pairs").cast("double"),
                                 F.sum("n_pairs").over(tot_w)))
        .orderBy("split_lo", "split_hi")
    )


def split_leakage_demo(t: Tables) -> DataFrame:
    return split_leakage(t["documents"])


def split_leakage_demo_oracle(n: int = LEAK_N, tau: float = LEAK_TAU) -> str:
    sa, sb = _split_sql("doc_a"), _split_sql("doc_b")
    return f"""
    WITH sh AS ({_shingles_sql(n)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {tau}
    ),
    lab AS (
        SELECT least({sa}, {sb}) AS split_lo,
               greatest({sa}, {sb}) AS split_hi
        FROM pairs
    ),
    g AS (
        SELECT split_lo, split_hi, COUNT(*) AS n_pairs
        FROM lab GROUP BY 1, 2
    )
    SELECT split_lo, split_hi, n_pairs,
           CAST(n_pairs AS DOUBLE) / NULLIF(SUM(n_pairs) OVER (), 0)
               AS pair_share
    FROM g
    ORDER BY split_lo, split_hi
    """


# --- C60: leakage-FREE cluster-aware split ------------------------------------

def cluster_components(docs: DataFrame, n: int = LEAK_N,
                       tau: float = LEAK_TAU,
                       max_iters: int = 25,
                       pairs: DataFrame | None = None) -> DataFrame:
    """(doc_id, component) connected-component labels over the SAME
    exact-Jaccard pair graph split_leakage scores — component = min
    doc_id reachable (the D6 label contract); docs with no near-dup
    edge are their own component.

    Scale: the pair stage is the proven exact PPJoin (D2); the labels
    are dedup.connected_components over the pairs, D6's gated driver
    union-find or its min-label + pointer-jumping loop.

    ``pairs``: optional precomputed pair relation (see split_leakage).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, n, tau)
    labels = connected_components(pairs, max_iters)
    return (docs.filter(F.col("doc_id").isNotNull()).select("doc_id")
            .join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", "doc_id").alias("component")))


def cluster_split(docs: DataFrame,
                  pairs: DataFrame | None = None) -> DataFrame:
    """Leakage-FREE train/val/test split card: every document takes the
    split of its near-dup component's canonical id (min doc_id), so
    every pair split_leakage would score is intra-component and hence
    intra-split — cross-split near-dup leakage is ZERO by construction
    at the defining (LEAK_N, LEAK_TAU) point. This is the "split by
    dedup cluster instead of by doc" fix the D15 card motivates
    (Lee et al. 2022 measure the doc-level-split contamination it
    removes).

    Output: (source, split, n_docs, n_moved, doc_share, target_frac) —
    n_moved counts docs whose cluster split differs from their
    doc-level C59 split (the docs the cluster rule re-routed; 0 on a
    fully-deduped corpus, so the column doubles as a residual-dup
    meter). Exactness: component labels are min-id integers over the
    oracle-green D2 pair relation; split coins are plain hex-string
    compares of the salted md5; shares one IEEE division of identical
    longs. Scale: the component loop is the only iterative stage; the
    card itself is one map-side partial agg onto |sources|×3 groups
    with the share window over those bounded groups only.

    ``pairs``: optional precomputed pair relation (see split_leakage).
    """
    comp = cluster_components(docs, pairs=pairs)
    cs = split_of(F.col("component"))
    own = split_of(F.col("doc_id"))
    d = (docs.filter(F.col("doc_id").isNotNull())
         .select("doc_id", "source")
         .join(comp, "doc_id")
         .select("source", cs.alias("split"),
                 (cs != own).cast("long").alias("moved")))
    src_w = Window.partitionBy("source")
    target = (F.when(F.col("split") == "test", F.lit(SPLIT_TEST_FRAC))
              .when(F.col("split") == "val", F.lit(SPLIT_VAL_FRAC))
              .otherwise(F.lit(SPLIT_TRAIN_FRAC)))
    return (
        d.groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("moved").alias("n_moved"))
        .withColumn("doc_share",
                    F.try_divide(F.col("n_docs").cast("double"),
                                 F.sum("n_docs").over(src_w)))
        .withColumn("target_frac", target)
        .select("source", "split", "n_docs", "n_moved", "doc_share",
                "target_frac")
        .orderBy("source", "split")
    )


def cluster_split_demo(t: Tables) -> DataFrame:
    return cluster_split(t["documents"])


def cluster_split_demo_oracle(n: int = LEAK_N, tau: float = LEAK_TAU) -> str:
    split_c = _split_sql("component")
    split_d = _split_sql("d.doc_id")
    return f"""
    WITH RECURSIVE sh AS ({_shingles_sql(n)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {tau}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(doc, reach) AS (
        SELECT doc_id, doc_id FROM documents WHERE doc_id IS NOT NULL
        UNION
        SELECT w.doc, e.b FROM walk w JOIN edges e ON e.a = w.reach
    ),
    comp AS (SELECT doc AS doc_id, MIN(reach) AS component
             FROM walk GROUP BY doc),
    lab AS (
        SELECT d.source, {split_c} AS split,
               CASE WHEN {split_c} <> {split_d} THEN 1 ELSE 0 END AS moved
        FROM documents d JOIN comp USING (doc_id)
    ),
    g AS (
        SELECT source, split, COUNT(*) AS n_docs,
               CAST(SUM(moved) AS BIGINT) AS n_moved
        FROM lab GROUP BY 1, 2
    )
    SELECT source, split, n_docs, n_moved,
           CAST(n_docs AS DOUBLE)
               / NULLIF(SUM(n_docs) OVER (PARTITION BY source), 0)
               AS doc_share,
           CASE split WHEN 'test' THEN CAST({SPLIT_TEST_FRAC!r} AS DOUBLE)
                      WHEN 'val' THEN CAST({SPLIT_VAL_FRAC!r} AS DOUBLE)
                      ELSE CAST({SPLIT_TRAIN_FRAC!r} AS DOUBLE) END
               AS target_frac
    FROM g
    ORDER BY source, split
    """


# --- D16: SEMANTIC cross-split leakage ------------------------------------------

# The D5 driver operating point — lockstep with the oracle.
SEM_LEAK_TAU = 0.4


def semantic_split_leakage(emb: DataFrame,
                           tau: float = SEM_LEAK_TAU,
                           pairs: DataFrame | None = None) -> DataFrame:
    """Cross-split SEMANTIC leakage card: the D5 exact embedding-cosine
    pair relation labelled by each side's split — (split_lo, split_hi,
    n_pairs, pair_share). D15 catches verbatim/near-verbatim copies;
    this catches the harder class n-gram overlap misses entirely —
    PARAPHRASES of test documents sitting in train (same meaning, new
    words), which still inflate a held-out loss. Because the split is
    a pure expression of the id and vec_id carries the document id,
    the SAME coin labels both tables — documents and their embeddings
    always agree on the split with no mapping join.

    Exactness: the pair relation is the oracle-exact D5 computation
    (margin-gated candidates, strict JVM re-verify); labels are pure
    id expressions; counting and one IEEE division land identically.
    Scale: candidate stage is the size-gated matmul/LSH route (never
    all-pairs past the gate); labelling is MAP-SIDE; the final
    aggregate sees ≤ 6 groups.

    ``pairs``: optional precomputed D5 pair relation at the same tau
    (see split_leakage — the same driver-entry memo rationale).
    """
    if pairs is None:
        pairs = embedding_dedup_pairs(emb, tau)
    sa, sb = split_of(F.col("vec_a")), split_of(F.col("vec_b"))
    tot_w = Window.partitionBy()
    return (
        pairs.select(F.least(sa, sb).alias("split_lo"),
                     F.greatest(sa, sb).alias("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("pair_share",
                    F.try_divide(F.col("n_pairs").cast("double"),
                                 F.sum("n_pairs").over(tot_w)))
        .orderBy("split_lo", "split_hi")
    )


def semantic_split_leakage_demo(t: Tables) -> DataFrame:
    return semantic_split_leakage(t["embeddings"])


def semantic_split_leakage_oracle(tau: float = SEM_LEAK_TAU) -> str:
    """Nests the D5 oracle as the pair CTE — any embedding_dedup change
    re-windows this op too."""
    sa, sb = _split_sql("vec_a"), _split_sql("vec_b")
    return f"""
    WITH pairs AS ({embedding_dedup_oracle(tau)}),
    lab AS (
        SELECT least({sa}, {sb}) AS split_lo,
               greatest({sa}, {sb}) AS split_hi
        FROM pairs
    ),
    g AS (
        SELECT split_lo, split_hi, COUNT(*) AS n_pairs
        FROM lab GROUP BY 1, 2
    )
    SELECT split_lo, split_hi, n_pairs,
           CAST(n_pairs AS DOUBLE) / NULLIF(SUM(n_pairs) OVER (), 0)
               AS pair_share
    FROM g
    ORDER BY split_lo, split_hi
    """


# --- split_governance_card: one driver slot pinning the split/leakage block -----

# Lockstep layout shared by split_governance_card and its oracle (the
# dataset_card_typed precedent): section -> (key cols, numeric cols,
# string cols). Changing any nested card's columns means changing BOTH
# the engine relation and this table together.
GOV_SECTIONS = (
    ("splits", ["source", "split"], ["n_docs", "n_chars", "doc_share",
                                     "target_frac"], []),
    ("leakage", ["split_lo", "split_hi"], ["n_pairs", "pair_share"], []),
    ("cluster_splits", ["source", "split"], ["n_docs", "n_moved",
                                             "doc_share", "target_frac"],
     []),
    ("semantic_leakage", ["split_lo", "split_hi"], ["n_pairs",
                                                    "pair_share"], []),
    ("perplexity_curve", ["threshold"], ["n_docs_kept", "n_tokens_kept",
                                         "doc_share", "token_share"], []),
)


def split_governance_card(t: Tables,
                          jaccard_pairs: DataFrame | None = None,
                          embedding_pairs: DataFrame | None = None
                          ) -> DataFrame:
    """One-page split-governance sheet: (section, metric, value_num,
    value_str) melting the FIVE audited governance cards — realised
    split shares (C59), cross-split near-dup leakage (D15), the
    leakage-free cluster split (C60), semantic cross-split leakage
    (D16), and the perplexity-cut retention curve (C61) — into ONE
    flat relation, each section calling the corresponding demo
    operator VERBATIM (section-equality pinned in tests). The
    dataset_card_typed compression precedent applied to the
    split-governance block: one driver slot transitively pins five
    staged operators because every number IS the nested card's number
    by construction.

    This is the sheet a training run signs off before touching a
    held-out loss: what the splits look like, how much near-dup and
    paraphrase mass crosses them, what the cluster-split rule had to
    move, and what every candidate perplexity cut would keep.

    Exactness: numeric cells stay DOUBLE; every cell is the nested
    parity-green card's value unchanged. The threshold key renders
    identically in both engines (shortest-repr doubles in the plain
    decimal range). Scale: pair stages are the proven PPJoin /
    gated-matmul shapes; each card is bounded; the melt adds a
    row-local explode and a five-way union.

    ``jaccard_pairs`` / ``embedding_pairs`` (r11): optional
    precomputed D2 / D5 pair relations at the cards' defining
    operating points, threaded into the leakage, cluster-split and
    semantic-leakage sections so one process-shared localCheckpoint
    replaces the three(+) independent PPJoin / matmul recomputes the
    same driver pass used to pay (VERDICT r9 item 4). Defaults keep
    every section the verbatim self-contained demo call.
    """
    from resin_spark.operators.traindata import perplexity_threshold_curve

    sections = {
        "splits": dataset_split_demo(t),
        "leakage": split_leakage(t["documents"], pairs=jaccard_pairs),
        "cluster_splits": cluster_split(t["documents"],
                                        pairs=jaccard_pairs),
        "semantic_leakage": semantic_split_leakage(t["embeddings"],
                                                   pairs=embedding_pairs),
        "perplexity_curve": perplexity_threshold_curve(t),
    }
    parts = [_melt_typed(sections[name], name, keys)
             for name, keys, _, _ in GOV_SECTIONS]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("section", "metric", "value_num")


def split_governance_card_oracle() -> str:
    """One SQL statement nesting the five governance demos' oracle CTEs
    and melting them with the same metric-name scheme as the engine
    card (the health_card_typed machinery, shared)."""
    from resin_spark.operators.health import _typed_melt_sql
    from resin_spark.operators.traindata import (
        perplexity_threshold_curve_oracle)

    bodies = {
        "splits": dataset_split_demo_oracle(),
        "leakage": split_leakage_demo_oracle(),
        "cluster_splits": cluster_split_demo_oracle(),
        "semantic_leakage": semantic_split_leakage_oracle(),
        "perplexity_curve": perplexity_threshold_curve_oracle(),
    }
    ctes = ",\n".join(f"card_{s} AS (\n{bodies[s]}\n)" for s in bodies)
    melts = "\nUNION ALL\n".join(_typed_melt_sql(*spec)
                                 for spec in GOV_SECTIONS)
    return (f"WITH RECURSIVE {ctes}\n"
            f"SELECT * FROM (\n{melts}\n)\n"
            f"ORDER BY section, metric, value_num")


# --- curation_tuning_card: one slot for the ENTIRE remaining staged queue -------

# Lockstep layout shared by curation_tuning_card and its oracle:
# section -> (key cols, numeric cols, string cols).
TUNE_SECTIONS = (
    ("mixture", ["source"], ["n_docs", "n_tokens", "token_share",
                             "temp_share", "planned_tokens",
                             "sampling_rate", "n_epochs"], []),
    ("mixture_applied", ["source"], ["n_docs", "realized_docs",
                                     "realized_tokens", "planned_tokens",
                                     "realization_ratio"], []),
    ("divergence", ["source"], ["n_tokens", "n_distinct", "kl_bits"], []),
    ("lang_confusion", ["true_lang", "pred_lang"], ["n_docs",
                                                    "share_of_true"], []),
    ("cdc_chunks", ["doc_id"], ["n_tokens", "n_chunks", "n_dup_chunks",
                                "dup_chunk_share"], []),
    ("dedup_curve", ["threshold"], ["n_pairs", "n_docs_in_pairs",
                                    "dup_doc_share"], []),
    # doc_id rides in the KEY fold (exact string), not the numeric melt:
    # value_num is DOUBLE, and xxhash64-scale doc_ids (WARC ingest,
    # extract.py) exceed 2^53 — a double cell would round them in BOTH
    # engines identically, staying hash-green while publishing a wrong
    # id. cdc_chunks already follows this rule.
    ("snippets", ["rank", "doc_id"], ["pos"], ["snippet"]),
    ("facets", ["facet", "value"], ["n_hits", "hit_share"], []),
    ("chunks", ["doc_id", "chunk_id"], ["start_pos", "n_tokens"],
     ["chunk_text"]),
)


def curation_tuning_card(t: Tables) -> DataFrame:
    """One-page curation-tuning sheet: (section, metric, value_num,
    value_str) melting the NINE remaining staged operators — mixture
    plan (C45) + its realised execution (C53), per-source KL divergence
    (C50), the language-label confusion matrix (C46), CDC chunk dedup
    accounting (C47), the dedup-threshold retention curve (D13), BM25
    result snippets (C56) and facets (C62), and the RAG chunk layout
    (C58) — each section calling the member demo operator VERBATIM
    (section-equality pinned in tests). The third application of the
    dataset_card_typed compression precedent: with this slot green, the
    staged-ops queue is EMPTY — every oracle-backed operator in the
    repo is either driver-checked directly or nested verbatim in a
    driver-checked melt.

    Exactness: numeric cells stay DOUBLE; every cell is the nested
    parity-green member's value unchanged; key columns render
    identically (strings/bigints, plus plain-decimal-range doubles for
    the threshold grid). Scale: members are the audited bounded plans
    (broadcast grids, k-bounded pages, per-doc row-local chunking);
    the melt adds a row-local explode and a nine-way union.
    """
    from resin_spark.operators.dedup import dedup_threshold_curve_demo
    from resin_spark.operators.textops import search_facets, search_snippets
    from resin_spark.operators.traindata import cdc_chunk_stats, lang_confusion

    from resin_spark.operators.textops import bm25_scores

    # Shared section inputs (r11, the split_governance_card pairs=
    # precedent): the mixture plan feeds BOTH the mixture and
    # mixture_applied sections, and ONE bm25 corpus-scoring relation
    # feeds both result-page sections (snippets + facets) — each is a
    # bounded relation (|sources| rows / |hit docs| rows), built once
    # and localCheckpointed instead of re-planned per section. Row
    # identity is unchanged (section-equality pins stay the license).
    # Every member reads the once-prepared corpus (r12, _card_documents).
    docs = _card_documents(t)
    pt = {"documents": docs}
    plan = mixture_plan_demo(pt).localCheckpoint(eager=False)
    scores = bm25_scores(pt).localCheckpoint(eager=False)
    sections = {
        "mixture": plan,
        "mixture_applied": apply_mixture_demo(pt, plan=plan),
        "divergence": source_divergence(docs),
        "lang_confusion": lang_confusion(pt),
        "cdc_chunks": cdc_chunk_stats(pt),
        "dedup_curve": dedup_threshold_curve_demo(pt),
        "snippets": search_snippets(pt, scores=scores),
        "facets": search_facets(pt, scores=scores),
        "chunks": chunk_documents_demo(pt),
    }
    parts = [_melt_typed(sections[name], name, keys)
             for name, keys, _, _ in TUNE_SECTIONS]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("section", "metric", "value_num", "value_str")


def curation_tuning_card_oracle() -> str:
    """One SQL statement nesting the nine members' oracle CTEs and
    melting them with the same metric-name scheme (the
    health_card_typed machinery, shared)."""
    from resin_spark.operators.dedup import dedup_threshold_curve_oracle
    from resin_spark.operators.health import _typed_melt_sql
    from resin_spark.operators.textops import (search_facets_oracle,
                                               search_snippets_oracle)
    from resin_spark.operators.traindata import (cdc_chunk_stats_oracle,
                                                 lang_confusion_oracle)

    bodies = {
        "mixture": mixture_plan_demo_oracle(),
        "mixture_applied": apply_mixture_demo_oracle(),
        "divergence": source_divergence_oracle(),
        "lang_confusion": lang_confusion_oracle(),
        "cdc_chunks": cdc_chunk_stats_oracle(),
        "dedup_curve": dedup_threshold_curve_oracle(),
        "snippets": search_snippets_oracle(),
        "facets": search_facets_oracle(),
        "chunks": chunk_documents_oracle(),
    }
    ctes = ",\n".join(f"card_{s} AS (\n{bodies[s]}\n)" for s in bodies)
    melts = "\nUNION ALL\n".join(_typed_melt_sql(*spec)
                                 for spec in TUNE_SECTIONS)
    return (f"WITH {ctes}\n"
            f"SELECT * FROM (\n{melts}\n)\n"
            f"ORDER BY section, metric, value_num, value_str")


# --- dataset_card: the one-page release data sheet ------------------------------

def _melt(df: DataFrame, section: str, key_cols: list[str]) -> DataFrame:
    """(section, metric, value) rows from a small card relation:
    metric = '<non-key col>' prefixed by the row's key values, value =
    the cell as a string. Runs on CARD relations only (|rows| bounded
    by sources/langs/stages/buckets) — the melt explode is trivial."""
    value_cols = [c for c in df.columns if c not in key_cols]
    prefix = (F.concat_ws("/", *[
        F.concat_ws("=", F.lit(k), F.col(k).cast("string"))
        for k in key_cols
    ]) if key_cols else F.lit(None))
    pairs = F.array(*[
        F.struct(F.lit(c).alias("m"), F.col(c).cast("string").alias("v"))
        for c in value_cols
    ])
    metric = (F.concat_ws("/", prefix, F.col("kv.m")) if key_cols
              else F.col("kv.m"))
    return df.select(F.explode(pairs).alias("kv"), *key_cols).select(
        F.lit(section).alias("section"),
        metric.alias("metric"),
        F.col("kv.v").alias("value"),
    )


def _card_documents(t: Tables) -> DataFrame:
    """The release cards' shared documents input: ONE scan + ONE
    tokenize (T.prepare_documents without ``text``), materialised
    EAGERLY so the card's many concurrent broadcast-subtree jobs read
    cached blocks instead of racing to compute the same lazy lineage
    (r12 stage profile: 32-task stages at ~95% blocked time,
    executorRunTime 66 s vs 1.1 s CPU). Every section applies its own
    filters, so section rows equal the standalone members'."""
    return (T.prepare_documents(t["documents"]).drop("text")
            .localCheckpoint(eager=True))


def dataset_card(t: Tables) -> DataFrame:
    """The one-page data sheet a release ships next to its shards —
    (section, metric, value) strings melting the audited cards into a
    single relation: corpus totals (C35), per-language composition
    (C36), the filter-funnel attrition table (C33), duplication-mass
    histogram (D12), and realised split shares (C59). Every number is
    BY CONSTRUCTION the corresponding checked entry's number (the
    sections call those operators verbatim — pinned in tests), so the
    published card can't drift from what the gates verified.

    Scale: every source relation is already a bounded card; the melt
    adds a trivial row-local explode and a union of five small frames.
    """
    from resin_spark.operators.dedup import dup_cluster_histogram
    from resin_spark.operators.traindata import corpus_stats, lang_stats

    # shared eager tokenize — see _card_documents (r12)
    docs = _card_documents(t)
    pt = {"documents": docs}
    parts = [
        _melt(corpus_stats(pt), "corpus", []),
        _melt(lang_stats(pt), "languages", ["lang"]),
        _melt(filter_funnel(pt), "funnel", ["stage", "stage_name"]),
        _melt(dup_cluster_histogram(docs), "duplication", ["cluster_size"]),
        _melt(dataset_split(docs), "splits", ["source", "split"]),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("section", "metric")


def _melt_typed(df: DataFrame, section: str, key_cols: list[str]) -> DataFrame:
    """(section, metric, value_num, value_str) — the machine face of
    :func:`_melt`. Numeric cells stay DOUBLE instead of being cast to
    string: float→string formatting is ENGINE-SPECIFIC (Java prints
    shortest-repr with scientific notation under 1e-3, DuckDB prints
    plain decimal; %.6f-style formats tie-break differently on x/128
    dyadics), while the doubles themselves are bit-identical across
    engines because each cell is the underlying oracle-checked card's
    value unchanged (bigint→double exact under 2^53). Key columns are
    strings/bigints only — safe to fold into the metric name."""
    from pyspark.sql.types import NumericType

    fields = {f.name: f.dataType for f in df.schema.fields}
    value_cols = [c for c in df.columns if c not in key_cols]
    prefix = (F.concat_ws("/", *[
        F.concat_ws("=", F.lit(k), F.col(k).cast("string"))
        for k in key_cols
    ]) if key_cols else F.lit(None))

    def cell(c):
        if isinstance(fields[c], NumericType):
            return F.struct(F.lit(c).alias("m"),
                            F.col(c).cast("double").alias("vn"),
                            F.lit(None).cast("string").alias("vs"))
        return F.struct(F.lit(c).alias("m"),
                        F.lit(None).cast("double").alias("vn"),
                        F.col(c).cast("string").alias("vs"))

    pairs = F.array(*[cell(c) for c in value_cols])
    metric = (F.concat_ws("/", prefix, F.col("kv.m")) if key_cols
              else F.col("kv.m"))
    return df.select(F.explode(pairs).alias("kv"), *key_cols).select(
        F.lit(section).alias("section"),
        metric.alias("metric"),
        F.col("kv.vn").alias("value_num"),
        F.col("kv.vs").alias("value_str"),
    )


def dataset_card_typed(t: Tables) -> DataFrame:
    """C63 driver face: :func:`dataset_card` with typed cells, so the
    whole five-section release card is hash-checkable against one SQL
    oracle (dataset_card_typed_oracle nests the five checked cards'
    CTEs verbatim). Same sections, same metric names; value_num carries
    numerics as DOUBLE, value_str carries strings — scalar columns
    only, per the driver canonicaliser contract.

    Scale: identical to dataset_card — five bounded card relations,
    a row-local explode, and a union.
    """
    from resin_spark.operators.dedup import dup_cluster_histogram
    from resin_spark.operators.traindata import corpus_stats, lang_stats

    # ONE scan + ONE tokenize for all five sections (r12; the r11
    # pairs=/scores= subtree-sharing precedent) — see _card_documents.
    docs = _card_documents(t)
    pt = {"documents": docs}
    parts = [
        _melt_typed(corpus_stats(pt), "corpus", []),
        _melt_typed(lang_stats(pt), "languages", ["lang"]),
        _melt_typed(filter_funnel(pt), "funnel", ["stage", "stage_name"]),
        _melt_typed(dup_cluster_histogram(docs), "duplication",
                    ["cluster_size"]),
        _melt_typed(dataset_split(docs), "splits", ["source", "split"]),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("section", "metric", "value_num")


# lockstep card layout shared by dataset_card_typed and its oracle:
# section -> (oracle-fn spec, key cols, numeric cols, string cols).
# Changing any underlying card's columns means changing BOTH the
# engine relation and this table together.
CARD_SECTIONS = (
    ("corpus", [], ["n_docs", "n_tokens", "vocab", "type_token_ratio",
                    "mean_doc_tokens", "p50_doc_tokens", "p95_doc_tokens",
                    "n_langs", "top_lang_share"], ["top_lang"]),
    ("languages", ["lang"], ["n_docs", "n_tokens", "vocab",
                             "mean_doc_tokens", "p50_doc_tokens",
                             "p95_doc_tokens", "doc_share", "token_share"],
     []),
    ("funnel", ["stage", "stage_name"], ["docs_in", "docs_out",
                                         "docs_dropped", "tokens_out"], []),
    ("duplication", ["cluster_size"], ["n_clusters", "n_docs",
                                       "doc_share"], []),
    ("splits", ["source", "split"], ["n_docs", "n_chars", "doc_share",
                                     "target_frac"], []),
)


def dataset_card_typed_oracle() -> str:
    """One SQL statement nesting the five checked cards' oracle CTEs
    and melting them with the same metric-name scheme as _melt_typed
    (concat_ws skips NULL key values identically in both engines)."""
    from resin_spark.operators.dedup import dup_cluster_histogram_oracle
    from resin_spark.operators.traindata import (corpus_stats_oracle,
                                                 lang_stats_oracle)

    bodies = {
        "corpus": corpus_stats_oracle(),
        "languages": lang_stats_oracle(),
        "funnel": filter_funnel_oracle(),
        "duplication": dup_cluster_histogram_oracle(),
        "splits": dataset_split_demo_oracle(),
    }
    ctes = ",\n".join(f"card_{s} AS (\n{bodies[s]}\n)" for s in bodies)

    def melt(section, keys, nums, strs):
        prefix = ("concat_ws('/', " + ", ".join(
            f"concat_ws('=', '{k}', CAST({k} AS VARCHAR))" for k in keys)
            + ")")

        def metric(c):
            return (f"concat_ws('/', {prefix}, '{c}')" if keys
                    else f"'{c}'")

        sels = [
            f"SELECT '{section}' AS section, {metric(c)} AS metric, "
            f"CAST({c} AS DOUBLE) AS value_num, "
            f"CAST(NULL AS VARCHAR) AS value_str FROM card_{section}"
            for c in nums
        ] + [
            f"SELECT '{section}', {metric(c)}, CAST(NULL AS DOUBLE), "
            f"CAST({c} AS VARCHAR) FROM card_{section}"
            for c in strs
        ]
        return "\nUNION ALL\n".join(sels)

    melts = "\nUNION ALL\n".join(melt(*spec) for spec in CARD_SECTIONS)
    return (f"WITH {ctes}\n"
            f"SELECT * FROM (\n{melts}\n)\n"
            f"ORDER BY section, metric, value_num")
