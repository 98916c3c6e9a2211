"""Corpus-health operators: encoding-anomaly detection and cross-source
shingle overlap (r6 staging; r7 driver-slot candidates).

These are training-data QA steps beyond reference parity (the reference
has no corpus-health surface; closest analog is the text validation in
src/Resin.TextAnalysis/StringAnalyzer.cs:714-743 FindUnicodeRange, which
C7/unicode_range already covers): a 100 TB web crawl always contains
encoding damage (UTF-8 decoded as Latin-1, stray control bytes, U+FFFD
replacement characters from lossy transcodes), and a multi-source corpus
needs a cross-source contamination card before mixture weights are
trusted.

Scale notes:
- encoding_anomalies is one scan, all counting inside whole-stage
  codegen (length/replace/regexp_count — no UDF, no explode), then a
  groupBy on the low-cardinality source key. Holds unchanged at 100 TB.
- source_overlap_matrix is shingle-explode → distinct on
  (source, md5) → self-equi-join on the 32-hex shingle key. Matches per
  key are bounded by the number of sources (≤ a few dozen in any real
  mixture), so the join output is ≤ n_sources × distinct-shingle count —
  linear, never doc×doc. At 100 TB swap md5 hex for xxhash64 longs
  (8-byte shuffle keys; md5 is kept here because the DuckDB oracle has
  no xxhash64) and pre-aggregate per (source, band of sh) if the
  distinct-shingle set itself needs sharding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resin_spark.functions import text as T

Tables = dict[str, DataFrame]

# UTF-8-bytes-read-as-Latin-1 lead forms: 0xC3/0xC2 lead bytes render as
# 'Ã'/'Â'; the 0xE2 0x80 punctuation family renders with the 'â€' prefix
# ('â€™' for RIGHT SINGLE QUOTE, 'â€œ' for LEFT DOUBLE QUOTE, …).
MOJI_MARKS: tuple[str, ...] = ("Ã", "Â", "â€")
# C0 control characters except \t \n \r (legitimate in text).
CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
REPLACEMENT_CHAR = "�"


def _occurrences(col, mark: str):
    """Exact occurrence count of a literal substring — length-difference
    trick, stays in codegen (no regex escaping worries for multi-byte
    literals)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(mark), F.lit(""))))
        / F.lit(len(mark))
    ).cast("long")


def _occurrences_sql(expr: str, mark: str) -> str:
    esc = mark.replace("'", "''")
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{esc}', '')))"
        f" / {len(mark)} AS BIGINT)"
    )


def encoding_anomaly_flags(docs: DataFrame) -> DataFrame:
    """Per-doc damage counts: (doc_id, source, n_repl, n_ctrl, n_moji)
    — row-local, no shuffle; shared by the per-source card and the
    streaming twin (streaming/quality.py:stream_encoding_anomalies)."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    moji = None
    for m in MOJI_MARKS:
        c = _occurrences(txt, m)
        moji = c if moji is None else moji + c
    return docs.select(
        "doc_id",
        "source",
        _occurrences(txt, REPLACEMENT_CHAR).alias("n_repl"),
        F.regexp_count(txt, F.lit(CTRL_RE)).cast("long").alias("n_ctrl"),
        moji.alias("n_moji"),
    )


def encoding_anomalies(docs: DataFrame) -> DataFrame:
    """Per-source encoding-damage card: (source, n_docs, n_flagged,
    repl_chars, ctrl_chars, moji_marks, flagged_share).

    - repl_chars: U+FFFD replacement characters (lossy transcodes).
    - ctrl_chars: C0 controls other than tab/newline/CR (binary junk
      that leaked into a text field).
    - moji_marks: occurrences of the classic UTF-8-as-Latin-1 lead
      forms 'Ã', 'Â', 'â€' — near-zero in clean text of any language,
      dense in double-encoded text.
    - flagged: a doc with any of the above; flagged_share = n_flagged /
      n_docs (exact single division of exact longs).

    One scan, no explode, no UDF; the only shuffle is the final
    per-source aggregate.
    """
    per_doc = encoding_anomaly_flags(docs)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                ((F.col("n_repl") + F.col("n_ctrl") + F.col("n_moji")) > 0)
                .cast("long")
            ).alias("n_flagged"),
            F.sum("n_repl").alias("repl_chars"),
            F.sum("n_ctrl").alias("ctrl_chars"),
            F.sum("n_moji").alias("moji_marks"),
        )
        .withColumn(
            "flagged_share", F.col("n_flagged") / F.col("n_docs")
        )
        .orderBy("source")
    )


# Deterministic corruption for the driver/oracle form: the synthetic
# documents table is clean ASCII, so the demo injects damage the same
# way in both engines — every 7th doc gets a mojibake suffix, every
# 11th a replacement char, every 13th a BEL control (a doc divisible by
# several gets several).
ANOM_MOJI_MOD = 7
ANOM_REPL_MOD = 11
ANOM_CTRL_MOD = 13
ANOM_MOJI_SUFFIX = " donâ€™t cafÃ©"  # 'donâ€™t cafÃ©'
ANOM_CTRL_CHAR = "\x07"


def corrupt_demo_docs(docs: DataFrame) -> DataFrame:
    """documents with deterministic synthetic encoding damage (see the
    ANOM_* constants) — shared by the demo entry and its streaming twin."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    for mod, suffix in (
        (ANOM_MOJI_MOD, ANOM_MOJI_SUFFIX),
        (ANOM_REPL_MOD, REPLACEMENT_CHAR),
        (ANOM_CTRL_MOD, ANOM_CTRL_CHAR),
    ):
        txt = F.when(F.col("doc_id") % mod == 0,
                     F.concat(txt, F.lit(suffix))).otherwise(txt)
    return docs.select("doc_id", txt.alias("text"), "lang", "source")


def encoding_anomalies_demo(t: Tables) -> DataFrame:
    """encoding_anomalies over the deterministically corrupted snapshot —
    the driver-checkable form; the library API is
    encoding_anomalies(docs)."""
    return encoding_anomalies(
        corrupt_demo_docs(t["documents"].filter(F.col("doc_id").isNotNull()))
    )


def _corrupt_sql() -> str:
    moji = ANOM_MOJI_SUFFIX.replace("'", "''")
    return f"""
        SELECT source,
               COALESCE(text, '')
               || CASE WHEN doc_id % {ANOM_MOJI_MOD} = 0
                       THEN '{moji}' ELSE '' END
               || CASE WHEN doc_id % {ANOM_REPL_MOD} = 0
                       THEN '{REPLACEMENT_CHAR}' ELSE '' END
               || CASE WHEN doc_id % {ANOM_CTRL_MOD} = 0
                       THEN chr(7) ELSE '' END AS text
        FROM documents WHERE doc_id IS NOT NULL
    """


def encoding_anomalies_demo_oracle() -> str:
    occ = lambda m: _occurrences_sql("text", m)  # noqa: E731
    moji = " + ".join(occ(m) for m in MOJI_MARKS)
    return f"""
    WITH corrupted AS ({_corrupt_sql()}),
    per_doc AS (
        SELECT source,
               {occ(REPLACEMENT_CHAR)} AS n_repl,
               CAST(len(regexp_extract_all(text, '{CTRL_RE}')) AS BIGINT)
                   AS n_ctrl,
               {moji} AS n_moji
        FROM corrupted
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_repl + n_ctrl + n_moji > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(n_repl) AS BIGINT) AS repl_chars,
           CAST(SUM(n_ctrl) AS BIGINT) AS ctrl_chars,
           CAST(SUM(n_moji) AS BIGINT) AS moji_marks,
           CAST(SUM(CASE WHEN n_repl + n_ctrl + n_moji > 0
                         THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*)
               AS flagged_share
    FROM per_doc GROUP BY source ORDER BY source
    """


# --- cross-source shingle overlap --------------------------------------------

OVERLAP_SHINGLE_N = 3


def _source_shingles(docs: DataFrame, n: int) -> DataFrame:
    """(source, sh) with distinct md5'd word-n-gram shingles per source.

    Same gram construction as dedup.shingles (dedup.py:66) but keyed on
    source and deduplicated across the whole source, not per doc — kept
    separate so the dedup entries' audited plan is untouched."""
    toks = T.tokens("text")
    base = (
        docs.select("source", toks.alias("tk"))
        .filter(F.size("tk") >= n)
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("tk") - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at("tk", (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return (
        base.select("source", F.explode(F.array_distinct(grams)).alias("shingle"))
        .select("source", F.md5("shingle").alias("sh"))
        .distinct()
    )


def source_overlap_matrix(docs: DataFrame,
                          n: int = OVERLAP_SHINGLE_N) -> DataFrame:
    """Cross-source contamination card: one row per unordered source
    pair (source_a < source_b) with exact shingle-set overlap —
    (source_a, source_b, n_a, n_b, n_shared, jaccard). Pairs with zero
    overlap are included (a mixture report must show independence too).

    Plan: shingle explode → distinct (source, md5) → self-equi-join on
    the shingle key (≤ n_sources matches per key — linear output), plus
    a broadcast cross of the tiny per-source size table to restore
    zero-overlap pairs. No doc×doc or shingle×shingle shape anywhere.

    Sources whose every doc is shorter than the shingle width still
    appear (n=0 shingles); their pairs report jaccard 0.0 — a report
    row per source pair is the contract, 0/0 defined as no overlap.
    """
    # localCheckpoint (r11): the distinct (source, shingle) relation
    # feeds the per-source sizes AND both sides of the overlap
    # self-join — three branches that would each re-run the shingle
    # explode + distinct. Materialises the deduped shingle keys only.
    sh = _source_shingles(docs, n).localCheckpoint(eager=False)
    sizes = (
        docs.select("source").distinct()
        .join(sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh")),
              "source", "left")
        .select("source", F.coalesce("n_sh", F.lit(0)).alias("n_sh"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"),
                      F.col("n_sh").alias("n_b"))
    pairs = sa.join(sb, F.col("source_a") < F.col("source_b"))
    return (
        pairs.join(shared, ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b", "n_a", "n_b",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.when(F.col("n_a") + F.col("n_b") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce("n_shared", F.lit(0))
                / (F.col("n_a") + F.col("n_b")
                   - F.coalesce("n_shared", F.lit(0)))).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def source_overlap_demo(t: Tables) -> DataFrame:
    """source_overlap_matrix over the documents table — the
    driver-checkable form."""
    return source_overlap_matrix(
        t["documents"].filter(F.col("doc_id").isNotNull())
    )


def _source_shingles_sql(n: int) -> str:
    toks = T.tokens_sql("text")
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
        SELECT DISTINCT source, md5(shingle) AS sh FROM (
            SELECT source, unnest(list_distinct(list_transform(
                       range(1, len(toks) - {n - 2}), i -> {parts}))) AS shingle
            FROM (SELECT source, {toks} AS toks FROM documents
                  WHERE doc_id IS NOT NULL)
            WHERE len(toks) >= {n}
        )
    """


def source_overlap_demo_oracle(n: int = OVERLAP_SHINGLE_N) -> str:
    return f"""
    WITH sh AS ({_source_shingles_sql(n)}),
    sizes AS (
        SELECT d.source, COALESCE(c.n_sh, 0) AS n_sh
        FROM (SELECT DISTINCT source FROM documents
              WHERE doc_id IS NOT NULL) d
        LEFT JOIN (SELECT source, COUNT(*) AS n_sh FROM sh
                   GROUP BY source) c ON d.source = c.source
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           COALESCE(n_shared, 0) AS n_shared,
           CASE WHEN sa.n_sh + sb.n_sh = 0 THEN 0.0
                ELSE COALESCE(n_shared, 0)
                     / (sa.n_sh + sb.n_sh - COALESCE(n_shared, 0))
           END AS jaccard
    FROM sizes sa
    JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN shared ON source_a = sa.source AND source_b = sb.source
    ORDER BY source_a, source_b
    """


# --- per-column table profile -------------------------------------------------

_SPARK_TO_SQLISH = {
    "bigint": "bigint", "long": "bigint", "int": "int",
    "double": "double", "float": "float", "string": "string",
    "boolean": "boolean", "date": "date", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}


def table_profile(df: DataFrame) -> DataFrame:
    """Deequ/TFDV-style per-column quality profile: one row per column
    with (col_name, dtype, n_rows, n_null, n_distinct, min_value,
    max_value) — the schema-drift / null-rate / cardinality check a
    pipeline runs on every new snapshot before trusting it.

    min/max are rendered as strings for a uniform flat schema; exact
    cross-engine string casts hold for integer and string columns (the
    documents table) — float-column renderings differ between engines,
    so profile floats through an explicit round/format column upstream
    if oracle-exactness is needed.

    One scan: every metric folds into a single aggregate row (the
    multi-countDistinct expands the scan ×|columns| map-side — the
    standard cost of exact profiles; at 100 TB swap in
    approx_count_distinct and keep the rest), then explodes to the
    |columns|-row report. No joins, no second pass.
    """
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for i, c in enumerate(cols):
        aggs += [
            # coalesce: SUM over an empty table is NULL, but a profile
            # of an empty snapshot should report 0 nulls, not unknown
            F.coalesce(F.sum(F.isnull(c).cast("long")), F.lit(0))
            .alias(f"_null_{i}"),
            F.countDistinct(c).alias(f"_dist_{i}"),
            F.min(c).cast("string").alias(f"_min_{i}"),
            F.max(c).cast("string").alias(f"_max_{i}"),
        ]
    one = df.agg(*aggs)
    entries = F.array(*[
        F.struct(
            F.lit(c).alias("col_name"),
            F.lit(_SPARK_TO_SQLISH.get(
                df.schema[c].dataType.simpleString(),
                df.schema[c].dataType.simpleString())).alias("dtype"),
            F.col(f"_null_{i}").alias("n_null"),
            F.col(f"_dist_{i}").alias("n_distinct"),
            F.col(f"_min_{i}").alias("min_value"),
            F.col(f"_max_{i}").alias("max_value"),
        )
        for i, c in enumerate(cols)
    ])
    return (
        one.select(F.col("_rows").alias("n_rows"),
                   F.explode(entries).alias("e"))
        .select("e.col_name", "e.dtype", "n_rows", "e.n_null",
                "e.n_distinct", "e.min_value", "e.max_value")
        .orderBy("col_name")
    )


def table_profile_demo(t: Tables) -> DataFrame:
    """table_profile over the documents table — the driver-checkable
    form; the library API is table_profile(df)."""
    return table_profile(t["documents"])


def table_profile_demo_oracle() -> str:
    cols = [("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
            ("source", "string"), ("n_chars", "bigint")]
    branches = " UNION ALL ".join(
        f"""SELECT '{c}' AS col_name, '{d}' AS dtype, n_rows,
                   _null_{c} AS n_null, _dist_{c} AS n_distinct,
                   _min_{c} AS min_value, _max_{c} AS max_value FROM a"""
        for c, d in cols
    )
    metrics = ", ".join(
        f"""CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS _null_{c},
            COUNT(DISTINCT {c}) AS _dist_{c},
            CAST(MIN({c}) AS VARCHAR) AS _min_{c},
            CAST(MAX({c}) AS VARCHAR) AS _max_{c}"""
        for c, _ in cols
    )
    return f"""
    WITH a AS (SELECT COUNT(*) AS n_rows, {metrics} FROM documents)
    SELECT * FROM ({branches}) ORDER BY col_name
    """


def profile_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot-to-snapshot profile drift: table_profile of both
    snapshots joined per column — (col_name, dtype, n_rows_old,
    n_rows_new, n_null_old, n_null_new, n_distinct_old,
    n_distinct_new, null_share_delta) — the gate a pipeline runs
    between crawls: a column whose null share or cardinality jumps is
    broken upstream even when every individual row still parses.

    A column present in only one snapshot (schema drift) keeps its row
    with the missing side's counts NULL — loud, not silent. Cost: the
    two one-scan profiles + a |columns|-row join; null_share_delta is
    exact long divisions differenced once.
    """
    po = table_profile(old).select(
        "col_name", F.col("dtype").alias("dtype_old"),
        F.col("n_rows").alias("n_rows_old"),
        F.col("n_null").alias("n_null_old"),
        F.col("n_distinct").alias("n_distinct_old"),
    )
    pn = table_profile(new).select(
        "col_name", F.col("dtype").alias("dtype_new"),
        F.col("n_rows").alias("n_rows_new"),
        F.col("n_null").alias("n_null_new"),
        F.col("n_distinct").alias("n_distinct_new"),
    )
    return (
        po.join(pn, "col_name", "full_outer")
        .select(
            "col_name",
            F.coalesce("dtype_new", "dtype_old").alias("dtype"),
            "n_rows_old", "n_rows_new",
            "n_null_old", "n_null_new",
            "n_distinct_old", "n_distinct_new",
            (F.try_divide("n_null_new", "n_rows_new")
             - F.try_divide("n_null_old", "n_rows_old"))
            .alias("null_share_delta"),
        )
        .orderBy("col_name")
    )


def profile_drift_demo(t: Tables) -> DataFrame:
    """profile_drift between the documents table and its
    deterministically corrupted demo snapshot (corrupt_demo_docs drops
    the n_chars column — exercising the schema-drift path) — the
    driver-checkable form."""
    docs = t["documents"].filter(F.col("doc_id").isNotNull())
    return profile_drift(docs, corrupt_demo_docs(docs))


def profile_drift_demo_oracle() -> str:
    old_cols = [("doc_id", "bigint"), ("text", "string"),
                ("lang", "string"), ("source", "string"),
                ("n_chars", "bigint")]
    new_cols = [("doc_id", "bigint"), ("text", "string"),
                ("lang", "string"), ("source", "string")]

    def side(cols, rel, suf):
        metrics = ", ".join(
            f"""CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS _null_{c},
                COUNT(DISTINCT {c}) AS _dist_{c}"""
            for c, _ in cols)
        branches = " UNION ALL ".join(
            f"""SELECT '{c}' AS col_name, '{d}' AS dtype_{suf},
                       n_rows AS n_rows_{suf}, _null_{c} AS n_null_{suf},
                       _dist_{c} AS n_distinct_{suf} FROM a_{suf}"""
            for c, d in cols)
        return (f"a_{suf} AS (SELECT COUNT(*) AS n_rows, {metrics}"
                f" FROM {rel}), p_{suf} AS ({branches})")

    return f"""
    WITH corrupted AS (
        SELECT doc_id,
               COALESCE(text, '')
               || CASE WHEN doc_id % {ANOM_MOJI_MOD} = 0
                       THEN '{ANOM_MOJI_SUFFIX.replace("'", "''")}'
                       ELSE '' END
               || CASE WHEN doc_id % {ANOM_REPL_MOD} = 0
                       THEN '{REPLACEMENT_CHAR}' ELSE '' END
               || CASE WHEN doc_id % {ANOM_CTRL_MOD} = 0
                       THEN chr(7) ELSE '' END AS text,
               lang, source
        FROM documents WHERE doc_id IS NOT NULL
    ),
    {side(old_cols, "(SELECT * FROM documents WHERE doc_id IS NOT NULL)",
          "old")},
    {side(new_cols, "corrupted", "new")}
    SELECT COALESCE(p_old.col_name, p_new.col_name) AS col_name,
           COALESCE(dtype_new, dtype_old) AS dtype,
           n_rows_old, n_rows_new,
           n_null_old, n_null_new,
           n_distinct_old, n_distinct_new,
           n_null_new / n_rows_new - n_null_old / n_rows_old
               AS null_share_delta
    FROM p_old FULL OUTER JOIN p_new ON p_old.col_name = p_new.col_name
    ORDER BY col_name
    """


# --- vocab_coverage: tokenizer-vocabulary fitness per source ------------------

# Lockstep knob: vocabulary size appears in BOTH vocab_coverage and its
# oracle. The synthetic corpus has ~31 distinct terms at every SF, so 16
# keeps roughly half the vocabulary OOV — the demo's coverage shares are
# non-trivial and the top-v boundary cut is live.
COVERAGE_V = 16


def vocab_coverage(docs: DataFrame, v: int = COVERAGE_V) -> DataFrame:
    """Per-source coverage card against the top-``v`` corpus vocabulary:
    (source, n_tokens, covered_tokens, coverage_share, distinct_terms,
    oov_terms, oov_share, mean_token_chars).

    The pre-tokenizer-training question: how well does one shared
    vocabulary serve each source of a mixture? A source whose
    occurrence coverage lags the corpus pays more OOV fallbacks /
    longer subword splits per token (the "fertility" cost); the
    mean_token_chars column is the bytes-per-token proxy that moves
    with it. Complements mixture_plan (how much of each source) and
    source_divergence (how differently each source speaks).

    Exactness: shares are single IEEE divisions of exact longs; the
    top-v vocabulary is cut on the total order (count DESC, term ASC)
    so the boundary is deterministic. Sources whose documents tokenize
    to nothing stay in the card with zero counts and NULL shares (the
    source_overlap_matrix zero-shingle lesson).

    Scale: one corpus scan → (source, term) counts; the term marginal
    rolls up from that aggregate (no second scan); the vocabulary is
    TakeOrdered v rows and broadcast back; the final rollup is one
    low-cardinality groupBy. The only corpus-sized shuffle is the
    (source, term) aggregate — the C30/C50 model-build shape.
    """
    base = docs.filter(F.col("doc_id").isNotNull())
    # localCheckpoint (r11): the (source, term) count frame feeds both
    # the top-v vocabulary cut and the per-source coverage join — two
    # independent branches that would each re-run the token explode +
    # count shuffle. Vocabulary-sized materialisation.
    st = (
        base.select("source", F.explode(T.tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    st = st.localCheckpoint(eager=False)
    vocab = (
        st.groupBy("term").agg(F.sum("cnt").alias("tot"))
        .orderBy(F.col("tot").desc(), "term").limit(v)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    from pyspark.sql.functions import broadcast

    per_src = (
        st.join(broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNotNull(), F.col("cnt"))
                  .otherwise(F.lit(0))).alias("covered_tokens"),
            F.count(F.lit(1)).alias("distinct_terms"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.lit(1))
                  .otherwise(F.lit(0))).alias("oov_terms"),
            F.sum(F.length("term") * F.col("cnt")).alias("n_chars"),
        )
    )
    srcs = base.select("source").distinct()
    zero = F.lit(0).cast("long")
    return (
        srcs.join(per_src, "source", "left")
        .select(
            "source",
            F.coalesce("n_tokens", zero).alias("n_tokens"),
            F.coalesce("covered_tokens", zero).alias("covered_tokens"),
            F.try_divide(F.col("covered_tokens").cast("double"),
                         F.col("n_tokens")).alias("coverage_share"),
            F.coalesce("distinct_terms", zero).alias("distinct_terms"),
            F.coalesce("oov_terms", zero).alias("oov_terms"),
            F.try_divide(F.col("oov_terms").cast("double"),
                         F.col("distinct_terms")).alias("oov_share"),
            F.try_divide(F.col("n_chars").cast("double"),
                         F.col("n_tokens")).alias("mean_token_chars"),
        )
        .orderBy("source")
    )


def vocab_coverage_demo(t: Tables) -> DataFrame:
    return vocab_coverage(t["documents"])


def vocab_coverage_demo_oracle(v: int = COVERAGE_V) -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH toks AS (
        SELECT source, unnest({toks}) AS term
        FROM documents WHERE doc_id IS NOT NULL
    ),
    st AS (SELECT source, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
    vocab AS (
        SELECT term FROM (
            SELECT term, SUM(cnt) AS tot FROM st GROUP BY 1
        ) ORDER BY tot DESC, term LIMIT {v}
    ),
    flagged AS (
        SELECT st.source, st.term, st.cnt, vc.term IS NOT NULL AS iv
        FROM st LEFT JOIN vocab vc ON st.term = vc.term
    ),
    per AS (
        SELECT source,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN iv THEN cnt ELSE 0 END) AS BIGINT)
                   AS covered_tokens,
               COUNT(*) AS distinct_terms,
               CAST(SUM(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT)
                   AS oov_terms,
               CAST(SUM(len(term) * cnt) AS BIGINT) AS n_chars
        FROM flagged GROUP BY 1
    ),
    srcs AS (
        SELECT DISTINCT source FROM documents WHERE doc_id IS NOT NULL
    )
    SELECT s.source,
           COALESCE(n_tokens, 0) AS n_tokens,
           COALESCE(covered_tokens, 0) AS covered_tokens,
           CAST(covered_tokens AS DOUBLE) / NULLIF(n_tokens, 0)
               AS coverage_share,
           COALESCE(distinct_terms, 0) AS distinct_terms,
           COALESCE(oov_terms, 0) AS oov_terms,
           CAST(oov_terms AS DOUBLE) / NULLIF(distinct_terms, 0)
               AS oov_share,
           CAST(n_chars AS DOUBLE) / NULLIF(n_tokens, 0)
               AS mean_token_chars
    FROM srcs s LEFT JOIN per USING (source)
    ORDER BY source
    """


# --- length_histogram: doc-length distribution per source ---------------------

def length_histogram(docs: DataFrame) -> DataFrame:
    """Per-source power-of-two histogram of document token lengths:
    (source, bucket, bucket_lo, bucket_hi, n_docs, n_tokens, doc_share,
    cum_doc_share) with bucket k covering [2^(k-1), 2^k - 1] and
    bucket 0 the zero-token docs. The pack-budget chooser: C17 cuts
    the token tape every `budget` tokens, and this card shows where
    the corpus mass sits relative to a candidate budget (how many docs
    straddle cuts, how much of a source is head vs tail).

    Exactness: the bucket is len(bin(n_tokens)) — integer bit length,
    no log2 (whose last-ulp rounding is implementation-defined and
    could flip floor() at power-of-two boundaries); shares are single
    IEEE divisions; the cumulative runs over ≤ 64 buckets per source.

    Scale: one scan → per-(source, bucket) counts (map-side partial
    agg onto |sources|×64 groups); the share/cumulative windows
    partition by source over those bounded groups — never the corpus.
    """
    # null text tokenizes to NULL — land it in bucket 0 with the
    # zero-token docs (NULL ordering differs between engines, so a
    # NULL bucket would also break the cumulative window cross-engine)
    nt = F.coalesce(F.size(T.tokens("text")).cast("long"), F.lit(0))
    bucketed = (
        docs.filter(F.col("doc_id").isNotNull())
        .select(
            "source", nt.alias("nt"),
            F.when(nt == 0, F.lit(0))
            .otherwise(F.length(F.bin(nt)).cast("int")).alias("bucket"),
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )
    src_w = Window.partitionBy("source")
    cum_w = src_w.orderBy("bucket") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        bucketed
        .withColumn("bucket_lo", F.expr(
            "CAST(CASE WHEN bucket = 0 THEN 0 "
            "ELSE shiftleft(1L, bucket - 1) END AS LONG)"))
        .withColumn("bucket_hi", F.expr(
            "CAST(CASE WHEN bucket = 0 THEN 0 "
            "ELSE shiftleft(1L, bucket) - 1 END AS LONG)"))
        .withColumn("doc_share",
                    F.try_divide(F.col("n_docs").cast("double"),
                                 F.sum("n_docs").over(src_w)))
        .withColumn("cum_doc_share",
                    F.try_divide(F.sum("n_docs").over(cum_w).cast("double"),
                                 F.sum("n_docs").over(src_w)))
        .select("source", "bucket", "bucket_lo", "bucket_hi", "n_docs",
                "n_tokens", "doc_share", "cum_doc_share")
        .orderBy("source", "bucket")
    )


def length_histogram_demo(t: Tables) -> DataFrame:
    return length_histogram(t["documents"])


# --- health_card_typed: one driver slot pinning the six health cards ----------

# Lockstep layout shared by health_card_typed and its oracle — the
# dataset_card_typed precedent (pipeline.CARD_SECTIONS): section ->
# (key cols, numeric cols, string cols). Changing any underlying
# card's columns means changing BOTH the engine relation and this
# table together.
HEALTH_SECTIONS = (
    ("encoding", ["source"], ["n_docs", "n_flagged", "repl_chars",
                              "ctrl_chars", "moji_marks", "flagged_share"],
     []),
    ("overlap", ["source_a", "source_b"], ["n_a", "n_b", "n_shared",
                                           "jaccard"], []),
    ("profile", ["col_name"], ["n_rows", "n_null", "n_distinct"],
     ["dtype", "min_value", "max_value"]),
    ("drift", ["col_name"], ["n_rows_old", "n_rows_new", "n_null_old",
                             "n_null_new", "n_distinct_old",
                             "n_distinct_new", "null_share_delta"],
     ["dtype"]),
    ("coverage", ["source"], ["n_tokens", "covered_tokens",
                              "coverage_share", "distinct_terms",
                              "oov_terms", "oov_share",
                              "mean_token_chars"], []),
    ("lengths", ["source", "bucket"], ["bucket_lo", "bucket_hi", "n_docs",
                                       "n_tokens", "doc_share",
                                       "cum_doc_share"], []),
)


def health_card_typed(t: Tables) -> DataFrame:
    """One-page corpus-health sheet: (section, metric, value_num,
    value_str) melting the SIX audited health cards — encoding damage
    (C43), cross-source overlap (C44), per-column profile (C48),
    snapshot drift (C49), vocabulary coverage (C52) and the length
    histogram (C55) — into ONE flat relation, each section calling the
    corresponding demo operator VERBATIM (section-equality pinned in
    tests). The dataset_card_typed compression precedent applied to
    the health block: one driver slot transitively pins six staged
    operators, because every number in the melt IS the nested card's
    number by construction.

    Exactness: numeric cells stay DOUBLE (no engine-specific
    float→string formatting); each cell is the underlying
    parity-green card's value unchanged. min/max profile strings are
    exact for the documents table's bigint/string columns. Scale:
    every source relation is already a bounded card; the melt adds a
    row-local explode and a six-way union of card-sized frames.
    """
    from resin_spark.operators.pipeline import _melt_typed

    sections = {
        "encoding": encoding_anomalies_demo(t),
        "overlap": source_overlap_demo(t),
        "profile": table_profile_demo(t),
        "drift": profile_drift_demo(t),
        "coverage": vocab_coverage_demo(t),
        "lengths": length_histogram_demo(t),
    }
    parts = [_melt_typed(sections[name], name, keys)
             for name, keys, _, _ in HEALTH_SECTIONS]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("section", "metric", "value_num")


def _typed_melt_sql(section: str, keys: list[str], nums: list[str],
                    strs: list[str]) -> str:
    """The SQL half of :func:`resin_spark.operators.pipeline._melt_typed`
    for one section CTE named ``card_<section>`` (concat_ws skips NULL
    key values identically in both engines)."""
    prefix = ("concat_ws('/', " + ", ".join(
        f"concat_ws('=', '{k}', CAST({k} AS VARCHAR))" for k in keys)
        + ")")

    def metric(c):
        return f"concat_ws('/', {prefix}, '{c}')" if keys else f"'{c}'"

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


def health_card_typed_oracle() -> str:
    """One SQL statement nesting the six health demos' oracle CTEs and
    melting them with the same metric-name scheme as the engine card."""
    bodies = {
        "encoding": encoding_anomalies_demo_oracle(),
        "overlap": source_overlap_demo_oracle(),
        "profile": table_profile_demo_oracle(),
        "drift": profile_drift_demo_oracle(),
        "coverage": vocab_coverage_demo_oracle(),
        "lengths": length_histogram_demo_oracle(),
    }
    ctes = ",\n".join(f"card_{s} AS (\n{bodies[s]}\n)" for s in bodies)
    melts = "\nUNION ALL\n".join(_typed_melt_sql(*spec)
                                 for spec in HEALTH_SECTIONS)
    return (f"WITH {ctes}\n"
            f"SELECT * FROM (\n{melts}\n)\n"
            f"ORDER BY section, metric, value_num")


def length_histogram_demo_oracle() -> str:
    toks = T.tokens_sql("text")
    return f"""
    WITH d AS (
        SELECT source, COALESCE(len({toks}), 0) AS nt
        FROM documents WHERE doc_id IS NOT NULL
    ),
    b AS (
        SELECT source,
               CASE WHEN nt = 0 THEN 0
                    ELSE len(bin(CAST(nt AS BIGINT))) END AS bucket,
               nt
        FROM d
    ),
    g AS (
        SELECT source, bucket, COUNT(*) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM b GROUP BY 1, 2
    )
    SELECT source, bucket,
           CAST(CASE WHEN bucket = 0 THEN 0
                     ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS BIGINT)
               AS bucket_lo,
           CAST(CASE WHEN bucket = 0 THEN 0
                     ELSE (CAST(1 AS BIGINT) << bucket) - 1 END AS BIGINT)
               AS bucket_hi,
           n_docs, n_tokens,
           CAST(n_docs AS DOUBLE)
               / NULLIF(SUM(n_docs) OVER (PARTITION BY source), 0)
               AS doc_share,
           CAST(SUM(n_docs) OVER (PARTITION BY source ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)
               / NULLIF(SUM(n_docs) OVER (PARTITION BY source), 0)
               AS cum_doc_share
    FROM g
    ORDER BY source, bucket
    """
