"""Deduplication suite (SURVEY.md §2 block D).

Strategies, ordered by cost/recall trade-off:

- exact            — content-hash groupBy; one shuffle on the hash.
- ngram_jaccard    — exact set-overlap via shingle inverted index:
                     explode → self-join on shingle → count. The join
                     key is the shingle, so cost is Σ df(shingle)² —
                     fine when near-dup clusters are sparse; at 100 TB
                     cap df per shingle (drop ultra-common shingles,
                     they carry no signal).
- minhash_lsh      — the scale path: constant-size signature per doc,
                     banded bucketing, candidates verified exactly.
                     Only near-identical docs collide, so the join is
                     ~linear in corpus size.
- simhash          — 60-bit fingerprint, Hamming-ball candidate pairs
                     via chunk pigeonhole banding.
- embedding cosine — semantic near-dup on the embeddings table.

Reference ties: content-addressing via string hash
(src/Resin.TextAnalysis/HashOperations.cs), near-identity detection via
cosine IdenticalAngle (src/Resin.MachineLearning/GraphExtensions.cs:15).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from resin_spark.functions import text as T
from resin_spark.functions import vectors as V

MERSENNE_P = (1 << 61) - 1
HEX = "0123456789abcdef"


# --- D1: exact ---------------------------------------------------------------

def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the min-id row per md5(content); report group size."""
    return (
        docs.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keep_id")
    )


def exact_dedup_oracle() -> str:
    return """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1 ORDER BY keep_id
    """


# --- shared shingles ---------------------------------------------------------

def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) with distinct word-n-gram shingles per doc.

    Tokenisation is projected once (``T.prepare_documents``) before the
    window transform so the regex tokenizer isn't re-evaluated per
    reference in the filter and gram expressions."""
    base = (T.prepare_documents(docs).select("doc_id", "tk")
            .filter(F.size("tk") >= n))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("tk") - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at("tk", (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return base.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


def _shingles_sql(n: int = 3) -> str:
    toks = T.tokens_sql("text")
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(toks) - {n - 2}), i -> {parts}))) AS shingle
        FROM (SELECT doc_id, {toks} AS toks FROM documents)
        WHERE len(toks) >= {n}
    """


# --- D2: exact n-gram jaccard ------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        tau: float = 0.5) -> DataFrame:
    """All (i<j) pairs with exact shingle-set Jaccard ≥ tau.

    AllPairs/PPJoin-style prefix filtering keeps the result exact while
    shrinking the inverted index: shingles are canonically ordered
    rarest-first (document frequency asc, shingle asc) and only each
    doc's first ``n_sh − ceil(tau·n_sh) + 1`` shingles are indexed. The
    prefix lemma guarantees any pair with J ≥ tau shares a prefix
    shingle, and rare-first ordering means the join keys are the LOW-df
    shingles — the Σ df² blowup of ultra-common shingles never happens.
    A size-ratio filter (J ≤ min/max) prunes candidates in the join
    condition; survivors are verified with exact set Jaccard. At 100 TB
    every stage is an equi-shuffle on shingle or doc_id — no cartesian,
    no df cap, no approximation.
    """
    # Shingles become xxhash64 longs BEFORE any shuffle: 8-byte
    # join/sort keys instead of n-word strings everywhere downstream
    # (df count, rarity sort, prefix index, verification sets). Jaccard
    # on hashed sets is collision-free at any realistic vocabulary
    # (p < 1e-10 at 10^9 distinct shingles). The canonical rarest-first
    # order is (df, hash) — any total order shared by all docs
    # satisfies the prefix lemma.
    sh = shingles(docs, n).select(
        "doc_id", F.xxhash64("shingle").alias("h"))
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # One aggregate yields the rarity-ordered hash list, the prefix
    # length, AND the verification set; the a/b/verify branches below
    # share this subtree so the exchange is reused.
    per_doc = (
        sh.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "h"))).alias("ordered"),
            F.count(F.lit(1)).alias("n_sh"),
        )
        .select(
            "doc_id", "n_sh",
            F.col("ordered.h").alias("sh_hashes"),
            # round-safe ceil: when tau*n_sh is mathematically integral
            # but the double product rounds up (0.1*10 -> 1.0000...2),
            # a bare ceil would shorten the prefix by one and silently
            # drop pairs with Jaccard exactly == tau
            (F.col("n_sh") - F.ceil(F.lit(tau) * F.col("n_sh") - F.lit(1e-9)) + 1)
            .cast("int").alias("plen"),
        )
    )
    prefix = per_doc.select(
        "doc_id", "n_sh",
        # posexplode (r11): carry each prefix token's 0-based rank so
        # the join can apply PPJoin's POSITIONAL filter below.
        F.posexplode(F.slice(F.col("sh_hashes"), 1, F.col("plen"))).alias("p", "h"),
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    # Positional filter (PPJoin, exact): a pair matching on a prefix
    # token at ranks (pa, pb) can overlap by at most
    # min(n_a − pa, n_b − pb); J ≥ tau requires overlap ≥
    # tau·(n_a+n_b)/(1+tau). For every TRUE pair the row of their FIRST
    # common token (shared canonical order) trivially satisfies the
    # bound, so filtering match rows loses no pair — it only prunes
    # candidates before the expensive set-verification join (measured
    # sf0.1: 310k → 125k candidate pairs at tau=0.5, 596k → 325k at
    # the curve's tau=0.3). The 1e-9 slack keeps boundary pairs; the
    # exact Jaccard verification below filters precisely.
    cond = (
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # J <= min/max: unequal sizes can't reach tau. The slack is
        # RELATIVE (ADVICE r11): an absolute 1e-9 can be swamped by
        # double rounding once n_sh ≳ 1e8, silently dropping an
        # exactly-boundary (J == tau) true pair. Loosening only admits
        # extra candidates; the exact verification below filters
        # precisely, so results are unchanged at any scale.
        & (F.col("a.n_sh") * (tau - 1e-9) <= F.col("b.n_sh"))
        & (F.col("b.n_sh") * (tau - 1e-9) <= F.col("a.n_sh"))
    )
    # (The RESIN_NOPOSFILTER A/B opt-out was removed after the r11
    # measurement round — ADVICE r11; evidence in OPTIMIZATION_r11.md.)
    # Relative slack, same rationale as the size-ratio filter above.
    cond = cond & (
        F.least(F.col("a.n_sh") - F.col("a.p"),
                F.col("b.n_sh") - F.col("b.p"))
        >= F.lit(tau / (1.0 + tau) - 1e-9)
        * (F.col("a.n_sh") + F.col("b.n_sh")))
    cand = (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verification sets skip the dfreq join + rarity sort — order is
    # irrelevant to array_intersect/union. Row-local since r11
    # (shingle_hash_sets): the per-doc hash set is a projection, so the
    # verify branches no longer re-run the shingle explode + a
    # collect_list aggregate at all.
    sets = shingle_hash_sets(docs, n)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hashes").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hashes").alias("set_b"))
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("set_a", "set_b"))
            / F.size(F.array_union("set_a", "set_b")),
        )
        .filter(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_oracle(n: int = 3, tau: float = 0.5) -> str:
    return f"""
    WITH sh AS ({_shingles_sql(n)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {tau}
    ORDER BY doc_a, doc_b
    """


# --- D3: minhash + LSH (scale path; rows-only) --------------------------------

def _minhash_udf(num_perm: int, seed: int = 42):
    """Minhash permutations via multiply-shift hashing in uint64
    wraparound arithmetic: h'_k = (a_k * h + b_k) mod 2^64 with odd a_k
    (Dietzfelbinger's universal family). All math stays in vectorized
    numpy uint64 — no object-dtype bigints, no Python inner loop; the
    per-row work is one (n_shingles × num_perm) matrix op + a min.
    """
    rng = np.random.RandomState(seed)
    a = (rng.randint(0, 1 << 63, size=num_perm).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 1 << 63, size=num_perm).astype(np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def sig(hashes: pd.Series) -> pd.Series:
        empty = [0] * num_perm
        with np.errstate(over="ignore"):
            def one(hs):
                if hs is None or len(hs) == 0:
                    return empty
                # int64 → uint64 wraps negatives; xxhash64 output is full-range
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64).reshape(-1, 1)
                ph = a * h + b  # uint64 wraparound == mod 2^64
                # report back as int64 (Spark long); wrap is consistent
                return ph.min(axis=0).astype(np.int64).tolist()
            return hashes.map(one)

    return sig


def minhash_signatures(docs: DataFrame, n: int = 3, num_perm: int = 128,
                       seed: int = 42) -> DataFrame:
    """(doc_id, sig: array<long>) minhash signatures over word shingles.

    xxhash64 is used raw (no abs): the uint64 reinterpretation in the
    UDF is total, so the Long.MIN_VALUE abs() edge case is gone.
    """
    hashed = shingle_hash_sets(docs, n)
    sig = _minhash_udf(num_perm, seed)
    return hashed.select("doc_id", sig("hashes").alias("sig"))


def shingle_hashes_from_tokens(tk_col: str, n: int = 3):
    """Row-local array<long> of distinct hashed word-n-gram shingles —
    the per-row twin of ``shingles() → groupBy → collect_list(xxhash64)``
    (same tokens, same grams, same hash, so signatures and Jaccard sets
    agree bit-for-bit with the batch index). Aggregation-free, which is
    what lets a *streaming* frame compute its shingle set without a
    watermarked groupBy. Docs with fewer than n tokens yield an EMPTY
    array (the batch path drops them at the explode; filter
    ``size(col) > 0`` to mirror that drop). The short-doc branch cannot
    fall through to the gram expression: ``sequence(0, size-n)`` with a
    negative stop counts DOWN, which would fabricate grams."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tk_col) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tk_col, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(
        F.size(F.col(tk_col)) >= n,
        F.transform(F.array_distinct(grams), lambda s: F.xxhash64(s)),
    ).otherwise(F.array().cast("array<long>"))


def shingle_hash_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, hashes array<long>) — each doc's DISTINCT hashed shingle
    set, computed ROW-LOCALLY (r11): the set is a function of the row's
    own token array (``shingle_hashes_from_tokens``), so the
    explode → groupBy → collect_list(xxhash64) pass (one row per
    shingle occurrence through an Exchange) collapses to a projection.
    Downstream-identical: every consumer treats ``hashes`` as a SET
    (array_intersect/union, the minhash min, counts), and
    collect_list's order was shuffle-nondeterministic anyway — the only
    observable difference is that docs sharing a NULL doc_id stay one
    row each instead of merging into one null group, and every consumer
    either filters null ids or joins on non-null candidate ids.
    (The RESIN_NOROWLOCAL legacy-explode A/B shape was removed after
    the r11 measurement round — ADVICE r11: it silently changed
    null-doc_id semantics while claiming to be measurement-only; the
    A/B evidence lives in OPTIMIZATION_r11.md.)"""
    return (
        T.prepare_documents(docs).select("doc_id", "tk")
        # pre-filter on the INPUT size — equivalent to the explode
        # path's drop (hashes is empty iff size(tk) < n) and crucially
        # NOT a filter on the computed array: size(hashes) > 0 would
        # re-evaluate the whole gram+hash expression inside the Filter
        # and push the stage out of codegen (measured 0.3 s → 11 s at
        # sf0.1)
        .filter(F.size("tk") >= n)
        .select("doc_id", shingle_hashes_from_tokens("tk", n).alias("hashes"))
    )


def _band_hash_array(sig_col: str, num_perm: int, bands: int):
    """array<long> of per-band hashes over a minhash signature column:
    band i = xxhash64 of its r = num_perm/bands signature slots joined
    as text. One expression, identical on the batch self-join side and
    the streaming query side, so band buckets agree across both."""
    r = num_perm // bands
    return F.array(*[
        F.xxhash64(F.concat_ws(",", *[
            F.element_at(sig_col, i * r + j + 1) for j in range(r)
        ]))
        for i in range(bands)
    ])


def lsh_index(docs: DataFrame, n: int = 3, num_perm: int = 128,
              bands: int = 32, seed: int = 42):
    """(hashes_frame, bands_frame) — the reusable minhash-LSH index.

    hashes_frame: (doc_id, hashes array<long>) distinct hashed shingles
    per doc (signature input AND exact-verification set). bands_frame:
    (doc_id, band, band_hash). Both localCheckpoint'ed: every consumer
    (the batch self-join references them three ways; a stream-static
    join re-evaluates the static side per micro-batch) reads the
    materialised RDD instead of recompiling scan→shingle→groupBy —
    measured 4 independent parquet scans in the un-checkpointed plan.
    """
    grouped = shingle_hash_sets(docs, n).localCheckpoint(eager=False)
    sig = _minhash_udf(num_perm, seed)
    sigs = grouped.select(
        "doc_id", sig("hashes").alias("sig")
    ).localCheckpoint(eager=False)
    bands_df = sigs.select(
        "doc_id",
        F.posexplode(_band_hash_array("sig", num_perm, bands))
        .alias("band", "band_hash"),
    )
    return grouped, bands_df


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, num_perm: int = 128,
                      bands: int = 32, tau: float = 0.5,
                      seed: int = 42) -> DataFrame:
    """Banded-LSH candidates verified with exact Jaccard ≥ tau.

    rows_per_band = num_perm/bands controls the S-curve; 128/32 → r=4
    puts the collision knee near J≈0.5. Candidate generation is a
    groupBy on (band, band_hash) — near-linear; no cross join anywhere.
    """
    # one grouped pass produces ONE hashed array per doc that serves as
    # both the signature input and the exact-verification set: shingles()
    # already emits distinct shingles, so collect_list(xxhash64) is a set
    # of 8-byte longs — strings never survive past the first projection,
    # and jaccard on hashed sets is collision-free at any realistic
    # vocabulary (p < 1e-10 at 10^9 shingles).
    # The plan references `grouped` three ways (signature input + both
    # verification sides) and the banded self-join references the
    # signature frame twice; without materialisation Catalyst compiles
    # FOUR independent scan→shingle→groupBy subtrees and runs the
    # minhash UDF twice (measured: 4 parquet scans in the formatted
    # plan, ~1s extra at sf0.1). localCheckpoint each frame once —
    # executor-resident, lineage-truncated, the same trade the dedup
    # loops and PPJoin index already make: one corpus-sized
    # materialisation beats recomputing tokenise+shingle+hash per
    # reference, on local[32] and on 1000 executors alike.
    grouped, bands_df = lsh_index(docs, n, num_perm, bands, seed)
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    candidates = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = grouped.select(F.col("doc_id").alias("doc_a"), F.col("hashes").alias("sh_a"))
    sb = grouped.select(F.col("doc_id").alias("doc_b"), F.col("hashes").alias("sh_b"))
    return (
        candidates.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# --- D4: simhash ---------------------------------------------------------------

N_BITS = 60
N_CHUNKS = 4  # pigeonhole banding: hamming<=3 pairs share >=1 identical chunk


def _token_hash60(col):
    """First 15 hex chars of md5 → 60-bit integer (portable across engines).

    One builtin base conversion — not a 15-step fold; stays inside
    whole-stage codegen."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _token_hash60_sql(expr: str) -> str:
    return (
        f"list_reduce(list_transform(string_split(substr(md5({expr}), 1, 15), ''),"
        f" c -> CAST(strpos('{HEX}', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
    )


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit simhash over distinct tokens (weight 1 per token).

    Computed ROW-LOCALLY (r11): the fingerprint depends only on the
    row's own distinct-token set, so the explode + 60-aggregate
    groupBy (one row per token occurrence through an Exchange) is
    replaced by a higher-order ``aggregate`` over the token-hash array
    — a pure projection, no shuffle. Exact: per-bit counters sum the
    same ±1 integers in array order, and integer addition is
    order-independent, so the fingerprint is bit-identical (A/B at
    sf0.1: exceptAll 0 both ways; 0.83 s → 0.35 s min, 2.4×).
    (The RESIN_NOROWLOCAL legacy-explode A/B shape was removed after
    the r11 measurement round; evidence in OPTIMIZATION_r11.md.)
    """
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(N_BITS)])
    base = (
        T.prepare_documents(docs).select("doc_id", "tk")
        # explode-drop parity: zero-token docs carry no fingerprint
        .filter(F.size("tk") >= 1)
    )
    hs = F.transform(F.array_distinct(F.col("tk")), _token_hash60)
    counts = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), N_BITS),
        lambda acc, h: F.zip_with(
            acc, powers,
            lambda c, p: c + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(counts, powers,
                   lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return base.select("doc_id", sim.alias("simhash"))


def simhash_sql() -> str:
    th = _token_hash60_sql("tok")
    bit_cols = ",\n           ".join(
        f"SUM(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(N_BITS)
    )
    sim = " + ".join(f"CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
                     for j in range(N_BITS))
    return f"""
        SELECT doc_id, {sim} AS simhash
        FROM (
            SELECT doc_id, {bit_cols}
            FROM (
                SELECT doc_id, {th} AS h
                FROM (SELECT doc_id, unnest(list_distinct({T.tokens_sql("text")})) AS tok
                      FROM documents)
            )
            GROUP BY doc_id
        )
    """


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(i<j) pairs with Hamming(simhash) ≤ max_hamming.

    Candidates via chunk pigeonhole: split 60 bits into 4 chunks of 15;
    any pair within Hamming 3 shares ≥1 exact chunk, so the join key is
    (chunk_idx, chunk_value) — no cross join. Verified with bit_count.

    The chunk join runs on DISTINCT simhash values, not docs: docs with
    an identical fingerprint are a Hamming-0 clique, so value-level
    candidates (then a fan-out join back to doc ids) dedupe the
    candidate stream before the expensive distinct instead of after —
    the candidate volume no longer scales with clique size squared.
    """
    sims = simhash(docs).localCheckpoint(eager=False)
    vals = sims.select("simhash").distinct()
    chunk_bits = N_BITS // N_CHUNKS
    mask = (1 << chunk_bits) - 1
    chunks = vals.select(
        "simhash",
        F.posexplode(F.array(*[
            F.shiftright("simhash", i * chunk_bits).bitwiseAND(F.lit(mask))
            for i in range(N_CHUNKS)
        ])).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    vpairs = (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col("a.simhash") < F.col("b.simhash")))
        .select(F.col("a.simhash").alias("sim_a"),
                F.col("b.simhash").alias("sim_b"))
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # cross-value doc pairs: fan each value pair out to its doc groups
    cross = (
        sims.select(F.col("simhash").alias("sim_a"), F.col("doc_id").alias("da"))
        .join(vpairs, "sim_a")
        .join(sims.select(F.col("simhash").alias("sim_b"),
                          F.col("doc_id").alias("db")), "sim_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    # intra-clique doc pairs: same fingerprint, Hamming 0
    sa, sb = sims.alias("sa"), sims.alias("sb")
    intra = (
        sa.join(sb, (F.col("sa.simhash") == F.col("sb.simhash"))
                & (F.col("sa.doc_id") < F.col("sb.doc_id")))
        .select(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(intra).orderBy("doc_a", "doc_b")


def simhash_pairs_oracle(max_hamming: int = 3) -> str:
    return f"""
    WITH sims AS ({simhash_sql()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sims a, sims b
    WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ORDER BY doc_a, doc_b
    """


# --- D6: duplicate clustering (connected components) ---------------------------

DEDUP_EDGE_COLLECT_CAP = 1_000_000


def connected_components(edges: DataFrame, max_iters: int = 25,
                         edge_collect_cap: int = DEDUP_EDGE_COLLECT_CAP
                         ) -> DataFrame:
    """(doc_id, component) for every doc on an undirected (doc_a, doc_b)
    edge list, component = the min doc_id reachable from it — the D6
    label contract dedup_components and pipeline.cluster_components
    share. Docs with no edge are absent; callers join them back as
    their own component.

    Statistics-gated (the vector paths' auto-gate pattern): when the
    edge list fits ``edge_collect_cap`` a driver union-find replaces the
    propagation loop — one bounded pull instead of ~log(diameter)
    join+agg rounds. Cap sizing is for PYTHON heap, not raw bytes: rows
    stream through toLocalIterator (never a driver-side Row list) but
    the parent map holds up to 2·cap int entries — ~100 MB at the 1M
    default. Past the cap (adversarially chained graphs at scale) the
    distributed min-label + pointer-jumping loop runs: each round is
    two equi-joins + a groupBy, lineage cut per round with a lazy
    localCheckpoint so plans stay flat (no driver-side graph, no
    recursion in the plan). Both routes give the same labels (pinned in
    tests). The count materialises the edge checkpoint the loop would
    pay for anyway.
    """
    edges = edges.select("doc_a", "doc_b").localCheckpoint(eager=False)
    if edges.count() <= edge_collect_cap:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in edges.toLocalIterator():
            ra, rb = find(r["doc_a"]), find(r["doc_b"])
            if ra != rb:
                # union by MIN id — the component label contract
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = sorted({(x, find(x)) for x in parent})
        return edges.sparkSession.createDataFrame(
            rows or [(None, None)], "doc_id long, component long"
        ).filter(F.col("doc_id").isNotNull())

    # undirected: propagate labels both ways
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=False)
    # the loop only carries docs that have at least one edge — in a
    # real corpus that's a small fraction
    labels = (
        sym.select(F.col("doc_a").alias("doc_id")).distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )

    # Convergence probe: labels are monotone non-increasing (every
    # update is least(old, ...)), so the label sum strictly decreases
    # iff any label moved — one scalar agg over the checkpointed frame
    # replaces a join + count per iteration.
    def _label_sum(df: DataFrame) -> int:
        return df.agg(F.sum("component")).collect()[0][0] or 0

    prev_sum = _label_sum(labels)
    for _ in range(max_iters):
        # one hop of min-label propagation over the edges …
        nbr_min = (
            sym.join(labels, sym.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        prop = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        # … then pointer-jumping (component ← component's component):
        # path doubling makes convergence O(log diameter) rounds
        # instead of O(diameter) — on a 100 TB corpus a duplicate chain
        # of depth 1000 finishes in ~10 rounds, not ~1000.
        jump = prop.select(F.col("doc_id").alias("p_doc"),
                           F.col("component").alias("p_comp"))
        new_labels = (
            prop.join(jump, prop.component == jump.p_doc, "left")
            .select(
                "doc_id",
                F.coalesce(F.col("p_comp"), F.col("component"))
                .alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_components(docs: DataFrame, max_hamming: int = 3,
                     max_iters: int = 25,
                     edge_collect_cap: int = DEDUP_EDGE_COLLECT_CAP
                     ) -> DataFrame:
    """Collapse pairwise near-dup hits into canonical clusters: every doc
    gets the min doc_id of its duplicate component (the keeper) — what a
    training-data pipeline actually consumes, since pairwise output
    alone can't answer "which copies do I drop".

    Edges come from simhash_pairs (any pair source drops in); component
    labels come from connected_components (a gated driver union-find
    under ``edge_collect_cap``, distributed min-label propagation past
    it).

    Output: (doc_id, component, is_canonical) for every document;
    singletons are their own component.

    Docs sharing an identical fingerprint are a Hamming-0 clique, so the
    graph first collapses to one super-node per DISTINCT simhash (labeled
    by the clique's min doc_id) and propagation runs on the value-level
    graph — exactly the same components, far fewer edges. On the dense
    synthetic corpus this is a ~20x edge reduction (271k doc pairs →
    13.5k value pairs at sf0.1); on a 100 TB corpus it removes the
    quadratic blowup inside exact-duplicate cliques entirely.
    """
    # sims is read twice (super-node build + the final doc→component
    # routing join) and its subtree ends in the wide 60-agg groupBy —
    # the checkpoint-worthy shape (SCALING.md rule; simhash_pairs does
    # the same): materialise once instead of re-fingerprinting the
    # corpus. Measured 4.5 s → 3.6 s warm at sf0.1.
    sims = simhash(docs).localCheckpoint(eager=False)
    nodes = (
        sims.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
        .localCheckpoint(eager=False)
    )
    chunk_bits = N_BITS // N_CHUNKS
    mask = (1 << chunk_bits) - 1
    vchunks = nodes.select(
        "simhash", "rep",
        F.posexplode(F.array(*[
            F.shiftright("simhash", i * chunk_bits).bitwiseAND(F.lit(mask))
            for i in range(N_CHUNKS)
        ])).alias("chunk_idx", "chunk_val"),
    )
    a, b = vchunks.alias("a"), vchunks.alias("b")
    edges = (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col("a.rep") < F.col("b.rep")))
        .filter(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            <= max_hamming
        )
        .select(F.col("a.rep").alias("doc_a"), F.col("b.rep").alias("doc_b"))
        .distinct()
    )
    labels = connected_components(edges, max_iters, edge_collect_cap)

    # route every doc through its fingerprint's super-node label:
    # doc → simhash → rep → component (rep itself when the super-node
    # had no cross-value edge — the clique, or singleton, stands alone)
    rep_labels = labels.select(F.col("doc_id").alias("rep"), "component")
    comp = (
        sims.join(nodes, "simhash")  # AQE broadcasts the small sides
        .join(rep_labels, "rep", "left")
        .select(
            "doc_id",
            F.coalesce("component", "rep").alias("component"),
        )
    )
    # ZERO-TOKEN docs (empty text, punctuation-only, non-ASCII under the
    # ASCII tokenizer) never reach `sims` — the explode drops them — but
    # the contract is one row per DOCUMENT (the oracle's walk seeds from
    # the documents table): re-join them as their own singleton
    # components (tests/test_edge_docs.py docs 1/2/5).
    return (
        docs.select("doc_id").join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
        .withColumn("is_canonical", F.col("component") == F.col("doc_id"))
        .orderBy("doc_id")
    )


def dedup_components_oracle(max_hamming: int = 3) -> str:
    """Transitive closure via recursive CTE — exact same components."""
    return f"""
    WITH RECURSIVE sims AS ({simhash_sql()}),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sims a, sims b
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(doc, reach) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT w.doc, e.b FROM walk w JOIN edges e ON e.a = w.reach
    )
    SELECT doc AS doc_id, MIN(reach) AS component,
           MIN(reach) = doc AS is_canonical
    FROM walk GROUP BY doc ORDER BY doc_id
    """


# --- D5: embedding cosine ------------------------------------------------------

def embedding_dedup_pairs(emb: DataFrame, tau: float = 0.4) -> DataFrame:
    """Semantic near-dup (i<j) pairs with cosine ≥ tau — exact result.

    Two stages (same shape as similarity.knn_classify):

    1. candidates — each Arrow batch is scored against the broadcast
       unit matrix in one BLAS matmul; pairs with numpy-cos ≥
       tau − margin and vec_a < vec_b survive. Plan: scan →
       mapInPandas, no self-join, no cartesian.
    2. exact verify — candidates are re-scored with the strict
       left-to-right JVM fold (normalise-then-dot, the oracle's exact
       order) and filtered at ≥ tau, so the output hash-matches DuckDB.

    The margin (1e-9 ≫ the f64 summation-order bound for 64 dims)
    guarantees stage 1 never drops a true pair. Stage 1 is size-gated
    (similarity.cosine_threshold_candidates_auto): past the broadcast
    ceiling it auto-routes to the multi-probe LSH bucketed self-join —
    recall ≈ 0.95 at tau 0.4, rising toward 1 with tau — with no driver
    collect anywhere in the plan.
    """
    from resin_spark.operators.similarity import (
        cosine_threshold_candidates_auto, maybe_broadcast, valid_vectors,
    )
    emb = valid_vectors(emb)
    cand, fits = cosine_threshold_candidates_auto(emb, tau)
    # zero vectors can't reach any tau > 0 and would hit ANSI division-
    # by-zero in the normalise; the oracle excludes them too (NaN cos)
    normed = emb.filter(V.norm("embedding") > 0).select(
        "vec_id", V.l2_normalize("embedding").alias("u"))
    a = normed.select(F.col("vec_id").alias("vec_a"), F.col("u").alias("ua"))
    b = normed.select(F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"))
    return (
        cand.join(maybe_broadcast(a, fits), "vec_a")
        .join(maybe_broadcast(b, fits), "vec_b")
        .filter(V.dot("ua", "ub") >= tau)
        .select("vec_a", "vec_b")
        .orderBy("vec_a", "vec_b")
    )


def embedding_dedup_oracle(tau: float = 0.4) -> str:
    ua = "list_transform(a.embedding, x -> CAST(x AS DOUBLE) / na)"
    # norms computed per-side first for the same normalise-then-dot order
    from resin_spark.operators.similarity import VALID_VECTORS_SQL
    return f"""
    WITH normed AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / {V.norm_sql("embedding")}) AS u
        FROM embeddings WHERE {VALID_VECTORS_SQL}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM normed a, normed b
    WHERE a.vec_id < b.vec_id AND {V.dot_sql("a.u", "b.u")} >= {tau}
    ORDER BY vec_a, vec_b
    """


# --- D7: incremental near-dup (new batch vs standing index) -------------------

def incremental_dedup(docs: DataFrame, n: int = 3, num_perm: int = 128,
                      bands: int = 32, tau: float = 0.5,
                      seed: int = 42) -> DataFrame:
    """Incremental crawl dedup: match a NEW batch of documents against a
    standing INDEX corpus, never within either side. Per new doc:
    is it a near-dup of any indexed doc (exact Jaccard >= tau), and if
    so which index doc matches best.

    The demo split is doc_id parity (odd = incoming batch, even =
    standing index) so the operator is self-contained on the documents
    table; in production the index side's (doc_id, hashes, band,
    band_hash) frames are a stored table (io.write_bucketed on
    band_hash) built by earlier runs, and only the new batch is
    shingled/signed. This is the 100 TB continuous-ingest shape: cost
    per run is O(new batch) + one bucketed equi-join against the index
    — the full-corpus pair recompute (minhash_lsh_pairs) never happens
    again after bootstrap.

    Plan: ONE shingle+signature pass over the union corpus (the demo
    reads one table; the split is a filter on each side of the band
    join, so Catalyst reuses the checkpointed signature frame), a
    (band, band_hash) equi-join across sides, id-only candidate
    distinct, exact-Jaccard verify on the hashed shingle sets, then an
    argmax window per new doc and a left join back to the full new
    batch so never-matched docs report is_dup = false.

    Correctness contract: candidates are verified with EXACT set
    Jaccard, and cross-side recall at the default operating point is
    complete because the cross pairs are a subset of the full pair set
    minhash_lsh_pairs measures complete (tau 0.5, 128 perms / 32
    bands — pair-for-pair equal to exact Jaccard at sf0.001/0.01/0.1).
    The oracle recomputes the exact cross-side Jaccard relation in SQL;
    a banded recall miss would surface as a red hash row.
    """
    base = docs.filter(F.col("doc_id").isNotNull())
    grouped, bands_df = lsh_index(base, n, num_perm, bands, seed)
    new_bands = bands_df.filter(F.col("doc_id") % 2 == 1)
    idx_bands = bands_df.filter(F.col("doc_id") % 2 == 0)
    new_hashes = grouped.filter(F.col("doc_id") % 2 == 1)
    idx_hashes = grouped.filter(F.col("doc_id") % 2 == 0)
    new_ids = base.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    return _incremental_verdicts(new_ids, new_bands, new_hashes,
                                 idx_bands, idx_hashes, tau)


def _incremental_verdicts(new_ids: DataFrame, new_bands: DataFrame,
                          new_hashes: DataFrame, idx_bands: DataFrame,
                          idx_hashes: DataFrame, tau: float) -> DataFrame:
    """Shared tail of incremental dedup: cross-side band join → id-only
    candidate distinct → exact-Jaccard verify against the two hash-set
    frames → per-new-doc argmax → left join back to the batch roster.
    Used by incremental_dedup (in-memory split) and
    incremental_dedup_indexed (index side read from parquet)."""
    a = new_bands.alias("a")
    b = idx_bands.alias("b")
    candidates = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash")))
        .select(F.col("a.doc_id").alias("doc_new"),
                F.col("b.doc_id").alias("doc_idx"))
        .distinct()
    )
    sn = new_hashes.select(F.col("doc_id").alias("doc_new"),
                           F.col("hashes").alias("sh_n"))
    si = idx_hashes.select(F.col("doc_id").alias("doc_idx"),
                           F.col("hashes").alias("sh_i"))
    pairs = (
        candidates.join(sn, "doc_new").join(si, "doc_idx")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_n", "sh_i"))
            / F.size(F.array_union("sh_n", "sh_i")),
        )
        .filter(F.col("jaccard") >= tau)
    )
    # best-match argmax as a map-side-collapsing min_by aggregate (the
    # _assign_cells r5 rewrite): one row per new doc through the
    # exchange instead of one per verified candidate pair. Tie-break
    # preserved: highest jaccard, then smallest index id.
    best = (
        pairs.groupBy("doc_new")
        .agg(F.min_by(F.struct("doc_idx", "jaccard"),
                      F.struct((-F.col("jaccard")).alias("nj"),
                               F.col("doc_idx"))).alias("b"))
        .select("doc_new", F.col("b.doc_idx").alias("doc_idx"),
                F.col("b.jaccard").alias("jaccard"))
    )
    return (
        new_ids.join(best, new_ids["doc_id"] == best["doc_new"], "left")
        .select(
            "doc_id",
            F.col("doc_new").isNotNull().alias("is_dup"),
            F.col("doc_idx").alias("best_match"),
            F.col("jaccard").alias("best_jaccard"),
        )
        .orderBy("doc_id")
    )


def write_dedup_index(docs: DataFrame, path: str, n: int = 3,
                      num_perm: int = 128, bands: int = 32,
                      seed: int = 42) -> None:
    """Persist the minhash-LSH dedup index of a corpus: ``{path}/hashes``
    = (doc_id, hashes) exact-verify sets, ``{path}/bands`` =
    (doc_id, band, band_hash) bucket postings partitioned by band —
    a probe for band b prunes to its directory, and within it the
    band_hash equi-join is the only work. This is the bootstrap step
    of continuous-ingest dedup: later runs sign ONLY their new batch
    and join it against this stored relation
    (incremental_dedup_indexed) — the whole-corpus shingle/signature
    pass never happens again."""
    grouped, bands_df = lsh_index(docs.filter(F.col("doc_id").isNotNull()),
                                  n, num_perm, bands, seed)
    grouped.write.mode("overwrite").parquet(f"{path}/hashes")
    bands_df.repartition("band").write.mode("overwrite") \
        .partitionBy("band").parquet(f"{path}/bands")
    # self-describing stats row: zero shingle-able docs → partitionBy
    # writes no part files at all, so the read side needs a typed-empty
    # escape hatch instead of schema inference (the r6 text-index fix)
    grouped.agg(F.count(F.lit(1)).alias("n_docs")) \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


DEDUP_HASHES_SCHEMA = "doc_id bigint, hashes array<bigint>"
DEDUP_BANDS_SCHEMA = "doc_id bigint, band int, band_hash bigint"


def read_dedup_index(spark, path: str):
    """(hashes_frame, bands_frame) from a write_dedup_index directory.

    Stats is read FIRST (when present — pre-r7 stores carry none): an
    index over zero shingle-able docs wrote no part files, so reading
    it before checking n_docs would die in schema inference; such a
    store round-trips as typed empty frames instead. Only the
    PATH-MISSING analysis error is treated as "pre-r7 store"; a stats
    directory that exists but fails to read (corrupt parquet, perms)
    propagates loudly instead of silently passing as healthy (ADVICE
    r8 deferral, landed in its due r9 slot)."""
    from pyspark.errors import AnalysisException

    try:
        stats = spark.read.parquet(f"{path}/stats").first()
    except AnalysisException as e:
        # PATH_NOT_FOUND / legacy "Path does not exist" → pre-r7 store
        name = getattr(e, "getCondition", lambda: None)() or ""
        if "PATH_NOT_FOUND" not in name and \
                "Path does not exist" not in str(e):
            raise
        stats = None  # pre-r7 store: no stats file, assume non-empty
    if stats is not None and not stats["n_docs"]:
        return (spark.createDataFrame([], DEDUP_HASHES_SCHEMA),
                spark.createDataFrame([], DEDUP_BANDS_SCHEMA))
    return (spark.read.parquet(f"{path}/hashes"),
            spark.read.parquet(f"{path}/bands"))


def incremental_dedup_indexed(new_docs: DataFrame, idx_hashes: DataFrame,
                              idx_bands: DataFrame, n: int = 3,
                              num_perm: int = 128, bands: int = 32,
                              tau: float = 0.5, seed: int = 42) -> DataFrame:
    """incremental_dedup against a PERSISTED index: only ``new_docs``
    is shingled/signed (one Arrow pass over the batch); the index side
    is two parquet scans. Per-run cost is O(batch) + the bucketed band
    join — the production continuous-ingest shape the parity-split demo
    models. Same output schema and semantics as incremental_dedup;
    seed/n/num_perm/bands must match the values the index was written
    with."""
    base = new_docs.filter(F.col("doc_id").isNotNull())
    new_hashes, new_bands = lsh_index(base, n, num_perm, bands, seed)
    return _incremental_verdicts(base.select("doc_id"), new_bands,
                                 new_hashes, idx_bands, idx_hashes, tau)


def incremental_dedup_oracle(n: int = 3, tau: float = 0.5) -> str:
    return f"""
    WITH sh AS ({_shingles_sql(n)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_new, b.doc_id AS doc_idx, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle
        WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        GROUP BY 1, 2
    ), pairs AS (
        SELECT doc_new, doc_idx,
               n_common / (sn.n_sh + si.n_sh - n_common) AS jaccard
        FROM common
        JOIN sizes sn ON sn.doc_id = doc_new
        JOIN sizes si ON si.doc_id = doc_idx
        WHERE n_common / (sn.n_sh + si.n_sh - n_common) >= {tau}
    ), best AS (
        SELECT doc_new, doc_idx, jaccard,
               ROW_NUMBER() OVER (PARTITION BY doc_new
                                  ORDER BY jaccard DESC, doc_idx) AS rn
        FROM pairs
    )
    SELECT d.doc_id, b.doc_new IS NOT NULL AS is_dup,
           b.doc_idx AS best_match, b.jaccard AS best_jaccard
    FROM (SELECT doc_id FROM documents
          WHERE doc_id IS NOT NULL AND doc_id % 2 = 1) d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_new = d.doc_id
    ORDER BY d.doc_id
    """


# --- D9: SemDeDup — cluster-partitioned semantic dedup ------------------------

SEMDEDUP_TAU = 0.4


def semantic_dedup(emb: DataFrame, tau: float = SEMDEDUP_TAU) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space first,
    then prune near-identical pairs WITHIN clusters only — the design
    that turns O(N²) semantic dedup into Σ_c O(n_c²).

    Clusters here are the nearest-centroid cells of the per-label mean
    vectors (traindata.label_centroid_vectors — the same assignment
    kernel a k-means pass uses); each vector joins its max-cosine cell,
    then an equi-join ON THE CELL KEY forms candidate pairs and the
    exact JVM cosine keeps pairs ≥ tau. A vector is kept iff no
    earlier (smaller id) in-cell vector is ≥-tau-close; dropped
    vectors report how many earlier near-dups beat them.

    Cross-cluster near-dup pairs are deliberately out of contract —
    that is SemDeDup's recall trade, and the oracle mirrors it exactly
    (same centroids, same assignment, same within-cell pairs). On the
    broadcast-gated matmul path (stage 1 under the statistics ceiling
    — every driver/test corpus) candidates are a guaranteed superset,
    so the result is hash-exact; past the ceiling stage 1 routes to
    multi-probe LSH, where candidates are high-recall but NOT a
    guaranteed superset (~0.95 per embedding_dedup_pairs) and output
    may drop below the oracle — same honesty split as
    embedding_dedup_pairs' docstring.

    Plan/scale: centroids are |cells| rows (broadcast); assignment is
    one scan × |cells| JVM folds plus one linear rank-1 window, and the
    (vec_id, cell) result is checkpointed id-narrow (12 bytes/row) so
    its three consumers don't re-run the subtree. Candidate pairs come
    from the SAME size-gated stage-1 as dedup_embedding
    (cosine_threshold_candidates_auto: Arrow-batch × broadcast-matrix
    matmul under the statistics ceiling, multi-probe LSH past it) —
    measured 6× faster than scoring the cell self-join with per-pair
    JVM cosine folds (7.7 s → 1.3 s at sf0.1) — then the cell filter
    keeps in-cell pairs only and the exact normalise-then-dot verify
    (the dedup_embedding recipe, mirrored by the oracle) decides ≥ tau.
    Only id-pairs move through the candidate joins (the r3 graph-dedup
    lesson); unit vectors re-join by id. At 100 TB the production form
    persists the assignment as a cell-bucketed table and runs stage 1
    per cell — Σ_c O(n_c²) work, the SemDeDup design. No ungated
    driver collect (the broadcast matrix is the statistics-gated path
    shared with every vector operator).
    """
    from resin_spark.operators.similarity import (
        cosine_threshold_candidates_auto, maybe_broadcast, valid_vectors,
    )
    from resin_spark.operators.traindata import (
        _assign_cells, label_centroid_vectors,
    )

    base = valid_vectors(emb).filter(F.col("label").isNotNull())
    cents = label_centroid_vectors(base)
    # the shared max-cosine assignment kernel (also centroid_assign's
    # and kmeans_refine's) — checkpointed id-narrow for its 3 consumers
    assigned = _assign_cells(base, cents).localCheckpoint(eager=False)
    cand, fits = cosine_threshold_candidates_auto(base, tau)
    normed = base.filter(V.norm("embedding") > 0).select(
        "vec_id", V.l2_normalize("embedding").alias("u"))
    ca = assigned.select(F.col("vec_id").alias("vec_a"),
                         F.col("cell").alias("cell_a"))
    cb = assigned.select(F.col("vec_id").alias("vec_b"),
                         F.col("cell").alias("cell_b"))
    na = normed.select(F.col("vec_id").alias("vec_a"), F.col("u").alias("ua"))
    nb = normed.select(F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"))
    pairs = (
        cand
        .join(maybe_broadcast(ca, fits), "vec_a")
        .join(maybe_broadcast(cb, fits), "vec_b")
        .filter(F.col("cell_a") == F.col("cell_b"))
        .join(maybe_broadcast(na, fits), "vec_a")
        .join(maybe_broadcast(nb, fits), "vec_b")
        .filter(V.dot("ua", "ub") >= tau)
        .select(F.col("cell_a").alias("cell"), "vec_a", "vec_b")
    )
    earlier = pairs.groupBy(F.col("vec_b").alias("vec_id")) \
        .agg(F.count(F.lit(1)).alias("n_dups_earlier"))
    return (
        assigned.select("vec_id", "cell")
        .join(earlier, "vec_id", "left")
        .select(
            "vec_id", "cell",
            F.coalesce("n_dups_earlier", F.lit(0)).alias("n_dups_earlier"),
            (F.coalesce("n_dups_earlier", F.lit(0)) == 0).alias("keep"),
        )
        .orderBy("vec_id")
    )


def semantic_dedup_oracle(tau: float = SEMDEDUP_TAU) -> str:
    # pair verify mirrors the engine's normalise-then-dot order (the
    # embedding_dedup_oracle recipe) — assignment keeps cosine_gated
    from resin_spark.operators.similarity import VALID_VECTORS_SQL
    cos_assign = V.cosine_gated_sql("e.embedding", "c.centroid")
    return f"""
    WITH vemb AS (
        SELECT * FROM embeddings
        WHERE {VALID_VECTORS_SQL} AND label IS NOT NULL
    ), dims AS (
        SELECT label, CAST(p.i - 1 AS INT) AS dim,
               CAST(SUM(CAST(CAST(p.x AS VARCHAR) AS DECIMAL(28,15))) AS DOUBLE)
                   / COUNT(*) AS mean_val
        FROM (
            SELECT label,
                   unnest(list_transform(range(1, len(embedding) + 1),
                          i -> {{'i': i, 'x': embedding[i]}})) AS p
            FROM vemb
        )
        GROUP BY 1, 2
    ), cent AS (
        SELECT label AS c_label, list(mean_val ORDER BY dim) AS centroid
        FROM dims GROUP BY label
    ), assigned AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.c_label AS cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos_assign} DESC, c.c_label)
                       AS rn
            FROM vemb e, cent c
        ) WHERE rn = 1
    ), normed AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) / {V.norm_sql("embedding")})
                   AS u
        FROM vemb WHERE {V.norm_sql("embedding")} > 0
    ), pairs AS (
        SELECT sa.cell, a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM normed a
        JOIN assigned sa ON sa.vec_id = a.vec_id
        JOIN normed b ON a.vec_id < b.vec_id
        JOIN assigned sb ON sb.vec_id = b.vec_id
        WHERE sa.cell = sb.cell AND {V.dot_sql("a.u", "b.u")} >= {tau}
    ), earlier AS (
        SELECT vec_b AS vec_id, COUNT(*) AS n_dups_earlier
        FROM pairs GROUP BY vec_b
    )
    SELECT s.vec_id, s.cell,
           COALESCE(e.n_dups_earlier, 0) AS n_dups_earlier,
           COALESCE(e.n_dups_earlier, 0) = 0 AS keep
    FROM assigned s LEFT JOIN earlier e USING (vec_id)
    ORDER BY s.vec_id
    """


def write_cell_index(emb: DataFrame, table: str, n_buckets: int = 32) -> None:
    """Persist the SemDeDup cell assignment as a CELL-BUCKETED managed
    table — the production form semantic_dedup's docstring promises:
    (vec_id, cell, embedding) hash-organised on cell at write time, so
    the within-cell pair join over the stored corpus plans with ZERO
    exchange of the vector side (pinned in tests). Build once per
    corpus snapshot; every later dedup/cluster-analysis pass reads
    co-located cells.
    """
    from resin_spark.io import write_bucketed
    from resin_spark.operators.similarity import valid_vectors
    from resin_spark.operators.traindata import (
        _assign_cells, label_centroid_vectors,
    )

    base = valid_vectors(emb).filter(F.col("label").isNotNull())
    cents = label_centroid_vectors(base)
    assigned = _assign_cells(base, cents)
    write_bucketed(
        base.select("vec_id", "embedding").join(assigned, "vec_id"),
        table, ["cell"], n_buckets, sort_cols=["cell", "vec_id"],
    )


def semantic_dedup_indexed(spark, table: str,
                           tau: float = SEMDEDUP_TAU) -> DataFrame:
    """semantic_dedup over a persisted cell index (write_cell_index):
    the pair search self-joins the bucketed table ON THE CELL KEY —
    co-located reads, no Exchange on either vector side — then the
    exact normalise-then-dot verify and keep-min verdict. Verdict-
    equal to semantic_dedup on the same corpus (tested).

    Cost honesty: this path scores EVERY within-cell pair with a
    single-fold JVM dot — cheaper than the 3-fold cosine the first
    direct cut was measured at (7.7 s), but still O(Σ_c n_c²) folds,
    whereas the direct operator's stage 1 runs the candidate matmul.
    It wins when cells are small (k sized so n_c ≈ 10³, the SemDeDup
    operating point) and the join savings dominate; for fat cells,
    run the matmul stage per cell instead of this join.
    """
    idx = spark.table(table)
    normed = idx.filter(V.norm("embedding") > 0).select(
        "vec_id", "cell", V.l2_normalize("embedding").alias("u"))
    a = normed.select(F.col("vec_id").alias("vec_a"), "cell",
                      F.col("u").alias("ua"))
    b = normed.select(F.col("vec_id").alias("vec_b"), "cell",
                      F.col("u").alias("ub"))
    pairs = (
        a.join(b, "cell")
        .filter((F.col("vec_a") < F.col("vec_b"))
                & (V.dot("ua", "ub") >= tau))
        .select("cell", "vec_a", "vec_b")
    )
    earlier = pairs.groupBy(F.col("vec_b").alias("vec_id")) \
        .agg(F.count(F.lit(1)).alias("n_dups_earlier"))
    return (
        idx.select("vec_id", "cell")
        .join(earlier, "vec_id", "left")
        .select(
            "vec_id", "cell",
            F.coalesce("n_dups_earlier", F.lit(0)).alias("n_dups_earlier"),
            (F.coalesce("n_dups_earlier", F.lit(0)) == 0).alias("keep"),
        )
        .orderBy("vec_id")
    )


def append_dedup_index(new_docs: DataFrame, path: str, n: int = 3,
                       num_perm: int = 128, bands: int = 32,
                       seed: int = 42) -> None:
    """Merge a NEW batch into a stored dedup index — the step that
    closes the continuous-ingest loop: dedup the batch against the
    index (incremental_dedup_indexed), then append the survivors'
    signatures so the NEXT crawl sees them. Cost is one
    shingle/signature Arrow pass over the batch plus two appends; the
    standing corpus is never re-signed.

    Both stored relations take pure row-appends (unlike the text
    index, no per-key merge exists to get wrong: hashes is keyed by
    the new doc_ids and every (doc_id, band, band_hash) posting is an
    independent row). Batch doc_ids must be new — an id already
    indexed would double its band postings and shadow its hash set, so
    overlap refuses loudly (one id-projection join against the stored
    hashes). Parameters must match the write; the stored relations
    carry the same shapes either way, so a mismatch surfaces as the
    validator's unfindable-posting failure, not silence.

    Repeated appends accumulate small files per band directory;
    io.compact_parquet is the housekeeping pass (run it on
    ``{path}/bands`` and ``{path}/hashes`` in a maintenance window).
    """
    spark = new_docs.sparkSession
    base = new_docs.filter(F.col("doc_id").isNotNull())
    stored_ids = spark.read.parquet(f"{path}/hashes").select("doc_id")
    n_overlap = base.select("doc_id").distinct() \
        .join(stored_ids, "doc_id").count()
    if n_overlap:
        raise ValueError(
            f"append_dedup_index: {n_overlap} doc_ids already indexed "
            f"at {path}; incremental appends require fresh ids")
    grouped, bands_df = lsh_index(base, n, num_perm, bands, seed)
    grouped.write.mode("append").parquet(f"{path}/hashes")
    bands_df.repartition("band").write.mode("append") \
        .partitionBy("band").parquet(f"{path}/bands")


def dup_cluster_histogram(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Duplicate-cluster size distribution — the one-page corpus card
    over dedup_components (dedup.py:503): (cluster_size, n_clusters,
    n_docs, doc_share). cluster_size 1 = unique docs; the heavy tail
    is what a dedup pass will collapse, and doc_share says how much of
    the corpus that is.

    Adds two tiny aggregates (per-component size, then per-size count
    — both shrink fast) and a broadcast single-row total on top of the
    component relation's audited plan. The histogram itself is at most
    |distinct sizes| rows.
    """
    comp = dedup_components(docs, max_hamming)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"))
    total = hist.groupBy().agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters")).alias("total_docs"))
    return (
        hist.join(F.broadcast(total))
        .select(
            "cluster_size", "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            (F.col("cluster_size") * F.col("n_clusters")
             / F.col("total_docs")).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )


def dup_cluster_histogram_oracle(max_hamming: int = 3) -> str:
    return f"""
    WITH comp AS (
        SELECT * FROM ({dedup_components_oracle(max_hamming)}) q
    ),
    sizes AS (
        SELECT component, COUNT(*) AS cluster_size FROM comp
        GROUP BY component
    ),
    hist AS (
        SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes
        GROUP BY cluster_size
    )
    SELECT cluster_size, n_clusters,
           cluster_size * n_clusters AS n_docs,
           cluster_size * n_clusters
               / (SELECT SUM(cluster_size * n_clusters) FROM hist)
               AS doc_share
    FROM hist ORDER BY cluster_size
    """


# --- D13: duplicate-mass vs Jaccard threshold curve ---------------------------

# Lockstep knobs shared with dedup_threshold_curve_oracle: the curve's
# threshold grid and the shingle width. The pair relation is built ONCE
# at min(CURVE_THRESHOLDS); each grid point is a filter over it.
CURVE_THRESHOLDS: tuple[float, ...] = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
CURVE_N = 3


def dedup_threshold_curve(docs: DataFrame, n: int = CURVE_N,
                          thresholds: tuple[float, ...] = CURVE_THRESHOLDS
                          ) -> DataFrame:
    """Duplicate-mass curve: for each Jaccard threshold t, how many
    exact shingle-Jaccard pairs reach t and how much of the corpus is
    entangled in them — (threshold, n_pairs, n_docs_in_pairs,
    dup_doc_share). The eyes-open sheet behind choosing THE dedup
    threshold: D2/D3 run at one tau; this shows what every other tau
    would have flagged, from one pair computation.

    Exactness: the pair relation is ngram_jaccard_pairs at the lowest
    grid point (exact PPJoin, no approximation), so every grid point is
    an exact filter — and both engines compare the same IEEE jaccard
    double against the same parsed threshold literal, so boundary pairs
    land identically.

    Scale: one exact pair computation at min(thresholds) (the PPJoin
    prefix grows as tau drops — the curve's floor is "the lowest tau
    you are willing to pay exactness for"; at 100 TB swap the pair
    source for minhash_lsh_pairs and keep the curve stage unchanged);
    the grid rollup is a broadcast cross of the pair relation with
    |thresholds| rows, two low-cardinality aggregates, and a one-row
    corpus count.
    """
    base_tau = min(thresholds)
    spark = docs.sparkSession
    # NOT checkpointed (r11 A/B, med 19.1 s vs 21.3 s on the nesting
    # card): AQE reuses the identical PPJoin exchange stages across the
    # two grid-aggregate branches at runtime, so a localCheckpoint here
    # only adds a materialisation barrier.
    pairs = ngram_jaccard_pairs(docs, n, base_tau).select(
        "doc_a", "doc_b", "jaccard")
    th = spark.createDataFrame([(float(t),) for t in thresholds],
                               "threshold double")
    hits = (
        pairs.join(F.broadcast(th), F.col("jaccard") >= F.col("threshold"))
    )
    per_pairs = hits.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    per_docs = (
        hits.select("threshold",
                    F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("threshold")
        .agg(F.countDistinct("doc_id").alias("n_docs_in_pairs"))
    )
    n_docs = (docs.filter(F.col("doc_id").isNotNull())
              .agg(F.countDistinct("doc_id")).first()[0])
    zero = F.lit(0).cast("long")
    return (
        th.join(per_pairs, "threshold", "left")
        .join(per_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", zero).alias("n_pairs"),
            F.coalesce("n_docs_in_pairs", zero).alias("n_docs_in_pairs"),
            F.try_divide(F.coalesce("n_docs_in_pairs", zero).cast("double"),
                         F.lit(n_docs)).alias("dup_doc_share"),
        )
        .orderBy("threshold")
    )


def dedup_threshold_curve_demo(t: dict) -> DataFrame:
    return dedup_threshold_curve(t["documents"])


def dedup_threshold_curve_oracle(n: int = CURVE_N,
                                 thresholds: tuple[float, ...] = CURVE_THRESHOLDS
                                 ) -> str:
    base_tau = min(thresholds)
    grid = ", ".join(repr(t) for t in thresholds)
    return f"""
    WITH sh AS ({_shingles_sql(n)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b,
               n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {base_tau}
    ),
    th AS (SELECT CAST(unnest([{grid}]) AS DOUBLE) AS threshold),
    hits AS (
        SELECT threshold, doc_a, doc_b FROM pairs, th
        WHERE jaccard >= threshold
    ),
    per_pairs AS (
        SELECT threshold, COUNT(*) AS n_pairs FROM hits GROUP BY 1
    ),
    per_docs AS (
        SELECT threshold, COUNT(DISTINCT doc_id) AS n_docs_in_pairs
        FROM (SELECT threshold, unnest([doc_a, doc_b]) AS doc_id FROM hits)
        GROUP BY 1
    ),
    total AS (
        SELECT COUNT(DISTINCT doc_id) AS n FROM documents
        WHERE doc_id IS NOT NULL
    )
    SELECT th.threshold,
           COALESCE(n_pairs, 0) AS n_pairs,
           COALESCE(n_docs_in_pairs, 0) AS n_docs_in_pairs,
           CAST(COALESCE(n_docs_in_pairs, 0) AS DOUBLE) / total.n
               AS dup_doc_share
    FROM th
    LEFT JOIN per_pairs USING (threshold)
    LEFT JOIN per_docs USING (threshold)
    CROSS JOIN total
    ORDER BY threshold
    """


# --- D14: minhash-LSH banding tuning report -----------------------------------

BANDING_GRID: tuple[int, ...] = (64, 32, 16, 8)


def minhash_banding_report(docs: DataFrame, tau: float = 0.5, n: int = 3,
                           num_perm: int = 128,
                           bands_grid: tuple[int, ...] = BANDING_GRID,
                           seed: int = 42) -> DataFrame:
    """Measured banding trade table for minhash-LSH dedup: per bands
    config (rows_per_band = num_perm/bands), the candidate-pair count
    (verification cost), recall of the exact Jaccard-≥-tau pair set,
    and candidate precision (share of candidates that verify) —
    (bands, rows_per_band, n_candidates, n_exact_pairs, n_found,
    recall, candidate_precision).

    The D3 sibling of ann_recall_report (E20): D3's driver entry runs
    128/32 where banded recall is ~1 at tau 0.5; a 100 TB operator
    trading recall for candidate volume picks a different point — this
    is the eyes-open sheet (the MMDS S-curve 1-(1-J^r)^b, measured
    instead of assumed; reference trade: GraphOptions.cs FoldAngle).

    Diagnostics utility, not a driver entry: ground truth is the exact
    PPJoin pair set, so the report only makes sense at a SAMPLE scale
    where exactness is payable — run it on a hash-sampled slice and
    carry the chosen (bands, rows) to the full corpus. Signatures and
    the exact pair set are each computed ONCE (localCheckpoint) and
    re-banded per config; per-config results are bounded scalar counts.
    """
    spark = docs.sparkSession
    sigs = minhash_signatures(docs, n, num_perm, seed) \
        .localCheckpoint(eager=False)
    exact = ngram_jaccard_pairs(docs, n, tau).select("doc_a", "doc_b") \
        .localCheckpoint(eager=False)
    n_exact = exact.count()
    rows = []
    for b in bands_grid:
        if num_perm % b:
            raise ValueError(f"bands={b} does not divide num_perm={num_perm}")
        bands_df = sigs.select(
            "doc_id",
            F.posexplode(_band_hash_array("sig", num_perm, b))
            .alias("band", "band_hash"))
        a, bb = bands_df.alias("a"), bands_df.alias("b")
        cand = (
            a.join(bb, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_cand = cand.count()
        n_found = cand.join(exact, ["doc_a", "doc_b"]).count()
        rows.append((
            b, num_perm // b, n_cand, n_exact, n_found,
            n_found / n_exact if n_exact else None,
            n_found / n_cand if n_cand else None,
        ))
    return spark.createDataFrame(
        rows,
        "bands int, rows_per_band int, n_candidates long, "
        "n_exact_pairs long, n_found long, recall double, "
        "candidate_precision double")


# --- D17 (diagnostics): cross-method agreement card --------------------------

def dedup_method_agreement(docs: DataFrame, n: int = 3, tau: float = 0.5,
                           num_perm: int = 128, bands: int = 32,
                           max_hamming: int = 3) -> DataFrame:
    """Pairwise agreement of the three document near-dup detectors on
    the SAME corpus — the "which dedup stack do I trust" sheet beside
    D14's recall/cost trade: (method_a, method_b, pairs_a, pairs_b,
    pairs_both, pairs_either, agreement) per unordered method pair,
    agreement = |A∩B| / |A∪B| over the (doc_a, doc_b) pair SETS found
    by exact n-gram Jaccard (D2), banded minhash-LSH verified at the
    same tau (D3), and simhash Hamming ≤ k (D4).

    What it tells a 100 TB build: minhash-vs-ngram disagreement is
    pure banding recall (D3 ⊆ D2 by construction — verified candidates
    at the same tau; pairs_both == pairs_minhash on that row, asserted
    in tests), while simhash-vs-ngram disagreement is a genuine
    SIMILARITY-NOTION gap (60-bit sketch Hamming vs shingle-set
    Jaccard) that no banding knob closes — if it is large on a sample,
    the two methods are keeping/killing different documents and the
    pipeline should pick deliberately, not interchangeably.

    Diagnostics card (the E20/D14 family): its subjects are the
    checked D2/D3/D4 relations called verbatim, so a SQL oracle would
    re-state those ops; pytest pins hand-built corpora instead — no
    driver slot by design. Scale: the three pair relations are already
    banded/bounded; this adds one union of 20-byte (a, b, method)
    rows, one groupBy on pair ids, and a single global aggregate —
    O(methods²) output rows.
    """
    pair_rels = (
        ("ngram_jaccard", ngram_jaccard_pairs(docs, n, tau)),
        ("minhash_lsh", minhash_lsh_pairs(docs, n, num_perm, bands, tau)),
        ("simhash", simhash_pairs(docs, max_hamming)),
    )
    names = [m for m, _ in pair_rels]
    tagged = None
    for m, rel in pair_rels:
        p = rel.select("doc_a", "doc_b", F.lit(m).alias("method"))
        tagged = p if tagged is None else tagged.unionByName(p)
    flags = tagged.groupBy("doc_a", "doc_b").agg(
        *[F.max(F.col("method") == m).alias(m) for m in names])
    combos = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    agg = flags.agg(
        *[F.coalesce(F.sum(F.col(m).cast("long")), F.lit(0)).alias(f"n_{m}")
          for m in names],
        *[F.coalesce(F.sum((F.col(a) & F.col(b)).cast("long")), F.lit(0))
          .alias(f"nb_{i}") for i, (a, b) in enumerate(combos)],
    )
    # one projection + F.inline, NOT a union of per-combo selects: the
    # union form relied on ReuseExchange spotting three identical agg
    # subtrees (AQE re-planning can defeat it and run the whole D2/D3/D4
    # pipeline 3x — ADVICE r8); inlining an array of structs over the
    # single agg row puts the aggregate in the plan exactly once by
    # construction.
    structs = []
    for i, (a, b) in enumerate(combos):
        both = F.col(f"nb_{i}")
        either = F.col(f"n_{a}") + F.col(f"n_{b}") - both
        structs.append(F.struct(
            F.lit(a).alias("method_a"), F.lit(b).alias("method_b"),
            F.col(f"n_{a}").alias("pairs_a"), F.col(f"n_{b}").alias("pairs_b"),
            both.alias("pairs_both"), either.alias("pairs_either"),
            F.try_divide(both.cast("double"), either).alias("agreement"),
        ))
    return (agg.select(F.inline(F.array(*structs)))
            .orderBy("method_a", "method_b"))
