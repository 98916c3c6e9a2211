"""Persisted-index validators — "re-search everything you indexed".

The reference ships GraphIndexValidator.cs / SeekableGraphIndexValidator.cs
(src/Resin.MachineLearning/GraphIndexValidator.cs:1-40): after building
an on-disk graph index, re-search every indexed vector and assert the
index finds it. These are the Spark-first analogs for every persisted
artifact this repo writes (write_ann_index, write_pq_index,
write_ivf_index, write_dedup_index, write_cell_index, write_nb_model,
write_text_index): each validator
re-derives what the store claims from the store's own contents — with
the exact production kernels (minhash UDF, hyperplane hashing, PQ
encoder), so "found" means the real probe path would find it — and
reports one (artifact, check, n, ok) row per invariant. Point it at a
possibly-corrupt store and get found/missing/mismatch accounting
instead of silent wrong answers downstream.

Scale: checks are batched into 2–3 Spark jobs per artifact — one
FULL-OUTER compare of recomputed-vs-stored postings folded to all its
counts in a single conditional aggregate, plus one per-key integrity
aggregate — rather than one job per check, so a validator run costs
about one index build over the indexed rows regardless of how many
invariants it reports. The scalars pulled to the driver are one row of
longs per job — the convergence-probe pattern, not a data collect.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SUMMARY_SCHEMA = "artifact string, check string, n bigint, ok boolean"


def _summary(spark: SparkSession, artifact: str,
             checks: list[tuple[str, int, bool]]) -> DataFrame:
    return spark.createDataFrame(
        [(artifact, c, int(n), bool(ok)) for c, n, ok in checks],
        SUMMARY_SCHEMA,
    )


def _n(expr) -> F.Column:
    """Count rows where ``expr`` holds — a conditional count usable
    many times inside ONE aggregate."""
    return F.count(F.when(expr, F.lit(1)))


def _posting_compare(recomputed: DataFrame, stored: DataFrame,
                     keys: list[str], id_col: str):
    """(missing, extra, unfindable_ids) in ONE full-outer join + ONE
    aggregate: a recomputed posting with no stored twin is missing (its
    id is unfindable by the self-probe in that table/band); a stored
    posting with no recomputed twin is extra/corrupt."""
    r = recomputed.withColumn("_r", F.lit(1))
    s = stored.withColumn("_s", F.lit(1))
    row = (
        r.join(s, keys, "full_outer")
        .agg(
            _n(F.col("_s").isNull()).alias("missing"),
            _n(F.col("_r").isNull()).alias("extra"),
            F.count_distinct(
                F.when(F.col("_s").isNull(), F.col(id_col))
            ).alias("unfindable"),
        )
        .first()
    )
    return row["missing"], row["extra"], row["unfindable"]


def validate_ann_index(spark: SparkSession, path: str, n_planes: int = 8,
                       n_tables: int = 4) -> DataFrame:
    """Re-hash every stored vector with the store's hyperplane family
    (the stored width and similarity.LSH_SEED0) and assert its
    (tbl, bucket) posting exists — a stored vector whose recomputed
    posting is missing would be unreachable by the very self-probe
    GraphIndexValidator runs. ``n_planes``/``n_tables`` must match the
    write; a mismatch shows up as mass posting mismatches, which is the
    desired loud failure."""
    from resin_spark.operators.similarity import (
        _lsh_postings, _probe_dims, hyperplane_buckets_udf, read_ann_index,
    )

    idx = read_ann_index(spark, path)
    entries = idx.select("vec_id", "embedding").distinct().localCheckpoint()
    h = hyperplane_buckets_udf(_probe_dims(entries, "embedding"), n_planes,
                               n_tables)
    recomputed = _lsh_postings(entries, h, "vec_id", "embedding")
    stored = idx.select("vec_id", F.col("tbl").cast("int").alias("tbl"),
                        "bucket")
    n_missing, n_extra, unfindable = _posting_compare(
        recomputed, stored, ["vec_id", "tbl", "bucket"], "vec_id")
    # per-id integrity in ONE pass over the stored relation: row fanout
    # (= n_tables postings per id) and vector consistency together
    per_id = idx.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("np"),
        F.count_distinct(F.col("embedding")).alias("nv"),
    )
    stats = per_id.agg(
        F.count(F.lit(1)).alias("n_entries"),
        _n(F.col("np") != n_tables).alias("bad_fanout"),
        _n(F.col("nv") != 1).alias("multi_vec"),
    ).first()
    n_entries, bad_fanout, multi_vec = (
        stats["n_entries"], stats["bad_fanout"], stats["multi_vec"])
    return _summary(spark, "ann", [
        ("entries", n_entries, n_entries > 0),
        ("postings_missing", n_missing, n_missing == 0),
        ("postings_extra", n_extra, n_extra == 0),
        ("ids_unfindable_by_self_probe", unfindable, unfindable == 0),
        ("ids_with_wrong_table_fanout", bad_fanout, bad_fanout == 0),
        ("ids_with_inconsistent_vectors", multi_vec, multi_vec == 0),
    ])


def validate_pq_index(spark: SparkSession, path: str,
                      emb: DataFrame | None = None) -> DataFrame:
    """Codebook grid completeness + code validity; with the raw corpus
    supplied, re-encode every vector and assert the stored codes match
    (the full "the index would reconstruct what I indexed" check)."""
    from resin_spark.operators.similarity import (
        _pq_encode_udf, read_pq_index, valid_vectors,
    )

    codes, books = read_pq_index(spark, path)
    m_sub, n_codes, _ = books.shape
    grid_ok = bool((books == books).all())  # NaN-free
    # row validity + id duplication in ONE groupBy + ONE aggregate
    bad_len = F.col("codes").isNull() | (F.size("codes") != int(m_sub))
    bad_rng = F.exists("codes", lambda c: c.isNull() | (c < 0)
                       | (c >= int(n_codes)))
    per_id = codes.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("c"),
        _n(bad_len).alias("bl"),
        _n(F.when(bad_len, F.lit(False)).otherwise(bad_rng)).alias("br"),
    )
    stats = per_id.agg(
        F.sum("c").alias("n_rows"),
        _n(F.col("c") > 1).alias("dup_ids"),
        F.sum("bl").alias("bad_len"),
        F.sum("br").alias("bad_range"),
    ).first()
    checks = [
        ("entries", stats["n_rows"] or 0, (stats["n_rows"] or 0) > 0),
        ("codebook_nan_free", int(m_sub * n_codes), grid_ok),
        ("ids_duplicated", stats["dup_ids"], stats["dup_ids"] == 0),
        ("codes_wrong_length", stats["bad_len"] or 0,
         not stats["bad_len"]),
        ("codes_out_of_range", stats["bad_range"] or 0,
         not stats["bad_range"]),
    ]
    if emb is not None:
        reenc = valid_vectors(emb).select(
            "vec_id",
            _pq_encode_udf(books)(F.col("embedding")).alias("recodes"),
        )
        row = (
            codes.withColumn("_c", F.lit(1))
            .join(reenc.withColumn("_r", F.lit(1)), "vec_id", "full_outer")
            .agg(
                _n(F.col("_c").isNotNull() & F.col("_r").isNotNull()
                   & ~F.col("codes").eqNullSafe(F.col("recodes"))).alias("mm"),
                _n(F.col("_c").isNull()).alias("missing"),
                _n(F.col("_r").isNull()).alias("orphan"),
            )
            .first()
        )
        checks += [
            ("codes_mismatch_reencode", row["mm"], row["mm"] == 0),
            ("corpus_ids_missing", row["missing"], row["missing"] == 0),
            ("orphan_ids", row["orphan"], row["orphan"] == 0),
        ]
    return _summary(spark, "pq", checks)


def validate_dedup_index(spark: SparkSession, path: str,
                         num_perm: int = 128, bands: int = 32,
                         seed: int = 42) -> DataFrame:
    """Re-sign every stored shingle-hash set and re-derive its band
    postings; a doc whose stored postings diverge would never surface
    as a candidate for its own content — the dedup-index form of "the
    index finds what it indexed". n (shingle width) is burned into the
    stored hash sets, so only the signature params need to match."""
    from resin_spark.operators.dedup import (
        _band_hash_array, _minhash_udf, read_dedup_index,
    )

    hashes, stored = read_dedup_index(spark, path)
    hashes = hashes.localCheckpoint()
    sig = _minhash_udf(num_perm, seed)
    recomputed = (
        hashes.select("doc_id", sig("hashes").alias("sig"))
        .select("doc_id",
                F.posexplode(_band_hash_array("sig", num_perm, bands))
                .alias("band", "band_hash"))
    )
    stored = stored.select("doc_id", F.col("band").cast("int").alias("band"),
                           "band_hash")
    n_missing, n_extra, unfindable = _posting_compare(
        recomputed, stored, ["doc_id", "band", "band_hash"], "doc_id")
    doc_stats = hashes.groupBy("doc_id").count().agg(
        F.count(F.lit(1)).alias("n_docs"),
        _n(F.col("count") > 1).alias("dup_docs"),
    ).first()
    bad_fanout = (
        stored.groupBy("doc_id").count()
        .agg(_n(F.col("count") != bands).alias("b")).first()["b"]
    )
    return _summary(spark, "dedup", [
        ("entries", doc_stats["n_docs"], doc_stats["n_docs"] > 0),
        ("ids_duplicated", doc_stats["dup_docs"],
         doc_stats["dup_docs"] == 0),
        ("postings_missing", n_missing, n_missing == 0),
        ("postings_extra", n_extra, n_extra == 0),
        ("ids_unfindable_by_self_probe", unfindable, unfindable == 0),
        ("ids_with_wrong_band_fanout", bad_fanout, bad_fanout == 0),
    ])


def validate_cell_index(spark: SparkSession, table: str,
                        emb: DataFrame | None = None) -> DataFrame:
    """Integrity of the bucketed SemDeDup cell table; with the source
    corpus supplied, also re-derive the assignment (same centroids,
    same argmax) and assert every stored cell matches — the
    re-search-equivalent for a clustering index."""
    idx = spark.table(table)
    per_id = idx.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("c"),
        _n(F.col("cell").isNull()).alias("nc"),
        _n(F.col("embedding").isNull()
           | F.exists("embedding", lambda x: F.isnan(x))).alias("bv"),
    )
    stats = per_id.agg(
        F.sum("c").alias("n_rows"),
        _n(F.col("c") > 1).alias("dup_ids"),
        F.sum("nc").alias("null_cells"),
        F.sum("bv").alias("bad_vecs"),
    ).first()
    checks = [
        ("entries", stats["n_rows"] or 0, (stats["n_rows"] or 0) > 0),
        ("ids_duplicated", stats["dup_ids"], stats["dup_ids"] == 0),
        ("null_cells", stats["null_cells"] or 0, not stats["null_cells"]),
        ("invalid_vectors", stats["bad_vecs"] or 0, not stats["bad_vecs"]),
    ]
    if emb is not None:
        from resin_spark.operators.similarity import valid_vectors
        from resin_spark.operators.traindata import (
            _assign_cells, label_centroid_vectors,
        )
        base = valid_vectors(emb).filter(F.col("label").isNotNull())
        expected = _assign_cells(base, label_centroid_vectors(base)) \
            .withColumnRenamed("cell", "recell")
        row = (
            idx.select("vec_id", "cell").withColumn("_i", F.lit(1))
            .join(expected.withColumn("_e", F.lit(1)), "vec_id",
                  "full_outer")
            .agg(
                _n(F.col("_i").isNotNull() & F.col("_e").isNotNull()
                   & ~F.col("cell").eqNullSafe(F.col("recell"))).alias("mm"),
                _n(F.col("_i").isNull()).alias("missing"),
                _n(F.col("_e").isNull()).alias("orphan"),
            )
            .first()
        )
        checks += [
            ("cells_mismatch_reassign", row["mm"], row["mm"] == 0),
            ("corpus_ids_missing", row["missing"], row["missing"] == 0),
            ("orphan_ids", row["orphan"], row["orphan"] == 0),
        ]
    return _summary(spark, "cell", checks)


def validate_nb_model(spark: SparkSession, path: str) -> DataFrame:
    """NB language-model store: the (cand, tok) relation must be keyed,
    every language must carry prior/oov stats and vice versa, all bits
    finite and non-negative, and the priors must still be a probability
    distribution (Σ 2^-prior_bits = 1) — a truncated lang_stats file
    fails loudly here instead of silently skewing every classification."""
    from resin_spark.operators.traindata import read_nb_model

    model, cand = read_nb_model(spark, path)
    bad_bit = (F.col("bits").isNull() | F.isnan("bits")
               | (F.col("bits") < 0))
    per_key = model.groupBy("cand", "tok").agg(
        F.count(F.lit(1)).alias("c"), _n(bad_bit).alias("bb"))
    stats = per_key.agg(
        F.sum("c").alias("n_toks"),
        _n(F.col("c") > 1).alias("dup_keys"),
        F.sum("bb").alias("bad_bits"),
    ).first()
    # language agreement + prior mass in ONE full-outer pass: model's
    # distinct languages vs the stats relation
    lrow = (
        model.select("cand").distinct().withColumn("_m", F.lit(1))
        .join(cand.withColumn("_s", F.lit(1)), "cand", "full_outer")
        .agg(
            _n(F.col("_s").isNull()).alias("no_stats"),
            _n(F.col("_m").isNull()).alias("no_toks"),
            _n(F.col("_s").isNotNull()).alias("n_langs"),
            F.sum(F.when(F.col("_s").isNotNull(),
                         F.pow(F.lit(2.0), -F.col("prior_bits")))).alias("m"),
        )
        .first()
    )
    prior_mass, n_langs = lrow["m"], lrow["n_langs"]
    # prior_bits are stored rounded to 1e-6 bits, so each 2^-bits term
    # carries up to ~ln2·5e-7 relative error; tolerate that, nothing more
    # (a missing language is off by its whole prior share — loud).
    priors_ok = prior_mass is not None \
        and math.isclose(prior_mass, 1.0, abs_tol=1e-6 * max(1, n_langs))
    return _summary(spark, "nb_model", [
        ("token_rows", stats["n_toks"] or 0, (stats["n_toks"] or 0) > 0),
        ("languages", n_langs, n_langs > 0),
        ("duplicate_token_keys", stats["dup_keys"],
         stats["dup_keys"] == 0),
        ("invalid_bits", stats["bad_bits"] or 0, not stats["bad_bits"]),
        ("languages_missing_stats", lrow["no_stats"],
         lrow["no_stats"] == 0),
        ("stats_without_tokens", lrow["no_toks"], lrow["no_toks"] == 0),
        ("prior_mass_x1e9", int(round((prior_mass or 0.0) * 1e9)),
         priors_ok),
    ])


def validate_text_index(spark: SparkSession, path: str,
                        docs: DataFrame | None = None,
                        n_buckets: int | None = None) -> DataFrame:
    """Inverted text index (write_text_index): postings keyed and
    positive, every posting's doc present in doclens with tf ≤ dl,
    bucket directories consistent with the term hash (a posting filed
    in the wrong bucket is unreachable by the pruned query path — the
    unfindable-posting analog), and the stats row equal to the doclens
    aggregate. With the source corpus supplied, postings and doclens
    are fully re-derived and compared.

    The bucket function is recovered from the store's own stats row
    (write_text_index persists n_buckets), so an index written with a
    non-default bucket count validates clean; ``n_buckets`` overrides
    only for pre-r6 stores that predate the self-describing stats
    row."""
    from resin_spark.functions import text as T
    from resin_spark.operators.textindex import (
        _term_bucket, read_text_index, stored_n_buckets,
    )

    postings, doclens, stats = read_text_index(spark, path)
    n_buckets = stored_n_buckets(stats, n_buckets)
    # positional payload invariants ride the same pass: positions must
    # be present, strictly increasing (sorted + duplicate-free), and
    # exactly tf long — a corrupt position list breaks phrase probes
    # silently, so it fails loudly here
    bad_pos = (
        F.col("positions").isNull()
        | (F.size("positions") != F.col("tf"))
        | (F.col("positions")
           != F.array_sort(F.array_distinct("positions")))
    )
    per_key = postings.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("c"),
        _n(F.col("tf").isNull() | (F.col("tf") < 1)).alias("bt"),
        _n(F.col("bucket")
           != _term_bucket(F.col("term"), n_buckets)).alias("wb"),
        _n(bad_pos).alias("bp"),
    )
    pstats = per_key.agg(
        F.sum("c").alias("n_postings"),
        _n(F.col("c") > 1).alias("dup_keys"),
        F.sum("bt").alias("bad_tf"),
        F.sum("wb").alias("wrong_bucket"),
        F.sum("bp").alias("bad_positions"),
    ).first()
    # doclens integrity + stats agreement in one pass
    drow = doclens.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("tot"),
        _n(F.col("dl").isNull() | (F.col("dl") < 1)).alias("bad_dl"),
        F.count_distinct("doc_id").alias("nd"),
    ).first()
    stats_ok = (stats is not None and drow["n"] == stats["n_docs"]
                and drow["tot"] == stats["total_tokens"])
    # every posting's doc must exist in doclens with tf <= dl
    orow = (
        postings.select("doc_id", "tf", "positions")
        .join(doclens.withColumn("_d", F.lit(1)), "doc_id", "left")
        .agg(
            _n(F.col("_d").isNull()).alias("orphans"),
            _n(F.col("_d").isNotNull()
               & (F.col("tf") > F.col("dl"))).alias("tf_gt_dl"),
            _n(F.col("_d").isNotNull() & F.col("positions").isNotNull()
               & (F.element_at("positions", -1) >= F.col("dl"))
               ).alias("pos_out_of_range"),
        )
        .first()
    )
    checks = [
        ("postings", pstats["n_postings"] or 0,
         (pstats["n_postings"] or 0) > 0),
        ("duplicate_posting_keys", pstats["dup_keys"],
         pstats["dup_keys"] == 0),
        ("invalid_tf", pstats["bad_tf"] or 0, not pstats["bad_tf"]),
        ("postings_in_wrong_bucket", pstats["wrong_bucket"] or 0,
         not pstats["wrong_bucket"]),
        ("docs", drow["n"], drow["n"] > 0),
        ("ids_duplicated", drow["n"] - drow["nd"],
         drow["n"] == drow["nd"]),
        ("invalid_doclens", drow["bad_dl"] or 0, not drow["bad_dl"]),
        ("bad_position_lists", pstats["bad_positions"] or 0,
         not pstats["bad_positions"]),
        ("orphan_postings", orow["orphans"], orow["orphans"] == 0),
        ("tf_exceeds_doclen", orow["tf_gt_dl"], orow["tf_gt_dl"] == 0),
        ("positions_out_of_range", orow["pos_out_of_range"],
         orow["pos_out_of_range"] == 0),
        ("stats_row_consistent", 1 if stats_ok else 0, stats_ok),
    ]
    if docs is not None:
        toks = (
            docs.filter(F.col("doc_id").isNotNull())
            .select("doc_id", F.explode(T.tokens("text")).alias("term"))
        )
        expected = toks.groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("retf"))
        row = (
            postings.select("term", "doc_id", "tf")
            .withColumn("_p", F.lit(1))
            .join(expected.withColumn("_e", F.lit(1)),
                  ["term", "doc_id"], "full_outer")
            .agg(
                _n(F.col("_p").isNotNull() & F.col("_e").isNotNull()
                   & (F.col("tf") != F.col("retf"))).alias("mm"),
                _n(F.col("_p").isNull()).alias("missing"),
                _n(F.col("_e").isNull()).alias("extra"),
            )
            .first()
        )
        checks += [
            ("tf_mismatch_rederive", row["mm"], row["mm"] == 0),
            ("corpus_postings_missing", row["missing"],
             row["missing"] == 0),
            ("extra_postings", row["extra"], row["extra"] == 0),
        ]
    return _summary(spark, "text", checks)


VALIDATORS = {
    "ann": validate_ann_index,
    "pq": validate_pq_index,
    "dedup": validate_dedup_index,
    "cell": validate_cell_index,
    "nb_model": validate_nb_model,
    "text": validate_text_index,
}


def validate_index(spark: SparkSession, path: str, kind: str,
                   **kwargs) -> DataFrame:
    """Dispatch to the validator for a persisted artifact kind
    (ann | pq | ivf | dedup | cell | nb_model | text). Returns the uniform
    (artifact, check, n, ok) summary; ``ok`` false on any row means
    the store failed validation."""
    try:
        fn = VALIDATORS[kind]
    except KeyError:
        raise ValueError(
            f"unknown index kind {kind!r}; one of {sorted(VALIDATORS)}")
    return fn(spark, path, **kwargs)


def validate_ivf_index(spark: SparkSession, path: str) -> DataFrame:
    """Persisted IVF index (similarity.write_ivf_index): re-assign
    every stored vector with the store's OWN centroids and assert its
    stored cell matches (a mis-filed vector is unreachable by the
    pruned probe path — the unfindable-posting analog), one entry row
    per id with a consistent vector, cells within the centroid range,
    and centroids well-formed (uniform width, cell-contiguous)."""
    from resin_spark.operators.similarity import (
        _ivf_cell_udf, read_ivf_index,
    )

    entries, cent = read_ivf_index(spark, path)
    n_cells = int(cent.shape[0]) if cent.size else 0
    crows = spark.read.parquet(f"{path}/centroids")
    cstats = crows.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cell").alias("nd"),
        F.min("cell").alias("cmin"),
        F.max("cell").alias("cmax"),
        F.count_distinct(F.size("centroid")).alias("widths"),
    ).first()
    cent_ok = (cstats["n"] > 0 and cstats["n"] == cstats["nd"]
               and cstats["cmin"] == 0
               and cstats["cmax"] == cstats["n"] - 1
               and cstats["widths"] == 1)
    if n_cells:
        recomputed = entries.select(
            "vec_id",
            F.col("cell").cast("long").alias("stored_cell"),
            _ivf_cell_udf(cent)(F.col("embedding")).alias("re_cell"),
        )
        row = recomputed.agg(
            F.count(F.lit(1)).alias("n"),
            _n(F.col("stored_cell") != F.col("re_cell")).alias("mis"),
            _n((F.col("stored_cell") < 0)
               | (F.col("stored_cell") >= n_cells)).alias("oor"),
        ).first()
        per_id = entries.groupBy("vec_id").agg(
            F.count(F.lit(1)).alias("np"),
            F.count_distinct("embedding").alias("nv"),
        ).agg(
            F.count(F.lit(1)).alias("ids"),
            _n(F.col("np") != 1).alias("dup"),
            _n(F.col("nv") != 1).alias("multi"),
        ).first()
    else:
        row = {"n": 0, "mis": 0, "oor": 0}
        per_id = {"ids": 0, "dup": 0, "multi": 0}
    return _summary(spark, "ivf", [
        ("entries", row["n"], row["n"] > 0),
        ("centroids", cstats["n"], cent_ok),
        ("ids_in_wrong_cell", row["mis"], row["mis"] == 0),
        ("cells_out_of_range", row["oor"], row["oor"] == 0),
        ("ids_duplicated", per_id["dup"], per_id["dup"] == 0),
        ("ids_with_inconsistent_vectors", per_id["multi"],
         per_id["multi"] == 0),
    ])


VALIDATORS["ivf"] = validate_ivf_index
