"""Physical-plan assertions for scale-critical operators (SURVEY §5/§6).

These lock in the plan shapes the 100 TB design depends on: filters
reaching the parquet scan, column pruning, broadcast joins on the tiny
dims, no nested-loop/cartesian joins in the candidate-verify paths, and
no single-partition global windows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from resin_spark.io import load_tables
from resin_spark.operators import dedup, graph, similarity, textops
from resin_spark.plans import tpch

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark):
    df = tpch.q1_pricing_summary(load_tables(spark, SF))
    plan = plan_of(df)
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan \
        or "PushedFilters: [*IsNotNull(l_shipdate)" in plan, plan[:2000]
    # column pruning: untouched wide columns never leave the scan
    assert "l_comment" not in plan
    assert "l_shipinstruct" not in plan


def test_q5_broadcasts_tiny_dims_only(spark):
    df = tpch.q5_local_supplier(load_tables(spark, SF))
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan  # region→nation chain
    # no cartesian anywhere in a 6-way star join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_plans_a_semi_join(spark):
    """The EXISTS must stay a LEFT SEMI hash join: lineitem probed for
    existence only — no pair row ever materialises, no distinct."""
    plan = plan_of(tpch.q4_order_priority(load_tables(spark, SF)))
    assert "LeftSemi" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_plans_anti_join_and_broadcast_scalar(spark):
    """NOT EXISTS must stay a LEFT ANTI hash join, and the scalar mean
    joins back as a broadcast single row — the corpus never reshuffles
    to meet its own aggregate."""
    plan = plan_of(tpch.q22_idle_customers(load_tables(spark, SF)))
    assert "LeftAnti" in plan, plan[:2000]
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("build", [
    lambda t: similarity.knn_classify(t["embeddings"]),
    lambda t: dedup.embedding_dedup_pairs(t["embeddings"]),
    lambda t: graph.graph_dedup(t["embeddings"]),
    lambda t: dedup.ngram_jaccard_pairs(t["documents"]),
    lambda t: dedup.minhash_lsh_pairs(t["documents"]),
    lambda t: dedup.simhash_pairs(t["documents"]),
])
def test_no_quadratic_join_shapes(spark, build):
    """Candidate generation must never plan a cartesian/nested-loop join
    — the O(n²) shapes the round-1 verdict flagged are gone for good."""
    df = build(load_tables(spark, SF))
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_lsh_candidates_shuffle_ids_only(spark, monkeypatch):
    """The LSH candidate path's pair-dedup exchange must move 16-byte id
    pairs, never the ~1 KB embedding arrays (the round-3 shuffle-width
    flaw): embeddings re-join by id only AFTER the candidate set has
    collapsed to distinct pairs. The broadcast gate is forced to the
    LSH route (test_autogate's monkeypatch)."""
    emb = load_tables(spark, SF)["embeddings"]
    monkeypatch.setattr(similarity, "corpus_bytes_estimate",
                        lambda emb, *a, **kw: (1 << 60, 500, 64))
    cand = graph.graph_dedup(emb)
    plan = cand._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    import re
    hash_exchanges = [
        m.group(0)
        for m in re.finditer(r"\(\d+\) Exchange[\s\S]*?(?=\n\(\d+\)|\Z)", plan)
        if "hashpartitioning" in m.group(0)
    ]
    assert hash_exchanges, plan[:2000]  # the pair dedup must exist
    for block in hash_exchanges:
        input_line = next(ln for ln in block.splitlines() if "Input" in ln)
        assert "emb" not in input_line, block


def test_lexicon_build_has_no_global_window(spark):
    """The token rank is computed per first-char bucket + offset — the
    per-token row_number window (the round-1 scale-killer when global)
    must carry a partition spec. The ONE unpartitioned window allowed
    is the offsets prefix-sum, which consumes the bucket-count
    aggregate — a frame bounded by the alphabet, not the corpus."""
    df = textops.lexicon_build(load_tables(spark, SF))
    plan = plan_of(df)
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            # the window must carry a partition spec (the bucket column)
            assert "bucket" in line, line
        if "Window" in line and "sum(" in line:
            # the offsets window runs on the per-bucket counts only
            assert "n#" in line or "n L" in line or "sum(n" in line, line


def test_pack_sequences_lazy_distributed_prefix_sum(spark):
    """The global exclusive cumsum is a two-level windowed prefix sum:
    fully lazy (no collect → no LocalTableScan of driver rows), every
    window that touches per-doc rows carries a partition spec, and the
    single unpartitioned window consumes only the superbucket aggregate
    (n/2^22 rows)."""
    from resin_spark.operators import pipeline

    df = pipeline.pack_sequences(load_tables(spark, SF))
    plan = plan_of(df)
    assert "LocalTableScan" not in plan  # nothing was collected+reparallelized
    unpartitioned = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition" in ln
        and "windowspecdefinition(super" not in ln
        and "windowspecdefinition(bucket" not in ln
    ]
    # only the superbucket-total window may be unpartitioned
    assert all("sum(st" in ln for ln in unpartitioned), unpartitioned
    assert plan.count("Exchange SinglePartition") <= 1


def test_brute_topk_broadcasts_queries(spark):
    t = load_tables(spark, SF)
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    plan = plan_of(similarity.brute_topk(emb, q))
    # the query side is broadcast; the corpus is scanned once, never shuffled
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_asof_join_is_single_shuffle_no_join(spark):
    """The as-of join must plan as union + window — ONE hash exchange on
    user_id and zero join operators (the range-lookup never becomes a
    join at all)."""
    from resin_spark.operators import timeseries
    df = timeseries.asof_join(load_tables(spark, SF))
    plan = plan_of(df)
    assert "Join" not in plan, plan[:2000]
    # exactly one hashpartitioning exchange feeds the window (the final
    # orderBy adds a rangepartitioning, which is presentation-only)
    assert plan.count("hashpartitioning(user_id") == 1, plan[:3000]


def test_session_overlap_has_no_quadratic_join(spark):
    from resin_spark.operators import timeseries
    df = timeseries.session_overlap(load_tables(spark, SF))
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_redact_is_pure_map(spark):
    """Regex scan must not shuffle: no aggregate, no hash exchange
    (the orderBy's range exchange is presentation-only)."""
    from resin_spark.operators import pipeline
    df = pipeline.pii_redact(load_tables(spark, SF))
    plan = plan_of(df)
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "HashAggregate" not in plan


def test_dedup_components_runs_on_value_graph(spark):
    """Component propagation must key on distinct fingerprints, not doc
    pairs — the doc-level quadratic clique blowup may not reappear."""
    df = dedup.dedup_components(load_tables(spark, SF)["documents"])
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kv_paginate_single_key_exchange(spark):
    """Window rank and both groupBys must share ONE hash exchange on the
    key — the page number is a pure function of the per-key rank."""
    from resin_spark.operators import kv
    t = load_tables(spark, SF)
    col = t["lineitem"].select(
        F.col("l_orderkey").alias("key"), F.col("l_linenumber").alias("seq"))
    plan = plan_of(kv.paginate(col))
    assert plan.count("hashpartitioning(key") <= 2, plan[:3000]
    assert "CartesianProduct" not in plan


def test_moving_aggregates_single_user_exchange(spark):
    from resin_spark.operators import timeseries
    plan = plan_of(timeseries.moving_aggregates(load_tables(spark, SF)))
    assert plan.count("hashpartitioning(user_id") == 1, plan[:3000]
    assert "Join" not in plan


def test_funnel_no_explosive_join(spark):
    from resin_spark.operators import timeseries
    plan = plan_of(timeseries.funnel(load_tables(spark, SF)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gap_fill_grid_is_generated_not_scanned(spark):
    """The dense grid comes from sequence()+explode over a 2-value agg,
    not from a second scan of events."""
    from resin_spark.operators import timeseries
    plan = plan_of(timeseries.gap_fill_hourly(load_tables(spark, SF)))
    assert "Generate" in plan, plan[:2000]   # sequence() explode
    # the grid x type cross join is deliberate (and tiny); the join back
    # to the sparse rollup must be an equi-join, not a nested loop over
    # data-scale rows — count the nested-loop joins: exactly the one
    # grid-building cross is allowed
    assert plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct") <= 1, plan[:3000]


def test_perplexity_two_corpus_scans_only(spark):
    """quality_perplexity's LM checkpoint must hold the documents scan
    count at the inherent two (build + score); a third scan means the
    total/bits branches re-run the tokenise lineage."""
    from resin_spark.operators import traindata as td
    df = td.quality_perplexity(load_tables(spark, SF))
    plan = plan_of(df)
    # the final plan holds ONE documents scan (the scoring pass); the LM
    # build scan lives behind the lazy localCheckpoint and runs once at
    # materialisation — total corpus scans = 2 (build + score), and both
    # LM consumers (total, bits) read the materialised RDD
    assert plan.count("documents.parquet") == 1, plan[:3000]
    assert plan.count("Scan ExistingRDD") == 2, plan[:3000]


def test_shard_export_scans_id_only_one_wide_exchange(spark):
    """shard_export must prune the scan to doc_id and shuffle once (on
    shard) besides the presentation sort."""
    from resin_spark.operators import traindata as td
    df = td.shard_export(load_tables(spark, SF))
    plan = plan_of(df)
    assert "text" not in plan.split("ReadSchema")[1][:200]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_centroid_assign_no_corpus_shuffle_for_join(spark):
    """The scoring join must broadcast the |labels|-row centroid side;
    the corpus side reaches the join from the scan with no exchange."""
    from resin_spark.operators import traindata as td
    df = td.centroid_assign(load_tables(spark, SF)["embeddings"])
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the corpus-side scan feeds the broadcast join directly: no
    # hashpartitioning exchange between the embeddings scan and the join
    join_at = plan.find("BroadcastNestedLoopJoin")
    scan_at = plan.find("Scan parquet", join_at)
    seg = plan[join_at:scan_at]
    assert "Exchange hashpartitioning" not in seg, seg


def _assert_argmax_collapses_map_side(plan: str, key: str) -> None:
    """The scored |corpus|×|cells| frame must collapse BEFORE the
    exchange: a partial min_by aggregate sits below (after, in printed
    top-down order) the hash exchange on the vector id, and no rank
    window exists anywhere — the r4 form shuffled corpus×k rows."""
    assert "Window" not in plan, plan[:2000]
    ex_at = plan.find(f"Exchange hashpartitioning({key}")
    partial_at = plan.find("partial_min_by")
    assert ex_at != -1 and partial_at != -1, plan[:3000]
    assert partial_at > ex_at, (
        "partial_min_by must execute below the vec_id exchange:\n"
        + plan[:3000])


def test_assign_cells_argmax_is_map_side_aggregate(spark):
    """_assign_cells (shared by centroid_assign / semantic_dedup /
    kmeans_refine): the exchange after scoring carries one row per
    vector, not one per (vector, cell)."""
    from resin_spark.operators import traindata as td
    from resin_spark.operators.similarity import valid_vectors
    emb = load_tables(spark, SF)["embeddings"]
    base = valid_vectors(emb).filter(F.col("label").isNotNull())
    df = td._assign_cells(base, td.label_centroid_vectors(base))
    _assert_argmax_collapses_map_side(plan_of(df), "vec_id")


def test_centroid_assign_argmax_is_map_side_aggregate(spark):
    from resin_spark.operators import traindata as td
    df = td.centroid_assign(load_tables(spark, SF)["embeddings"])
    _assert_argmax_collapses_map_side(plan_of(df), "vec_id")


def test_embedding_quantize_no_shuffle_pure_map(spark):
    """Quantization accounting is a single narrow projection: one scan,
    no hash exchange anywhere (the only exchange is the presentation
    range sort), no Python/Arrow stage."""
    from resin_spark.operators import traindata as td
    df = td.embedding_quantize(load_tables(spark, SF)["embeddings"])
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:3000]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_incremental_dedup_candidate_exchange_is_id_only(spark):
    """The cross-side band join and its candidate distinct must move id
    pairs only — the per-doc `hashes` arrays (the verify sets) join back
    by id AFTER the candidate set collapses (the graph-dedup r3 lesson
    applied to D7)."""
    import re
    docs = load_tables(spark, SF)["documents"]
    df = dedup.incremental_dedup(docs)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    blocks = [
        m.group(0)
        for m in re.finditer(r"\(\d+\) Exchange[\s\S]*?(?=\n\(\d+\)|\Z)", plan)
        if "hashpartitioning" in m.group(0)
        and ("doc_new" in m.group(0) or "doc_idx" in m.group(0))
    ]
    assert blocks, plan[:2000]
    for block in blocks:
        assert "hashes" not in block, block


def test_ann_topk_pq_broadcasts_queries_scans_codes(spark):
    """ADC scoring broadcasts the tiny query-LUT side; no cartesian /
    sort-merge join of the corpus against queries; the code fold is a
    JVM expression (the only Arrow stages are encode + LUT build)."""
    emb = load_tables(spark, SF)["embeddings"]
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    df = similarity.ann_topk_pq(emb, q, rerank=1_000_000)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # exactly two Arrow stages: corpus encode, query LUT (+1 more for
    # the valid_vectors NaN gate would be a regression)
    assert plan.count("ArrowEvalPython") == 2, plan[:3000]


def test_bigram_perplexity_two_scoring_scans(spark):
    """The final bigram-LM plan re-reads documents only for the two
    scoring streams (bigram join + first-token join); every LM
    statistic, including c1 (= sum of c12 over the checkpointed bigram
    types), comes from materialised vocab-sized frames."""
    from resin_spark.operators import traindata as td
    df = td.quality_perplexity_bigram(load_tables(spark, SF))
    plan = plan_of(df)
    assert plan.count("documents.parquet") == 2, plan[:3000]


def test_semantic_dedup_assignment_computed_once(spark):
    """The assignment subtree (scan + broadcast-centroid score + rank-1
    window) feeds three consumers; the id-narrow checkpoint must stop
    them re-running it. Remaining scans: candidate matmul stage + the
    two unit-vector verify sides (≤ 3); no cartesian / nested-loop
    join anywhere (the quadratic lives inside the Arrow matmul batch,
    never in a join operator)."""
    import re
    emb = load_tables(spark, SF)["embeddings"]
    df = dedup.semantic_dedup(emb)
    plan = plan_of(df)
    scans = len(re.findall(r"Scan parquet|FileScan parquet", plan))
    assert scans <= 3, f"{scans} embedding scans\n{plan[:2000]}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_importance_weights_model_is_broadcast(spark):
    """Scoring joins the doc feature stream against the <=4096-row
    ratio frame by BROADCAST — the hashing-trick contract; no
    sort-merge join of the corpus-scale feature stream against the
    model, and exactly 3 documents scans (features, raw counts, target
    counts)."""
    import re
    from resin_spark.operators import traindata as td
    df = td.importance_weights(load_tables(spark, SF))
    plan = plan_of(df)
    scans = len(re.findall(r"Scan parquet|FileScan parquet", plan))
    assert scans == 3, f"{scans} scans\n{plan[:2000]}"
    # the b-keyed scoring join specifically must be broadcast — any
    # shuffle-shaped join (SMJ or ShuffledHashJoin) on b is the
    # hashing-trick contract breaking
    assert re.search(r"BroadcastHashJoin \[b#\d+", plan), plan[:2000]
    bad = [m.group(0) for m in
           re.finditer(r"(SortMergeJoin|ShuffledHashJoin) \[b#\d+", plan)]
    assert not bad, bad


def test_epoch_shuffle_no_global_sort_before_window(spark):
    """Ordering is per-(epoch, shard) — the plan must not contain a
    single-partition exchange feeding the ranking window (the final
    orderBy is presentation-only and the driver consumes it; the
    window itself partitions on (epoch, shard))."""
    import re
    from resin_spark.operators import traindata as td
    df = td.epoch_shuffle(load_tables(spark, SF))
    plan = plan_of(df)
    # a ranking window exists AND the whole plan is free of
    # single-partition exchanges — a global-sort regression would have
    # to introduce one (the presentation orderBy plans as
    # rangepartitioning, which is fine)
    assert "Window" in plan, plan[:1500]
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_r5_argmax_rewrites_have_no_rank_window(spark):
    """kv.try_put first-wins, incremental-dedup best-match, and NB
    classification argmin all collapse via min_by aggregates after the
    r5 rewrite — no Window node (rank-then-filter shuffled the full
    scored/candidate frame); partial_min_by must appear so the
    collapse starts map-side."""
    from resin_spark.operators import dedup as dd
    from resin_spark.operators import kv, traindata as td
    t = load_tables(spark, SF)
    col = t["orders"].selectExpr("o_custkey as key", "o_orderkey as seq",
                                 "o_totalprice as value")
    for df in (
        kv.try_put(col),
        dd.incremental_dedup(t["documents"]),
        td.nb_lang_classify(t),
    ):
        plan = plan_of(df)
        assert "Window" not in plan, plan[:2000]
        assert "partial_min_by" in plan, plan[:2000]


def test_bm25_topk_is_take_ordered_not_corpus_sort(spark):
    """The global top-k must compile to TakeOrderedAndProject (map-side
    k per partition); the only Window sits ABOVE it, ranking <= k rows.
    r11: scoring is row-local (per-term tf via array ops, corpus stats
    folded in as literals from the probe aggregate) — the plan must
    contain NO join and NO token explode/Generate at all; the only
    exchange feeds the <= k rank window."""
    df = textops.bm25_search(load_tables(spark, SF))
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    assert "Join" not in plan, plan[:2000]
    assert "Generate" not in plan, plan[:2000]
    assert "HashAggregate" not in plan, plan[:2000]


def test_phrase_search_tokenizes_once(spark):
    """r6 regression pin: the optimized plan must contain EXACTLY ONE
    tokenize expression — the lower projection materialises the token
    array once, and neither CollapseProject nor predicate pushdown may
    re-inline it into the match lambda or a pre-limit filter (the r5
    shape re-ran the tokenizer per (start × term) probe, 6×). Top-k
    stays TakeOrdered; non-matching docs are dropped by a generator,
    which predicate pushdown cannot move below the token projection."""
    df = textops.phrase_search(load_tables(spark, SF))
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(lower") == 1, opt[:3000]
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_stream_phrase_match_tokenizes_once(spark, tmp_path, capsys):
    """The streaming phrase matcher runs phrase_search's relation: the
    executed micro-batch plan tokenizes once, and dropping the
    non-matching docs must not push the tokenizer back inline (a Filter
    on the count would be pushed below the token projection with every
    element_at re-tokenizing)."""
    from resin_spark.streaming import quality as q

    src = tmp_path / "docs"
    spark.createDataFrame(
        [(1, "merge sort merge sort"), (2, "sort merge"), (3, None)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src))
    sq = (
        q.stream_phrase_match(spark, str(src))
        .writeStream.format("memory").queryName("phrase_plan_stream")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt")).start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    capsys.readouterr()
    sq.explain()
    plan = capsys.readouterr().out
    assert "MicroBatchWrite" in plan, plan
    assert plan.count("split(lower") == 1, plan
    got = sorted(tuple(r) for r in
                 spark.sql("SELECT * FROM phrase_plan_stream").collect())
    assert got == [(1, 2, 4)]


def test_corpus_delta_is_one_join_pruned_scans(spark):
    """The snapshot diff must stay two pruned (doc_id, text) scans into
    ONE equi-join — no nested-loop/cartesian shape, no extra columns
    read (24 bytes/row moves through the exchange, not documents)."""
    from resin_spark.operators import pipeline as pl
    t = load_tables(spark, SF)
    df = pl.corpus_delta_demo(t)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(
        set(s.split(",")) <= {"doc_id:bigint", "text:string"}
        for s in [x.replace(" ", "") for x in schemas]), schemas


def test_encoding_anomalies_single_scan_no_joins(spark):
    """The damage card is one codegen scan + the per-source aggregate —
    no explode, no join, no Python stage."""
    from resin_spark.operators import health

    p = plan_of(health.encoding_anomalies_demo(load_tables(spark, SF)))
    assert p.count("Scan parquet") == 1
    assert "Join" not in p
    assert "Generate" not in p          # no explode
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_table_profile_single_scan_with_expand(spark):
    """All column metrics fold into ONE scan: the multi-countDistinct
    plans an Expand, not one aggregate job per column."""
    from resin_spark.operators import health

    p = plan_of(health.table_profile_demo(load_tables(spark, SF)))
    assert p.count("Scan parquet") == 1
    assert "Expand" in p
    assert "Join" not in p


def test_source_overlap_no_cartesian_on_shingles(spark):
    """The shingle self-join is an equi-join; the only nested-loop is
    the |sources|²-bounded broadcast cross of the tiny size table."""
    from resin_spark.operators import health

    p = plan_of(health.source_overlap_demo(load_tables(spark, SF)))
    assert "CartesianProduct" not in p
    # the shingle-key join must be hash- or sort-merge (an equi-join),
    # never nested-loop: every BNLJ in this plan must have a broadcast
    # child (the size-table cross), which a shingle-relation join of two
    # corpus-scale sides would not
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p \
        or p.count("BroadcastHashJoin") >= 1


def test_mixture_plan_one_broadcast_total(spark):
    """The plan relation joins the single-row exact total via broadcast
    — the corpus never shuffles against itself."""
    from resin_spark.operators import pipeline

    p = plan_of(pipeline.mixture_plan_demo(load_tables(spark, SF)))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_dataset_split_single_scan_no_join(spark):
    """The split card is ONE documents scan folded map-side onto
    |sources|x3 groups — the label is an expression of doc_id, so no
    assignment table may appear as a join."""
    from resin_spark.operators import pipeline

    plan = plan_of(pipeline.dataset_split(load_tables(spark, SF)["documents"]))
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Scan parquet") == 1, plan[:2000]


def test_split_leakage_labels_without_extra_joins(spark):
    """Leakage labelling must be MAP-SIDE: the plan may contain exactly
    the joins of the underlying D2 pair relation (prefix-candidate +
    two verification-set joins), never an extra split-assignment join,
    and no nested-loop anywhere."""
    from resin_spark.operators import pipeline

    docs = load_tables(spark, SF)["documents"]
    base = plan_of(dedup.ngram_jaccard_pairs(docs))
    leak = plan_of(pipeline.split_leakage(docs))
    assert "BroadcastNestedLoopJoin" not in leak
    assert leak.count("Join") == base.count("Join"), (
        leak.count("Join"), base.count("Join"))


def test_semantic_split_leakage_labels_without_extra_joins(spark):
    """Same contract as the D15 pin: labelling must be MAP-SIDE — the
    plan may contain exactly the joins of the underlying D5 pair
    relation, never an extra split-assignment join."""
    from resin_spark.operators import pipeline

    emb = load_tables(spark, SF)["embeddings"]
    base = plan_of(dedup.embedding_dedup_pairs(emb))
    leak = plan_of(pipeline.semantic_split_leakage(emb))
    assert "BroadcastNestedLoopJoin" not in leak
    assert leak.count("Join") == base.count("Join"), (
        leak.count("Join"), base.count("Join"))


def test_cluster_split_one_routing_join_no_nested_loop(spark):
    """The cluster-split card adds exactly ONE join over the component
    relation (doc -> source routing); both split labels are expressions
    of (component, doc_id) — no assignment table, no nested loop. The
    propagation loop's joins sit behind per-round checkpoints and never
    appear in the card's plan."""
    from resin_spark.operators import pipeline

    docs = load_tables(spark, SF)["documents"]
    base = plan_of(pipeline.cluster_components(docs))
    full = plan_of(pipeline.cluster_split(docs))
    assert "BroadcastNestedLoopJoin" not in full
    assert "CartesianProduct" not in full
    assert full.count("Join") == base.count("Join") + 1, (
        full.count("Join"), base.count("Join"))


def test_q4_q22_match_oracle(spark):
    from tests.oracle_util import compare

    t = load_tables(spark, SF)
    compare(tpch.q4_order_priority(t), tpch.q4_oracle(), SF)
    compare(tpch.q22_idle_customers(t), tpch.q22_oracle(), SF)


def test_simhash_is_row_local_projection(spark):
    """simhash must stay a pure per-row projection (r11): the fingerprint
    is a function of the row's own token array, so its plan carries no
    explode (Generate) and no aggregation exchange — the io round-robin
    spread of the single parquet file is the only Exchange allowed."""
    docs = load_tables(spark, SF)["documents"]
    plan = plan_of(dedup.simhash(docs))
    assert "Generate" not in plan, plan[:2000]
    assert "HashAggregate" not in plan, plan[:2000]
    assert "hashpartitioning" not in plan, plan[:2000]


def test_shingle_sets_is_row_local_projection(spark):
    """The per-doc distinct shingle-hash set must stay a pure per-row
    projection (r11): no explode (Generate), no collect_list aggregate,
    no aggregation exchange — and the <n-token drop must be a filter on
    the INPUT token array, never on the computed hash array (a computed
    -array filter re-evaluates the gram+hash expression and falls out
    of codegen; measured 0.3 s -> 11 s at sf0.1)."""
    docs = load_tables(spark, SF)["documents"]
    plan = plan_of(dedup.shingle_hash_sets(docs))
    assert "Generate" not in plan, plan[:2000]
    assert "ObjectHashAggregate" not in plan, plan[:2000]
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "size(transform" not in plan, plan[:2000]


def test_prepare_documents_passes_prepared_frame_through(spark):
    """A frame that already carries ``tk`` is returned as is — the cards'
    cached frame reaches every operator unchanged."""
    from resin_spark.functions.text import prepare_documents
    p = prepare_documents(load_tables(spark, SF)["documents"])
    assert prepare_documents(p) is p
    card = p.drop("text")
    assert prepare_documents(card) is card


def _documents_read_schemas(plan: str) -> list[str]:
    return [line.split("ReadSchema: ")[1] for line in plan.splitlines()
            if "documents.parquet" in line and "ReadSchema: " in line]


@pytest.mark.parametrize("build", [
    lambda t: dedup.shingle_hash_sets(t["documents"]),
    lambda t: textops.bm25_scores(t),
], ids=["shingle_hash_sets", "bm25_scores"])
def test_prepared_projection_prunes_unused_columns(spark, build):
    """Standalone operators start from prepare_documents' lazy
    projection; the columns they do not read (h = md5(text), has_text,
    lang, source, n_chars) must be pruned before the scan."""
    plan = plan_of(build(load_tables(spark, SF)))
    assert "md5(" not in plan, plan[:2000]
    schemas = _documents_read_schemas(plan)
    assert schemas == ["struct<doc_id:bigint,text:string>"], plan[:2000]


def test_corpus_stats_keeps_lens_checkpoint(spark):
    """corpus_stats checkpoints its per-doc length frame, so the final
    plan scans documents twice (tokens, langs); re-deriving the lengths
    from the corpus would add scans."""
    from resin_spark.operators import traindata as td
    plan = plan_of(td.corpus_stats(load_tables(spark, SF)))
    assert plan.count("documents.parquet") <= 2, plan[:3000]
