"""graph_dedup behaviour tests mirroring the reference's GraphTests.cs
build semantics: inserting in id order, a vector merges into an earlier
one when cos ≥ IdenticalAngle (0.99), otherwise it is added
(GraphExtensions.cs:15 AddOrMerge; GraphOptions.cs:5)."""

from __future__ import annotations

import math

import pytest

from resin_spark.operators import graph


def _mk_emb(spark, vecs):
    rows = [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def test_identical_vectors_merge_keep_first(spark):
    emb = _mk_emb(spark, [[1, 0, 0, 0], [1, 0, 0, 0], [0, 1, 0, 0]])
    kept = [r["vec_id"] for r in graph.graph_dedup(emb).collect()]
    # vec 1 is an exact duplicate of vec 0 → dropped; orthogonal vec 2 kept
    assert kept == [0, 2]


def test_near_identical_merges_above_threshold(spark):
    eps = 0.01  # cos ≈ 0.99995 → merges
    far = 1.0   # cos ≈ 0.7071 → kept
    emb = _mk_emb(spark, [
        [1, 0, 0, 0],
        [1, eps, 0, 0],
        [1, far, 0, 0],
    ])
    kept = [r["vec_id"] for r in graph.graph_dedup(emb).collect()]
    assert kept == [0, 2]


def test_chain_dedup_uses_earlier_survivors_and_victims(spark):
    """j is dropped when ANY i<j is within the angle — including i that
    were themselves dropped (the reference merges j into the index node
    it collided with, so collision with a merged node still merges)."""
    a = [1.0, 0.0, 0.0, 0.0]
    b = [1.0, 0.008, 0.0, 0.0]   # ≈ a → dropped via a
    c = [1.0, 0.016, 0.0, 0.0]   # ≈ b (and ≈ a) → dropped
    d = [0.0, 0.0, 1.0, 0.0]     # orthogonal → kept
    emb = _mk_emb(spark, [a, b, c, d])
    kept = [r["vec_id"] for r in graph.graph_dedup(emb).collect()]
    assert kept == [0, 3]


def test_threshold_boundary_is_inclusive(spark):
    # construct cos(v0, v1) exactly at the threshold: v1 at angle
    # acos(0.99) from v0 → cos == 0.99 up to float rounding; nudge inside
    theta = math.acos(0.99) * 0.999
    emb = _mk_emb(spark, [
        [1, 0, 0, 0],
        [math.cos(theta), math.sin(theta), 0, 0],
    ])
    kept = [r["vec_id"] for r in graph.graph_dedup(emb).collect()]
    assert kept == [0]


def _force_past_ceiling(monkeypatch):
    """Force the broadcast gate to the LSH route: the estimate reports
    a corpus past any ceiling, with its true row count and width."""
    from resin_spark.operators import similarity
    real = similarity.corpus_bytes_estimate

    def huge(emb, *a, **kw):
        _est, n, dims = real(emb, *a, **kw)
        return 1 << 60, n, dims

    monkeypatch.setattr(similarity, "corpus_bytes_estimate", huge)


def test_lsh_path_agrees_with_exact_on_clustered_data(spark, monkeypatch):
    vecs = []
    for base in ([1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0]):
        for k in range(4):
            vecs.append([x + (0.001 * k if x else 0.0) for x in base])
    emb = _mk_emb(spark, vecs)
    exact = [r["vec_id"] for r in graph.graph_dedup(emb).collect()]
    _force_past_ceiling(monkeypatch)
    lsh = [r["vec_id"] for r in graph.graph_dedup(emb).collect()]
    assert exact == lsh == [0, 4, 8]


def test_lsh_path_hashes_at_the_measured_width(spark, monkeypatch):
    """Past the ceiling the hyperplanes take the corpus's own width: a
    12-wide corpus must not be hashed with 64-wide planes (that matmul
    raises a shape ValueError)."""
    vecs = []
    for d in range(0, 12, 3):
        base = [1.0 if i == d else 0.0 for i in range(12)]
        vecs += [base, [x + (0.002 if i == d + 1 else 0.0)
                        for i, x in enumerate(base)]]
    emb = _mk_emb(spark, vecs)
    _force_past_ceiling(monkeypatch)
    kept = [r["vec_id"] for r in graph.graph_dedup(emb).collect()]
    assert kept == [0, 2, 4, 6]


def test_minhash_lsh_subset_of_exact_with_full_recall(spark):
    """dedup_minhash_lsh is rows-only in the driver gate, so pin its real
    contract here: every emitted pair is exact-verified (subset of the
    exact jaccard pairs at the same tau) and, on this corpus where all
    true pairs sit far above the banding S-curve knee, recall is 1.0."""
    from resin_spark.io import load_tables
    from resin_spark.operators import dedup
    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    exact = {(r["doc_a"], r["doc_b"])
             for r in dedup.ngram_jaccard_pairs(docs).collect()}
    mh = {(r["doc_a"], r["doc_b"])
          for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert mh <= exact          # exact verification: no false positives
    assert mh == exact          # S-curve: full recall on this corpus


def test_ppjoin_positional_filter_keeps_boundary_pair(spark):
    """r11 regression pin for the PPJoin positional filter: a pair whose
    Jaccard is EXACTLY tau and whose first common shingle sits exactly
    at the positional bound (min remaining == required overlap) must
    survive candidate pruning. With n=1 shingle sets are plain token
    sets: A={a..f}, B={a,b,c,d,g,h} → overlap 4, union 8, J=0.5=tau.
    Rarity-first canonical order puts each doc's df=1 tokens (e,f / g,h)
    ahead of the shared df=2 tokens, so the FIRST common token sits at
    0-based rank 2 in both docs and the positional bound is tight:
    min(6−2, 6−2) = 4 = tau/(1+tau)·(6+6). An off-by-one in either the
    prefix slice or the positional predicate drops this pair."""
    from resin_spark.operators import dedup
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d g h")],
        "doc_id long, text string")
    rows = dedup.ngram_jaccard_pairs(docs, n=1, tau=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows] == \
        [(1, 2, 0.5)]


# --- semantic_dedup (SemDeDup cluster-partitioned pruning) -------------------

def _mk_labeled(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, (v, lab) in enumerate(rows)],
        "vec_id long, embedding array<float>, label int")


def test_semantic_dedup_drops_later_in_cell_dup(spark):
    from resin_spark.operators.dedup import semantic_dedup
    emb = _mk_labeled(spark, [
        ([1, 0, 0, 0], 0), ([1, 0, 0, 0], 0),   # same cell, exact dup
        ([0, 1, 0, 0], 1), ([0, 0, 1, 0], 1),   # same cell, orthogonal
    ])
    out = {r["vec_id"]: r for r in semantic_dedup(emb, tau=0.9).collect()}
    assert out[0]["keep"] and not out[1]["keep"]
    assert out[1]["n_dups_earlier"] == 1
    assert out[2]["keep"] and out[3]["keep"]


def test_semantic_dedup_cross_cell_pairs_out_of_contract(spark):
    """The SemDeDup recall trade: identical vectors assigned to
    different cells are NOT compared, so both survive. Centroids are
    far apart; each dup sits exactly on its own label centroid."""
    from resin_spark.operators.dedup import semantic_dedup
    # anchors at 0° and 90°; the near-dup pair sits at 35° and 55° —
    # cos(35°,55°) = cos 20° ≈ 0.94 ≥ tau, but each lands in its own
    # cell (17.5° vs 37.5° to the two centroids) and is NOT a dup of
    # its cell anchor (cos 35° ≈ 0.82 < tau)
    emb = _mk_labeled(spark, [
        ([1, 0, 0, 0], 0), ([0, 1, 0, 0], 1),
        ([0.819, 0.574, 0, 0], 0), ([0.574, 0.819, 0, 0], 1),
    ])
    out = semantic_dedup(emb, tau=0.9)
    cells = {r["vec_id"]: r["cell"] for r in out.collect()}
    keeps = {r["vec_id"]: r["keep"] for r in out.collect()}
    assert cells[2] != cells[3]
    assert all(keeps.values())  # the ≥-tau cross-cell pair survives


def test_semantic_dedup_matches_global_pairs_when_one_cell(spark):
    """With a single cluster, semantic_dedup's verdicts equal the
    global embedding_dedup_pairs relation (no recall trade left)."""
    from resin_spark.operators.dedup import (
        embedding_dedup_pairs, semantic_dedup)
    emb = _mk_labeled(spark, [
        ([1, 0.2, 0, 0], 0), ([1, 0.21, 0, 0], 0),
        ([0.9, 0.3, 0.1, 0], 0), ([0, 0, 1, 0.4], 0),
    ])
    tau = 0.95
    pairs = {(r["vec_a"], r["vec_b"])
             for r in embedding_dedup_pairs(emb, tau=tau).collect()}
    dropped = {r["vec_id"] for r in semantic_dedup(emb, tau=tau).collect()
               if not r["keep"]}
    assert dropped == {b for _, b in pairs}


def test_semantic_dedup_indexed_matches_direct_with_zero_exchange(spark):
    """The persisted cell-index path (write_cell_index +
    semantic_dedup_indexed) must produce the direct operator's verdicts
    exactly, and its within-cell pair join must plan with ZERO Exchange
    on the vector sides — the bucketed-table payoff the direct
    operator's docstring promises for 100 TB."""
    from resin_spark.io import load_tables
    from resin_spark.operators.dedup import (
        semantic_dedup, semantic_dedup_indexed, write_cell_index)

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_cell_index(emb, "cell_idx_t", n_buckets=8)
        out = semantic_dedup_indexed(spark, "cell_idx_t")
        direct = sorted(map(tuple, semantic_dedup(emb).collect()))
        indexed = sorted(map(tuple, out.collect()))
        assert direct == indexed and direct
        # bucketed reads co-locate the cell key, so the pair join must
        # plan with NO exchange on cell at all — if bucketing broke,
        # Spark would insert 'Exchange hashpartitioning(cell...' under
        # the SortMergeJoin and shuffle the full vectors
        plan = out._jdf.queryExecution().executedPlan().toString()
        import re
        assert not re.search(r"Exchange hashpartitioning\(cell", plan), \
            plan[:2000]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, \
            plan[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.sql("DROP TABLE IF EXISTS cell_idx_t")


@pytest.mark.full_suite
def test_semantic_dedup_indexed_entry_rebuilds_per_sf(spark):
    """The entry's one cell table is shared by every sf_dir: coming back
    to an sf after another one wrote the table must rebuild it, not
    read the other corpus's cells."""
    import __spark_entry__ as m
    from tests.conftest import SF_MED, SF_SMALL

    entry = m.queries()["semantic_dedup_indexed"]

    def rows(sf):
        return sorted(map(tuple, entry(spark, sf).collect()))

    first = rows(SF_SMALL)
    assert rows(SF_MED) != first  # the pin needs corpora that differ
    assert rows(SF_SMALL) == first


def test_dedup_components_gated_path_equals_loop(spark):
    """The statistics-gated driver union-find (edge list under the cap)
    must produce exactly the distributed min-label loop's components —
    the small-graph shortcut may never change results, only the
    physical route."""
    from resin_spark.io import load_tables
    from resin_spark.operators.dedup import dedup_components

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    gated = sorted(map(tuple, dedup_components(docs).collect()))
    # cap = -1 forces the distributed loop even on a zero-edge graph
    # (0 <= 0 would silently take the gated branch and compare the
    # gated path to itself)
    loop = sorted(map(tuple,
                      dedup_components(docs, edge_collect_cap=-1).collect()))
    assert gated == loop
    # the pin is only meaningful if some component actually merged
    assert any(doc != comp for doc, comp, _ in gated), \
        "corpus has no multi-doc component — pin is vacuous"


@pytest.mark.full_suite
def test_append_dedup_index_equals_rebuild(spark, tmp_path):
    """r6: appending a batch to a stored dedup index must equal a full
    rebuild over old∪new — relations row-for-row, the indexed
    incremental probe verdict-identical, validator green — and a
    doc_id overlap must refuse loudly."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from resin_spark.io import load_tables
    from resin_spark.operators import dedup, validate

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    third = docs.filter(F.col("doc_id") % 3 == 0)
    rest = docs.filter(F.col("doc_id") % 3 != 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)

    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    dedup.write_dedup_index(third, inc)
    dedup.append_dedup_index(rest, inc)
    dedup.write_dedup_index(docs, full)

    hi, bi = dedup.read_dedup_index(spark, inc)
    hf, bf = dedup.read_dedup_index(spark, full)
    assert sorted((r["doc_id"], tuple(r["hashes"])) for r in hi.collect()) \
        == sorted((r["doc_id"], tuple(r["hashes"])) for r in hf.collect())
    assert sorted(map(tuple, bi.select("doc_id", "band", "band_hash")
                      .collect())) \
        == sorted(map(tuple, bf.select("doc_id", "band", "band_hash")
                      .collect()))

    vi = [tuple(r) for r in dedup.incremental_dedup_indexed(
        probe.withColumn("doc_id", F.col("doc_id") + 1_000_000),
        hi, bi).collect()]
    vf = [tuple(r) for r in dedup.incremental_dedup_indexed(
        probe.withColumn("doc_id", F.col("doc_id") + 1_000_000),
        hf, bf).collect()]
    assert vi == vf and len(vi) > 0

    res = {r["check"]: r["ok"]
           for r in validate.validate_dedup_index(spark, inc).collect()}
    assert all(res.values()), res

    with _pytest.raises(ValueError, match="already indexed"):
        dedup.append_dedup_index(third.limit(3), inc)


def test_dup_cluster_histogram_counts(spark):
    """Three identical docs + two identical + one unique → clusters of
    3, 2, 1 with exact shares."""
    from resin_spark.operators import dedup

    rows = [(1, "alpha beta gamma delta common tail words here"),
            (2, "alpha beta gamma delta common tail words here"),
            (3, "alpha beta gamma delta common tail words here"),
            (4, "totally different content in this pair of docs yes"),
            (5, "totally different content in this pair of docs yes"),
            (6, "a singleton unlike anything else in the corpus")]
    df = spark.createDataFrame(
        [(i, t, "en", "s") for i, t in rows],
        "doc_id long, text string, lang string, source string")
    got = {r["cluster_size"]: r
           for r in dedup.dup_cluster_histogram(df).collect()}
    assert got[3]["n_clusters"] == 1 and got[2]["n_clusters"] == 1
    assert got[1]["n_clusters"] == 1
    assert got[3]["n_docs"] == 3
    assert abs(got[3]["doc_share"] - 0.5) < 1e-12


def test_dup_cluster_histogram_matches_oracle(spark):
    from tests.oracle_util import compare
    from resin_spark.io import load_tables
    from resin_spark.operators import dedup

    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(dedup.dup_cluster_histogram(t["documents"]),
            dedup.dup_cluster_histogram_oracle(), "/root/testdata/sf0.001")


def test_threshold_curve_steps_with_pair_similarity(spark):
    """Pairs engineered at jaccard 1.0, ~0.6 and ~0.33: the curve's
    counts must step down as the threshold crosses each pair."""
    from resin_spark.operators import dedup

    rows = [
        # exact duplicate pair: jaccard 1.0
        (1, "one two three four five six seven eight"),
        (2, "one two three four five six seven eight"),
        # 6 shared shingles of 9-ish: jaccard ~0.6
        (3, "red green blue cyan magenta yellow black white gray"),
        (4, "red green blue cyan magenta yellow black brown pink"),
        # shared 2 of 6 distinct shingles: jaccard 1/3
        (5, "alpha beta gamma delta epsilon zeta"),
        (6, "alpha beta gamma delta words entirely"),
        # singleton
        (7, "nothing matches this lonely document at all"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s") for i, t in rows],
        "doc_id long, text string, lang string, source string")
    curve = {r["threshold"]: r for r in dedup.dedup_threshold_curve(
        df, thresholds=(0.2, 0.5, 0.9)).collect()}
    assert curve[0.2]["n_pairs"] == 3 and curve[0.2]["n_docs_in_pairs"] == 6
    assert curve[0.5]["n_pairs"] == 2 and curve[0.5]["n_docs_in_pairs"] == 4
    assert curve[0.9]["n_pairs"] == 1 and curve[0.9]["n_docs_in_pairs"] == 2
    assert curve[0.9]["dup_doc_share"] == 2 / 7
    # grid rows with zero hits must still appear
    empty = {r["threshold"]: r for r in dedup.dedup_threshold_curve(
        df, thresholds=(0.99,)).collect()}
    assert empty[0.99]["n_pairs"] == 1  # the exact pair survives 0.99
    solo = dedup.dedup_threshold_curve(
        df.limit(1), thresholds=(0.5,)).collect()[0]
    assert solo["n_pairs"] == 0 and solo["dup_doc_share"] == 0.0


def test_threshold_curve_demo_matches_oracle(spark):
    from tests.oracle_util import compare
    from resin_spark.io import load_tables
    from resin_spark.operators import dedup

    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(dedup.dedup_threshold_curve_demo(t),
            dedup.dedup_threshold_curve_oracle(), "/root/testdata/sf0.001")


def test_threshold_curve_grid_join_is_broadcast(spark):
    """The only nested-loop join allowed is pairs × the |grid|-row
    broadcast threshold dim; the corpus-sized relations must never
    cross-join each other."""
    from resin_spark.io import load_tables
    from resin_spark.operators import dedup

    t = load_tables(spark, "/root/testdata/sf0.001")
    plan = dedup.dedup_threshold_curve_demo(t) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("CartesianProduct") == 0, plan[:3000]
    # the hits subtree feeds two aggregate branches, so the grid BNLJ
    # compiles once per branch — never more
    assert 1 <= plan.count("BroadcastNestedLoopJoin") <= 2, plan[:3000]


@pytest.mark.full_suite
def test_banding_report_scurve_monotonicity(spark):
    """More rows per band = stricter collisions: candidate count must be
    non-increasing as rows_per_band grows, recall 1.0 at r=1 on a
    corpus whose duplicate pairs are exact."""
    from resin_spark.io import load_tables
    from resin_spark.operators import dedup

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    rep = dedup.minhash_banding_report(
        docs, tau=0.5, num_perm=32, bands_grid=(32, 8, 4)).collect()
    by_r = {r["rows_per_band"]: r for r in rep}
    assert set(by_r) == {1, 4, 8}
    # r=1: every single minhash slot match collides → full recall
    assert by_r[1]["recall"] == 1.0
    cands = [by_r[r]["n_candidates"] for r in (1, 4, 8)]
    assert cands[0] >= cands[1] >= cands[2]
    for r in rep:
        assert r["n_found"] <= min(r["n_candidates"], r["n_exact_pairs"])
        assert r["candidate_precision"] is None or \
            0.0 <= r["candidate_precision"] <= 1.0
        assert r["recall"] is None or 0.0 <= r["recall"] <= 1.0
    # driver operating point (128/32, r=4): full recall at tau 0.5 —
    # the assumption D3's oracle contract rests on, measured here
    d3 = dedup.minhash_banding_report(
        docs, tau=0.5, num_perm=128, bands_grid=(32,)).collect()[0]
    assert d3["recall"] == 1.0


def test_banding_report_rejects_non_divisor(spark):
    import pytest as _pytest
    from resin_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d", "en", "s")],
        "doc_id long, text string, lang string, source string")
    with _pytest.raises(ValueError, match="does not divide"):
        dedup.minhash_banding_report(docs, num_perm=32, bands_grid=(5,))
