"""Size-gate tests: past the broadcast ceiling, the E-block candidate
stage must auto-route to the LSH-bucketed self-join with NO driver
collect and NO corpus-sized broadcast hints — the caller never passes a
flag. The gate is forced by monkeypatching corpus_bytes_estimate, so
the very same public calls exercise both physical plans.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from resin_spark.io import load_tables
from resin_spark.operators import dedup, graph, similarity

SF = "/root/testdata/sf0.001"

# (est_bytes, n_rows, dims): bytes forced past any ceiling so the gate
# flips, n_rows left truthful so adaptive_planes sizes for the real corpus
HUGE = (1 << 60, 500, 64)


def _force_bucketed(monkeypatch):
    monkeypatch.setattr(similarity, "corpus_bytes_estimate",
                        lambda emb, *a, **kw: HUGE)


def test_auto_fits_under_ceiling(spark):
    emb = load_tables(spark, SF)["embeddings"]
    _cand, fits = similarity.cosine_topk_candidates_auto(emb, k=5)
    assert fits is True
    _cand, fits = similarity.cosine_threshold_candidates_auto(emb, tau=0.9)
    assert fits is True


def test_auto_routes_to_lsh_past_ceiling(spark, monkeypatch):
    emb = load_tables(spark, SF)["embeddings"]
    _force_bucketed(monkeypatch)
    cand, fits = similarity.cosine_topk_candidates_auto(emb, k=5)
    assert fits is False
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # bucketed plan: a real join on (tbl, bucket), no Python map stage
    # holding a collected corpus
    assert "posexplode" in plan or "Generate" in plan


@pytest.mark.full_suite
def test_knn_classify_bucketed_path_no_collect(spark, monkeypatch):
    emb = load_tables(spark, SF)["embeddings"]
    exact = [tuple(r) for r in similarity.knn_classify(emb, k=5).collect()]

    _force_bucketed(monkeypatch)
    called = {"toPandas": False}
    orig = type(emb).toPandas

    def spy(self):
        called["toPandas"] = True
        return orig(self)

    monkeypatch.setattr(type(emb), "toPandas", spy)
    approx = [tuple(r) for r in similarity.knn_classify(emb, k=5).collect()]
    assert called["toPandas"] is False, "bucketed path must not collect the corpus"

    # ANN-kNN agreement vs the exact path at the default LSH params —
    # the labeled test corpus is well-clustered, so multi-probe buckets
    # recover the vote winner almost everywhere
    agree = sum(1 for a, b in zip(approx, exact) if a == b)
    assert len(approx) == len(exact)
    assert agree / len(exact) >= 0.9


def test_graph_dedup_auto_gate_matches_exact(spark, monkeypatch):
    emb = load_tables(spark, SF)["embeddings"]
    exact = [tuple(r) for r in graph.graph_dedup(emb).collect()]
    _force_bucketed(monkeypatch)
    auto = [tuple(r) for r in graph.graph_dedup(emb).collect()]
    # near-identical vectors agree on ~every hyperplane sign: identical output
    assert auto == exact


def test_embedding_dedup_bucketed_recall(spark, monkeypatch):
    emb = load_tables(spark, SF)["embeddings"]
    exact = {tuple(r) for r in dedup.embedding_dedup_pairs(emb, tau=0.4).collect()}
    _force_bucketed(monkeypatch)
    approx = {tuple(r) for r in dedup.embedding_dedup_pairs(emb, tau=0.4).collect()}
    # bucketed pairs are a subset (verification is exact either way) ...
    assert approx <= exact
    # ... with the multi-probe recall the docstring promises at tau=0.4
    assert len(approx) / max(len(exact), 1) >= 0.9
