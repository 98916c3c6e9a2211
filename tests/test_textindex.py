"""Persisted inverted text index (operators/textindex.py): indexed
BM25 must be row-identical to the direct operator, the postings scan
must partition-prune to the query terms' buckets, and the validator
must round-trip green / fail loud on corruption."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from resin_spark.io import load_tables
from resin_spark.operators import textindex as ti
from resin_spark.operators import textops as tx
from resin_spark.operators import validate

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tidx") / "text")
    ti.write_text_index(load_tables(spark, SF)["documents"], path)
    return path


def test_indexed_bm25_equals_direct(spark, index_dir):
    t = load_tables(spark, SF)
    direct = [tuple(r) for r in tx.bm25_search(t).collect()]
    indexed = [tuple(r) for r in ti.bm25_topk_indexed(spark, index_dir).collect()]
    assert indexed == direct
    assert len(indexed) > 0


def test_indexed_bm25_prunes_to_query_buckets(spark, index_dir):
    """The postings scan must carry a bucket partition filter — only
    the query terms' directories are read (the seek-equivalent I/O)."""
    df = ti.bm25_topk_indexed(spark, index_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan \
        or "bucket#" in plan.split("PartitionFilters")[1][:120], plan[:3000]
    n_buckets_read = plan.count("bucket=") or None
    # stronger: the scan's partition count is bounded by |query| buckets
    scan_line = next(ln for ln in plan.splitlines()
                     if "Scan parquet" in ln and "postings" in ln)
    assert scan_line  # postings scan exists


def test_probe_frames_run_no_job_beyond_reading_the_store(spark, index_dir):
    """Building either probe's frame runs only the jobs of reading the
    store: the query terms' bucket list is a literal expression that
    Catalyst folds into the partition filter, not a collect job."""
    sc = spark.sparkContext

    def jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    ti.read_text_index(spark, index_dir)  # warm the file-status cache
    read = jobs("ti-read", lambda: ti.read_text_index(spark, index_dir))
    assert jobs("ti-bm25", lambda: ti.bm25_topk_indexed(spark, index_dir)) \
        == read
    assert jobs("ti-phrase",
                lambda: ti.phrase_topk_indexed(spark, index_dir)) == read


def test_text_index_validator_roundtrip_and_corruption(spark, tmp_path):
    docs = load_tables(spark, SF)["documents"].limit(120)
    path = str(tmp_path / "text_idx")
    ti.write_text_index(docs, path)
    res = {r["check"]: (r["n"], r["ok"])
           for r in validate.validate_text_index(spark, path,
                                                 docs=docs).collect()}
    assert all(ok for _, ok in res.values()), res

    # corrupt: drop one bucket directory → postings vanish, stats and
    # the corpus re-derive disagree
    import glob
    victim = sorted(glob.glob(f"{path}/postings/bucket=*"))[0]
    shutil.rmtree(victim)
    res = {r["check"]: (r["n"], r["ok"])
           for r in validate.validate_text_index(spark, path,
                                                 docs=docs).collect()}
    assert res["corpus_postings_missing"][0] > 0
    assert not res["corpus_postings_missing"][1]

    # corrupt: truncate doclens → orphan postings + stats mismatch
    ti.write_text_index(docs, path)
    dl = spark.read.parquet(f"{path}/doclens")
    half = dl.limit(dl.count() // 2)
    half.write.mode("overwrite").parquet(f"{path}/doclens2")
    shutil.rmtree(f"{path}/doclens")
    shutil.move(f"{path}/doclens2", f"{path}/doclens")
    res = {r["check"]: (r["n"], r["ok"])
           for r in validate.validate_text_index(spark, path).collect()}
    assert res["orphan_postings"][0] > 0
    assert not res["stats_row_consistent"][1]


def test_validate_index_dispatches_text(spark, tmp_path, index_dir):
    df = validate.validate_index(spark, index_dir, "text")
    assert df.columns == ["artifact", "check", "n", "ok"]
    assert all(r["ok"] for r in df.collect())


def test_indexed_phrase_equals_direct(spark, index_dir):
    t = load_tables(spark, SF)
    direct = [tuple(r) for r in tx.phrase_search(t).collect()]
    indexed = [tuple(r)
               for r in ti.phrase_topk_indexed(spark, index_dir).collect()]
    assert indexed == direct and len(indexed) > 0
    # repeated-term phrase: position-set self-intersection
    docs = spark.createDataFrame(
        [(1, "go go go stop go go"), (2, "go stop go stop")],
        "doc_id long, text string")
    import tempfile
    p2 = tempfile.mkdtemp() + "/t2"
    ti.write_text_index(docs, p2)
    got = {r["doc_id"]: r["n_occurrences"]
           for r in ti.phrase_topk_indexed(
               spark, p2, phrase=("go", "go")).collect()}
    assert got == {1: 3}  # "go go go" has 2 + "go go" has 1
    direct2 = {r["doc_id"]: r["n_occurrences"]
               for r in tx.phrase_search(
                   {"documents": docs}, phrase=("go", "go")).collect()}
    assert got == direct2


def test_indexed_phrase_prunes_and_positions_validate(spark, index_dir):
    df = ti.phrase_topk_indexed(spark, index_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan, plan[:3000]
    # positional invariants are validated (and corruption is loud)
    res = {r["check"]: r["ok"]
           for r in validate.validate_text_index(spark, index_dir).collect()}
    assert res["bad_position_lists"] and res["positions_out_of_range"]


def test_text_index_validator_detects_corrupt_positions(spark, tmp_path):
    docs = load_tables(spark, SF)["documents"].limit(60)
    path = str(tmp_path / "tpidx")
    ti.write_text_index(docs, path)
    post = spark.read.parquet(f"{path}/postings")
    bad = post.withColumn(
        "positions", F.transform("positions", lambda x: x + 10_000))
    bad.write.mode("overwrite").parquet(f"{path}/postings2")
    shutil.rmtree(f"{path}/postings")
    shutil.move(f"{path}/postings2", f"{path}/postings")
    res = {r["check"]: (r["n"], r["ok"])
           for r in validate.validate_text_index(spark, path).collect()}
    assert res["positions_out_of_range"][0] > 0
    assert not res["positions_out_of_range"][1]


def test_nondefault_bucket_count_is_self_describing(spark, tmp_path):
    """r6 (ADVICE): the store records n_buckets in its stats row, so
    probes and the validator recover the bucket function without the
    caller re-supplying the write-time value — an index written with
    any non-default count must query identically and validate clean."""
    docs = load_tables(spark, SF)["documents"].limit(80)
    path = str(tmp_path / "nb7")
    ti.write_text_index(docs, path, n_buckets=7)
    _, _, stats = ti.read_text_index(spark, path)
    assert stats["n_buckets"] == 7
    direct = [tuple(r)
              for r in tx.bm25_search({"documents": docs}).collect()]
    indexed = [tuple(r)
               for r in ti.bm25_topk_indexed(spark, path).collect()]
    assert indexed == direct
    res = {r["check"]: r["ok"]
           for r in validate.validate_text_index(spark, path).collect()}
    assert res["postings_in_wrong_bucket"], res
    ph_direct = [tuple(r)
                 for r in tx.phrase_search({"documents": docs}).collect()]
    ph_indexed = [tuple(r)
                  for r in ti.phrase_topk_indexed(spark, path).collect()]
    assert ph_indexed == ph_direct


def test_empty_corpus_index_roundtrips(spark, tmp_path):
    """r6 (ADVICE): a corpus with zero tokenized docs writes no
    postings part files under partitionBy; read_text_index must serve
    typed empty frames (stats first) instead of dying in parquet
    schema inference, and the probes must return empty results."""
    docs = load_tables(spark, SF)["documents"].filter(F.lit(False))
    path = str(tmp_path / "empty")
    ti.write_text_index(docs, path)
    postings, doclens, stats = ti.read_text_index(spark, path)
    assert postings.count() == 0 and doclens.count() == 0
    assert stats["n_docs"] == 0
    assert ti.bm25_topk_indexed(spark, path).count() == 0
    assert ti.phrase_topk_indexed(spark, path).count() == 0


@pytest.mark.full_suite
def test_append_text_index_equals_rebuild(spark, tmp_path):
    """r6: incremental append must equal a full rebuild over old∪new —
    postings/doclens/stats relation-for-relation, probes row-identical,
    validator green — and a doc_id overlap must refuse loudly."""
    import pytest as _pytest

    docs = load_tables(spark, SF)["documents"]
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    ti.write_text_index(old, inc, n_buckets=16)
    ti.append_text_index(new, inc)
    ti.write_text_index(docs, full, n_buckets=16)

    pi, di, si = ti.read_text_index(spark, inc)
    pf, df_, sf_ = ti.read_text_index(spark, full)
    key = lambda r: (r["term"], r["doc_id"])
    assert sorted(((r["term"], r["doc_id"], r["tf"], list(r["positions"]),
                    r["bucket"]) for r in pi.collect())) == \
        sorted(((r["term"], r["doc_id"], r["tf"], list(r["positions"]),
                 r["bucket"]) for r in pf.collect()))
    assert sorted(map(tuple, di.collect())) == \
        sorted(map(tuple, df_.collect()))
    assert (si["n_docs"], si["total_tokens"], si["n_buckets"]) == \
        (sf_["n_docs"], sf_["total_tokens"], sf_["n_buckets"])

    assert [tuple(r) for r in ti.bm25_topk_indexed(spark, inc).collect()] \
        == [tuple(r) for r in ti.bm25_topk_indexed(spark, full).collect()]
    assert [tuple(r)
            for r in ti.phrase_topk_indexed(spark, inc).collect()] \
        == [tuple(r) for r in ti.phrase_topk_indexed(spark, full).collect()]

    res = {r["check"]: r["ok"]
           for r in validate.validate_text_index(spark, inc).collect()}
    assert all(res.values()), res

    with _pytest.raises(ValueError, match="already indexed"):
        ti.append_text_index(new.limit(5), inc)


def test_append_rewrites_only_touched_buckets(spark, tmp_path):
    """The incremental-I/O claim itself: appending a batch whose terms
    hash into few buckets must leave every other bucket directory's
    files byte-identical (same names, sizes, mtimes)."""
    import os

    docs = load_tables(spark, SF)["documents"]
    path = str(tmp_path / "few")
    ti.write_text_index(docs, path, n_buckets=16)

    def snapshot():
        out = {}
        base = f"{path}/postings"
        for d in os.listdir(base):
            if d.startswith("bucket="):
                full = os.path.join(base, d)
                out[d] = sorted(
                    (f, os.path.getsize(os.path.join(full, f)),
                     os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full) if f.endswith(".parquet"))
        return out

    before = snapshot()
    tiny = spark.createDataFrame(
        [(10_000_001, "zzyzx zzyzx qwertyuiop")], "doc_id long, text string")
    ti.append_text_index(tiny, path)
    after = snapshot()
    tf_new = spark.createDataFrame(
        [("zzyzx",), ("qwertyuiop",)], "term string")
    touched = {
        f"bucket={r['b']}" for r in tf_new.select(
            ti._term_bucket(F.col("term"), 16).alias("b")).collect()}
    untouched_same = [d for d in before
                      if d not in touched and before[d] == after[d]]
    assert set(before) - touched == set(untouched_same), (
        "untouched bucket dirs were rewritten")
    for d in touched:
        assert after.get(d) != before.get(d)
