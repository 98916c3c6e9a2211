"""G4 structured streaming + H2 cirrussearch source + H3 writer tests.

The streaming test asserts the readStream→watermark→window pipeline
produces exactly the batch hourly_rollup counts (the batch result is
the stream's expected output — SURVEY §2 G4). The cirrussearch test
exercises field projection, metadata-line dropping, and the
percent-encoded url synthesis matching the reference's
Uri.EscapeDataString behaviour (WikipediaHelper.cs:37-43).
"""

from __future__ import annotations

import gzip
import json
import shutil

import pytest

from pyspark.sql import functions as F

from resin_spark.io import load_tables, read_cirrussearch, write_parquet
from resin_spark.streaming import events as ev

pytestmark = pytest.mark.full_suite  # the streaming-twin batteries: full tier only (VERDICT r11 item 1)


SF = "/root/testdata/sf0.001"


def test_stream_hourly_rollup_matches_batch(spark, tmp_path):
    batch = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in ev.hourly_rollup(load_tables(spark, SF)).collect()
    }
    assert batch

    # file-stream sources need a directory (as in production, where the
    # events land as a directory of parquet files)
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", src_dir / "part-0000.parquet")
    stream_df = ev.stream_hourly_rollup(spark, str(src_dir))
    q = (
        stream_df.writeStream.format("memory")
        .queryName("hourly_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM hourly_stream").collect()
    }
    assert got == batch


def test_stream_sessionize_emits_batch_sessions(spark, tmp_path):
    """Every session the stream finalizes must exactly match a batch
    gaps-and-islands session (user, start, count); only sessions inside
    the watermark horizon may be pending."""
    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in ev.sessionize(load_tables(spark, SF)).collect()
    }
    src_dir = tmp_path / "events_in2"
    src_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", src_dir / "part-0000.parquet")
    q = (
        ev.stream_sessionize(spark, str(src_dir), watermark="1 minute")
        .writeStream.format("memory")
        .queryName("session_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain (overloaded machine?)"
    emitted = spark.sql("SELECT * FROM session_stream").collect()
    assert len(emitted) > 0
    for r in emitted:
        key = (r["user_id"], r["session_start"])
        assert key in batch, f"stream emitted unknown session {key}"
        assert batch[key] == r["n_events"], key


def test_stream_sessionize_drops_null_users(spark, tmp_path):
    """The batch sessionize (and its driver-checked oracle) drops NULL
    user_id rows; session_window's groupBy would keep a NULL-user group
    and emit sessions the batch never produces — the twin must gate
    NULL users JVM-side (r7 stream-fuzz find, seed 13001)."""
    src = tmp_path / "null_user_events"
    src.mkdir()
    spark.createDataFrame(
        [(0, "2026-01-01 10:00:00", None, "click", 1.0, None),
         (1, "2026-01-01 10:00:05", 7, "view", 1.0, None),
         (2, "2026-01-01 14:00:00", None, "click", 1.0, None)],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.parquet(str(src / "p"))
    q = (
        ev.stream_sessionize(spark, str(src / "p"), watermark="1 minute")
        .writeStream.format("memory")
        .queryName("null_user_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_nu"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain (overloaded machine?)"
    rows = spark.sql("SELECT * FROM null_user_sessions").collect()
    assert all(r["user_id"] is not None for r in rows)


def _write_cirrus_fixture(path):
    rows = [
        {"index": {"_type": "page", "_id": "1"}},
        {"title": "Apache Spark", "text": "engine", "popularity_score": 1.5},
        {"index": {"_type": "page", "_id": "2"}},
        {"title": "C# (programming language)", "text": "lang",
         "popularity_score": 0.5},
    ]
    with gzip.open(path, "wt", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_cirrussearch_projection_and_url(spark, tmp_path):
    fx = str(tmp_path / "dump.json.gz")
    _write_cirrus_fixture(fx)
    df = read_cirrussearch(spark, fx, ["title", "text", "url"])
    rows = {r["title"]: r for r in df.collect()}
    # metadata lines dropped, two documents survive
    assert set(rows) == {"Apache Spark", "C# (programming language)"}
    assert rows["Apache Spark"]["text"] == "engine"
    # percent-encoding, not form-encoding: space → %20 (never '+'),
    # reserved chars escaped — Uri.EscapeDataString semantics
    assert rows["Apache Spark"]["url"] == \
        "https://en.wikipedia.org/wiki/Apache%20Spark"
    url2 = rows["C# (programming language)"]["url"]
    assert "+" not in url2 and "%20" in url2 and url2.startswith(
        "https://en.wikipedia.org/wiki/C%23")
    assert df.columns == ["title", "text", "url"]


def test_cirrussearch_field_projection_only(spark, tmp_path):
    fx = str(tmp_path / "dump2.json.gz")
    _write_cirrus_fixture(fx)
    df = read_cirrussearch(spark, fx, ["title", "popularity_score"])
    assert df.columns == ["title", "popularity_score"]
    assert df.count() == 2
    assert read_cirrussearch(spark, fx, ["title"], take=1).count() == 1


def test_partitioned_parquet_writer_roundtrip(spark, tmp_path):
    t = load_tables(spark, SF)
    out = str(tmp_path / "nation_out")
    write_parquet(t["nation"], out, partition_by=["n_regionkey"])
    back = spark.read.parquet(out)
    assert back.count() == t["nation"].count()
    # partition column survives as a directory key (partition pruning works)
    pruned = back.filter(F.col("n_regionkey") == 0)
    assert pruned.count() == t["nation"].filter(F.col("n_regionkey") == 0).count()


def test_csv_and_json_writer_roundtrip(spark, tmp_path):
    from resin_spark.io import write_csv, write_json

    t = load_tables(spark, SF)
    region = t["region"].select("r_regionkey", "r_name")
    csv_out = str(tmp_path / "region_csv")
    json_out = str(tmp_path / "region_json")
    write_csv(region, csv_out)
    write_json(region, json_out)
    via_csv = spark.read.option("header", "true").csv(csv_out) \
        .selectExpr("CAST(r_regionkey AS BIGINT) AS r_regionkey", "r_name")
    via_json = spark.read.json(json_out).select("r_regionkey", "r_name")
    want = sorted(map(tuple, region.collect()))
    assert sorted(map(tuple, via_csv.collect())) == want
    assert sorted(map(tuple, via_json.collect())) == want

def test_stream_user_running_totals_state_across_batches(spark, tmp_path):
    """applyInPandasWithState must carry per-user counts ACROSS
    micro-batches: events split into two files (one per trigger), and
    the final cumulative row per user must equal the batch groupBy —
    a value only reachable if batch-2 updates started from batch-1
    state."""
    t = load_tables(spark, SF)
    batch = {
        r["user_id"]: r["n"]
        for r in t["events"].groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    ev_df = t["events"]
    src_dir = tmp_path / "events_split"
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    ev_df.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src_dir / "a"))
    ev_df.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src_dir / "b"))
    import glob, shutil as sh
    flat = tmp_path / "events_flat"
    flat.mkdir()
    for i, f in enumerate(sorted(glob.glob(str(src_dir / "*" / "*.parquet")))):
        sh.copy(f, flat / f"part-{i:04d}.parquet")

    q = (
        ev.stream_user_running_totals(spark, str(flat))
        .writeStream.format("memory")
        .queryName("user_totals_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain (overloaded machine?)"
    rows = spark.sql("SELECT * FROM user_totals_stream").collect()
    assert rows
    final = {}
    emitted_per_user = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0), r["n_events"])
        emitted_per_user[r["user_id"]] = emitted_per_user.get(r["user_id"], 0) + 1
    assert final == batch
    # at least one user was touched by both micro-batches -> two emitted
    # rows with increasing cumulative counts (state actually persisted)
    assert max(emitted_per_user.values()) >= 2

def test_bucketed_write_joins_without_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key must sort-merge join with NO
    Exchange in the plan — the write-time organisation replaces the
    runtime shuffle (the whole point of bucketing at 100 TB)."""
    from resin_spark.io import write_bucketed
    t = load_tables(spark, SF)
    # (warehouse dir is a static conf — managed tables land in the
    # session default and are dropped below)
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(t["orders"], "orders_b", ["o_custkey"], 8)
        write_bucketed(
            t["customer"], "customer_b", ["c_custkey"], 8)
        joined = (
            spark.table("orders_b")
            .join(spark.table("customer_b"),
                  F.col("o_custkey") == F.col("c_custkey"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        n = joined.count()
        expected = (
            t["orders"].join(t["customer"],
                             F.col("o_custkey") == F.col("c_custkey")).count()
        )
        assert n == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")

def test_vector_double_roundtrip_is_bit_exact(spark, tmp_path):
    """Reference DoubleTests.CanSerializeAndDeserializeVectorDoubleValues
    analog: array<double> embedding columns must survive a parquet
    round-trip bit-exactly, including subnormals, extremes, and signed
    zeros (NaN compares unequal; its bit pattern is asserted via isnan)."""
    import math
    vals = [1.0, -0.0, 2.2250738585072014e-308, 5e-324,
            1.7976931348623157e308, math.pi, -math.inf]
    df = spark.createDataFrame([(1, vals), (2, [float("nan")])],
                               "vec_id long, vec array<double>")
    out = str(tmp_path / "vecs")
    write_parquet(df, out)
    back = {r["vec_id"]: r["vec"] for r in spark.read.parquet(out).collect()}
    assert back[1] == vals
    assert math.isnan(back[2][0])

def test_truncate_removes_path_and_table(spark, tmp_path):
    """TruncateCommand analog: path stores and managed tables both
    empty out; truncating a missing store is a no-op."""
    from resin_spark.io import truncate, write_bucketed
    import os
    t = load_tables(spark, SF)
    out = str(tmp_path / "trunc_me")
    write_parquet(t["region"], out)
    assert os.path.exists(out)
    truncate(spark, out)
    assert not os.path.exists(out)
    truncate(spark, out)  # no-op on missing store

    write_bucketed(t["region"], "region_trunc", ["r_regionkey"], 2)
    assert spark.catalog.tableExists("region_trunc")
    truncate(spark, "region_trunc")
    assert not spark.catalog.tableExists("region_trunc")

def _default_table_location(spark, table):
    """Default managed-table location: wh/tbl in the default database,
    wh/db.db/tbl otherwise (the derivation commit 4662dff gives io.py)."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").rstrip("/")
    parts = [p.lower() for p in table.split(".")]
    if len(parts) >= 2 and parts[-2] != "default":
        return f"{wh}/{parts[-2]}.db/{parts[-1]}"
    return f"{wh}/{parts[-1]}"

@pytest.mark.parametrize("name", ["orphan_b", "iodb.orphan_b"])
def test_write_bucketed_orphan_location_recovery(spark, tmp_path, name):
    """A warehouse directory left stranded with NO catalog entry (fresh
    metastore, files kept) must not wedge overwrite, for both orphan
    flavors: a junk non-table file and a REAL table directory (the
    r5_semdedup_cell_index driver shape)."""
    import os
    import shutil
    from resin_spark.io import write_bucketed
    t = load_tables(spark, SF)
    spark.sql("CREATE DATABASE IF NOT EXISTS iodb")
    loc = _default_table_location(spark, name)
    try:
        for flavor in ("junk_file", "parquet_dir"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            if flavor == "junk_file":
                os.makedirs(loc.removeprefix("file:"), exist_ok=True)
                with open(os.path.join(loc.removeprefix("file:"),
                                       "stranded.bin"), "w") as fh:
                    fh.write("junk from a previous session")
            else:
                t["region"].write.mode("overwrite").parquet(
                    loc.removeprefix("file:"))
            write_bucketed(t["region"], name, ["r_regionkey"], 2)
            assert spark.table(name).count() == t["region"].count()
            # a second overwrite over the now-healthy table must also work
            write_bucketed(t["region"], name, ["r_regionkey"], 2)
            assert spark.table(name).count() == t["region"].count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(loc.removeprefix("file:"), ignore_errors=True)
        spark.sql("DROP DATABASE IF EXISTS iodb")

def test_stream_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """Streaming dedup must suppress copies that arrive in LATER
    micro-batches: batch 2 replays half of batch 1's documents plus
    fresh ones; only the fresh ones may emit."""
    docs = load_tables(spark, SF)["documents"].select("doc_id", "text")
    first = docs.filter(F.col("doc_id") < 40)
    replay = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 60)) \
        .withColumn("doc_id", F.col("doc_id") + 100000)  # new ids, old text
    flat = tmp_path / "docs_stream"
    flat.mkdir()
    first.coalesce(1).write.parquet(str(tmp_path / "b1"))
    replay.coalesce(1).write.parquet(str(tmp_path / "b2"))
    import glob, shutil as sh
    for i, f in enumerate(sorted(glob.glob(str(tmp_path / "b*" / "*.parquet")))):
        sh.copy(f, flat / f"part-{i:04d}.parquet")

    q = (
        ev.stream_dedup_exact(spark, str(flat))
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain (overloaded machine?)"
    rows = spark.sql("SELECT * FROM dedup_stream").collect()
    emitted_ids = {r["doc_id"] for r in rows}
    # every batch-1 doc emits (distinct texts in the corpus)...
    assert set(range(40)) <= emitted_ids
    # ...replayed texts (ids 100020..100039 carry batch-1 text) do NOT
    assert not {i + 100000 for i in range(20, 40)} & emitted_ids
    # fresh texts in batch 2 do emit
    assert {i + 100000 for i in range(40, 60)} <= emitted_ids
    # and hashes are globally unique across everything emitted
    hashes = [r["content_hash"] for r in rows]
    assert len(hashes) == len(set(hashes))


def test_stream_near_dedup_matches_batch_lsh(spark, tmp_path):
    """Streaming near-dup against a static LSH index must flag exactly
    the pairs the batch minhash_lsh_pairs job flags (same index, same
    banding, same exact-Jaccard verification): the corpus streams in as
    two files against an index of the full corpus, so every batch pair
    (a,b) must surface — as (a,b) when a streams, (b,a) when b streams —
    with identical jaccard values."""
    docs = load_tables(spark, SF)["documents"].select("doc_id", "text")
    from resin_spark.operators import dedup as D

    batch = {frozenset((r["doc_a"], r["doc_b"])): r["jaccard"]
             for r in D.minhash_lsh_pairs(docs).collect()}
    assert batch  # meaningless test on a pair-free corpus

    flat = tmp_path / "nd_stream"
    flat.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(tmp_path / "nb1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(tmp_path / "nb2"))
    import glob, shutil as sh
    for i, f in enumerate(sorted(glob.glob(str(tmp_path / "nb*" / "*.parquet")))):
        sh.copy(f, flat / f"part-{i:04d}.parquet")

    q = (
        ev.stream_near_dedup(spark, str(flat), docs)
        .writeStream.format("memory")
        .queryName("near_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain (overloaded machine?)"
    rows = spark.sql("SELECT * FROM near_dedup_stream").collect()
    got = {}
    for r in rows:
        got[frozenset((r["doc_id"], r["dup_of"]))] = r["jaccard"]
    assert set(got) == set(batch)
    for k, j in got.items():
        assert abs(j - batch[k]) < 1e-12, k


def test_stream_ann_topk_matches_batch_lsh(spark, tmp_path):
    """Streaming ANN must resolve each micro-batch of query vectors to
    exactly the batch lsh_topk result (same index seeds, same probes,
    same tie-break): 20 query vectors stream in two files against the
    full embeddings corpus."""
    from resin_spark.streaming import vectors as sv
    from resin_spark.operators import similarity as S

    emb = load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    want = {}
    for r in S.lsh_topk(emb, queries).collect():
        want.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["score"]))
    assert want

    qdir = tmp_path / "q_stream"
    qdir.mkdir()
    emb.filter(F.col("vec_id") < 10).coalesce(1).write.parquet(str(tmp_path / "qa"))
    emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)) \
        .coalesce(1).write.parquet(str(tmp_path / "qb"))
    import glob, shutil as sh
    for i, f in enumerate(sorted(glob.glob(str(tmp_path / "q*" / "*.parquet")))):
        sh.copy(f, qdir / f"part-{i:04d}.parquet")

    q = (
        sv.stream_ann_topk(spark, str(qdir), emb)
        .writeStream.format("memory")
        .queryName("ann_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ann"))
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain (overloaded machine?)"
    got = {}
    for r in spark.sql("SELECT * FROM ann_stream").collect():
        got[r["query_id"]] = [(n["rank"], n["neighbor_id"], n["score"])
                              for n in r["neighbors"]]
    assert got == want


def test_stream_ann_topk_probes_corpus_width(spark, tmp_path):
    """With dims unset, streaming ANN sizes its hyperplanes from the
    corpus like lsh_topk does: on a 12-wide corpus (not the testdata's
    64) every micro-batch must equal the batch lsh_topk result instead
    of dying in the hyperplane matmul."""
    import numpy as np
    from resin_spark.operators import similarity as S
    from resin_spark.streaming import vectors as sv

    rng = np.random.RandomState(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(12)])
         for i in range(300)],
        "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    want = {}
    for r in S.lsh_topk(emb, queries).collect():
        want.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["score"]))
    assert want

    qdir = str(tmp_path / "q12")
    emb.filter(F.col("vec_id") < 8).coalesce(1).write.parquet(qdir)
    q = (
        sv.stream_ann_topk(spark, qdir, emb)
        .writeStream.format("memory")
        .queryName("ann_stream_w12")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_w12"))
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain (overloaded machine?)"
    got = {}
    for r in spark.sql("SELECT * FROM ann_stream_w12").collect():
        got[r["query_id"]] = [(n["rank"], n["neighbor_id"], n["score"])
                              for n in r["neighbors"]]
    assert got == want


def test_shingle_hashes_per_row_matches_batch_on_edge_docs(spark):
    """The per-row shingle-hash expression (stream path) must produce
    exactly the batch shingles()->groupBy hash set for every document,
    including the edges: empty text, fewer tokens than n (EMPTY array ==
    dropped by batch explode), and texts whose grams repeat."""
    from resin_spark.operators import dedup as D
    from resin_spark.functions import text as T

    rows = [
        (0, ""),
        (1, "one two"),                      # < n tokens
        (2, "a b c"),                        # exactly n
        (3, "a b c a b c a b c"),            # repeated grams collapse
        (4, "The quick brown fox jumps over the lazy dog"),
        (5, "x " * 50),                      # one distinct gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        r["doc_id"]: frozenset(r["hs"])
        for r in D.shingles(docs, 3)
        .groupBy("doc_id")
        .agg(F.collect_list(F.xxhash64("shingle")).alias("hs"))
        .collect()
    }
    per_row = {
        r["doc_id"]: (frozenset(r["h"]) if r["h"] else None)
        for r in docs.select(
            "doc_id",
            F.col("text").alias("t"),
        ).select(
            "doc_id", T.tokens("t").alias("tk")
        ).select(
            "doc_id", D.shingle_hashes_from_tokens("tk", 3).alias("h")
        ).collect()
    }
    for i, _ in rows:
        assert per_row.get(i) == batch.get(i), (i, per_row.get(i), batch.get(i))


def test_stream_quality_score_matches_batch(spark, tmp_path):
    """Ingestion-time quality scoring with a frozen LM artifact must
    emit exactly the batch quality_perplexity rows when the stream is
    the corpus the LM was built from (full vocabulary coverage)."""
    from resin_spark.operators import traindata as td
    from resin_spark.streaming import quality as q

    t = load_tables(spark, SF)
    batch = {r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
             for r in td.quality_perplexity(t).collect()}
    assert batch

    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    shutil.copy(f"{SF}/documents.parquet", src_dir / "part-0000.parquet")
    sq = (
        q.stream_quality_score(spark, str(src_dir), t["documents"])
        .writeStream.format("memory")
        .queryName("quality_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_q"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
           for r in spark.sql("SELECT * FROM quality_stream").collect()}
    assert got == batch


def test_stream_quality_score_oov_prior(spark, tmp_path):
    """Tokens absent from the LM vocabulary score the singleton
    information content (-log2 1/total), and vocab_cap truncation
    routes dropped tokens through the same prior."""
    import math

    from resin_spark.streaming import quality as q

    lm_docs = spark.createDataFrame(
        [(0, "aa aa aa aa"), (1, "aa aa bb bb")], "doc_id long, text string")
    # total tokens = 8: aa tf=6, bb tf=2
    bits, oov = q.build_unigram_lm(lm_docs)
    assert bits["aa"] == round(-math.log2(6 / 8), 6)
    assert oov == round(-math.log2(1 / 8), 6)

    src_dir = tmp_path / "docs_oov"
    src_dir.mkdir()
    stream_docs = spark.createDataFrame(
        [(10, "zz zz"), (11, "aa zz")], "doc_id long, text string")
    stream_docs.coalesce(1).write.parquet(str(src_dir / "p"))
    sq = (
        q.stream_quality_score(spark, str(src_dir / "p"), lm_docs)
        .writeStream.format("memory")
        .queryName("quality_oov")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_oov"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: r["bits_per_token"]
           for r in spark.sql("SELECT * FROM quality_oov").collect()}
    assert got[10] == oov  # all-OOV doc scores the prior exactly
    mixed = (bits["aa"] + oov) / 2
    assert abs(got[11] - mixed) < 1e-6

    # vocab_cap=1 keeps only 'aa'; 'bb' now scores the prior
    bits1, oov1 = q.build_unigram_lm(lm_docs, vocab_cap=1)
    assert set(bits1) == {"aa"} and oov1 == oov


def test_stream_bigram_score_matches_batch(spark, tmp_path):
    """Ingestion-time KN-bigram scoring with a frozen artifact must emit
    exactly the batch quality_perplexity_bigram rows when the stream is
    the corpus the LM was built from (full bigram coverage)."""
    from resin_spark.operators import traindata as td
    from resin_spark.streaming import quality as q

    t = load_tables(spark, SF)
    batch = {r["doc_id"]: (r["n_tokens"], r["bits_total"])
             for r in td.quality_perplexity_bigram(t).collect()}
    assert batch

    src_dir = tmp_path / "docs_bi"
    src_dir.mkdir()
    shutil.copy(f"{SF}/documents.parquet", src_dir / "part-0000.parquet")
    sq = (
        q.stream_quality_score_bigram(spark, str(src_dir), t["documents"])
        .writeStream.format("memory")
        .queryName("bigram_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_bi"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: (r["n_tokens"], r["bits_total"])
           for r in spark.sql("SELECT * FROM bigram_stream").collect()}
    assert got == batch


def test_stream_bigram_backoff_and_oov(spark, tmp_path):
    """An unseen bigram backs off to its right word's unigram bits; an
    unseen word scores the OOV prior — scoring is total, never a KeyError."""
    import math

    from resin_spark.streaming import quality as q

    lm_docs = spark.createDataFrame(
        [(0, "aa bb aa bb"), (1, "bb cc")], "doc_id long, text string")
    bi, uni, oov = q.build_bigram_lm(lm_docs)
    assert ("aa", "bb") in bi and ("bb", "cc") in bi
    assert oov == round(-math.log2(1 / 6), 6)

    src = tmp_path / "docs_bo"
    src.mkdir()
    spark.createDataFrame(
        [(7, "cc aa zz")],  # (cc,aa) unseen bigram; zz unseen word
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    sq = (
        q.stream_quality_score_bigram(spark, str(src), lm_docs)
        .writeStream.format("memory").queryName("bigram_backoff")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_bo")).start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    rows = spark.sql("SELECT * FROM bigram_backoff").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_tokens"] == 3
    # first token cc: unigram; (cc,aa) unseen -> unigram(aa); (aa,zz) -> oov
    exp = (int(round(uni["cc"] * 1e6)) + int(round(uni["aa"] * 1e6))
           + int(round(oov * 1e6))) / 1e6
    assert r["bits_total"] == exp


def test_stream_lang_classify_matches_batch(spark, tmp_path):
    """Ingestion-time NB language classification with a frozen model
    must emit exactly the batch nb_lang_classify rows when the stream
    is the corpus the model was trained on (full vocab coverage)."""
    from resin_spark.operators import traindata as td
    from resin_spark.streaming import quality as q

    t = load_tables(spark, SF)
    batch = {r["doc_id"]: (r["true_lang"], r["pred_lang"],
                           r["best_bits"], r["correct"])
             for r in td.nb_lang_classify(t).collect()}
    assert batch

    src_dir = tmp_path / "docs_nb"
    src_dir.mkdir()
    shutil.copy(f"{SF}/documents.parquet", src_dir / "part-0000.parquet")
    sq = (
        q.stream_lang_classify(spark, str(src_dir), t["documents"])
        .writeStream.format("memory")
        .queryName("nb_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_nb"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: (r["true_lang"], r["pred_lang"],
                         r["best_bits"], r["correct"])
          for r in spark.sql("SELECT * FROM nb_stream").collect()}
    assert got == batch


def test_stream_lang_classify_oov_scores_prior(spark, tmp_path):
    """A streamed doc whose tokens are entirely outside the model
    vocabulary scores prior + n_tokens x oov per language — the argmin
    then reduces to the prior/oov ordering, and the row still emits
    (no crash, no drop)."""
    from resin_spark.streaming import quality as q

    model_docs = spark.createDataFrame(
        [(0, "the cat sat", "en"), (1, "der hund und", "de"),
         (2, "the dog ran", "en")],
        "doc_id long, text string, lang string",
    )
    src = tmp_path / "docs_nb_oov"
    src.mkdir()
    spark.createDataFrame(
        [(10, "zzz qqq xxx", "en")],
        "doc_id long, text string, lang string",
    ).coalesce(1).write.parquet(str(src / "p"))
    sq = (
        q.stream_lang_classify(spark, str(src / "p"), model_docs)
        .writeStream.format("memory")
        .queryName("nb_oov_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_nb_oov"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    rows = spark.sql("SELECT * FROM nb_oov_stream").collect()
    assert len(rows) == 1
    r = rows[0]
    # en has 2 of 3 model docs -> smaller prior bits; all-OOV tokens
    # tie per-token across langs only if vocab sizes equal — assert the
    # row is well-formed and pred is one of the model languages
    assert r["pred_lang"] in ("en", "de")
    assert r["best_bits"] > 0 and r["true_lang"] == "en"


def test_stream_hll_registers_match_batch(spark, tmp_path):
    """Streaming sketch state after consuming the whole stream must
    equal the batch register table — register max-merge across
    micro-batches IS the sketch union — and therefore yields the
    identical estimate."""
    import shutil as _sh

    from resin_spark.operators import sketch as sk
    from resin_spark.streaming import events as sev

    src = tmp_path / "ev_hll"
    src.mkdir()
    _sh.copy(f"{SF}/events.parquet", src / "part-0000.parquet")
    q = (
        sev.stream_hll_registers(spark, str(src))
        .writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {(r["event_type"], r["bucket"]): r["m"]
           for r in spark.sql("SELECT * FROM hll_stream").collect()}
    ev = load_tables(spark, SF)["events"].filter("user_id IS NOT NULL")
    want = {(r["event_type"], r["bucket"]): r["m"]
            for r in sk.hll_registers(ev).collect()}
    assert got == want and got


def test_stream_scorers_drop_null_rows_jvm_side(spark, tmp_path):
    """Arrow hands a NULL int64 doc_id to pandas as NaN, so python-side
    `is None` guards never fire — the null gate must be a DataFrame
    filter before mapInPandas. A streamed batch with null doc_id /
    lang / text rows must emit only the valid row, matching the batch
    twins' IS NOT NULL semantics."""
    from resin_spark.streaming import quality as q

    model_docs = spark.createDataFrame(
        [(0, "the cat sat on the mat", "en"),
         (1, "der hund und die katze", "de")],
        "doc_id long, text string, lang string")
    src = tmp_path / "null_docs"
    src.mkdir()
    spark.createDataFrame(
        [(10, "the cat sat", "en"),
         (None, "the dog ran", "en"),      # null doc_id
         (12, None, "en"),                 # null text
         (13, "der hund und", None)],      # null lang
        "doc_id long, text string, lang string",
    ).coalesce(1).write.parquet(str(src / "p"))
    sq = (
        q.stream_lang_classify(spark, str(src / "p"), model_docs)
        .writeStream.format("memory")
        .queryName("nb_null_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_nb_null"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    rows = spark.sql("SELECT * FROM nb_null_stream").collect()
    assert [r["doc_id"] for r in rows] == [10]

    sq2 = (
        q.stream_quality_score(spark, str(src / "p"), model_docs)
        .writeStream.format("memory")
        .queryName("q_null_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_q_null"))
        .start()
    )
    assert sq2.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = sorted(r["doc_id"] for r in
                 spark.sql("SELECT * FROM q_null_stream").collect())
    assert got == [10, 13]  # lang irrelevant to the unigram scorer


def test_stream_cms_counters_match_batch(spark, tmp_path):
    """Streaming CMS state after consuming the whole stream must equal
    the batch counter table — counter addition across micro-batches IS
    the sketch merge."""
    import shutil as _sh

    from pyspark.sql import functions as SF_
    from resin_spark.operators import sketch as sk
    from resin_spark.streaming import events as sev

    src = tmp_path / "docs_cms"
    src.mkdir()
    _sh.copy(f"{SF}/documents.parquet", src / "part-0000.parquet")
    q = (
        sev.stream_cms_counters(spark, str(src))
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {(r["j"], r["c"]): r["cnt"]
           for r in spark.sql("SELECT * FROM cms_stream").collect()}
    toks = (
        load_tables(spark, SF)["documents"]
        .filter("doc_id IS NOT NULL")
        .select(SF_.explode(
            __import__("resin_spark.functions.text",
                       fromlist=["tokens"]).tokens("text")).alias("tok"))
    )
    want = {(r["j"], r["c"]): r["cnt"]
            for r in sk.cms_counters(toks).collect()}
    assert got == want and got


def test_stream_bm25_matches_batch(spark, tmp_path):
    """Ingestion-time BM25 with the frozen (df, N, avgdl) artifact must
    emit exactly the batch per-doc (n_hits, score) rows when the stream
    is the corpus the model was built from (k large enough that the
    batch top-k is the full scored relation)."""
    from resin_spark.operators import textops as tx
    from resin_spark.streaming import quality as q

    t = load_tables(spark, SF)
    batch = {r["doc_id"]: (r["n_hits"], r["score"])
             for r in tx.bm25_scores(t).collect()}
    assert batch

    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    shutil.copy(f"{SF}/documents.parquet", src_dir / "part-0000.parquet")
    sq = (
        q.stream_bm25_score(spark, str(src_dir), t["documents"])
        .writeStream.format("memory")
        .queryName("bm25_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_bm25"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: (r["n_hits"], r["score"])
           for r in spark.sql("SELECT * FROM bm25_stream").collect()}
    assert got == batch


def test_stream_bm25_repeated_query_term_matches_batch(spark, tmp_path):
    """The query is a set on both faces: a repeated term counts once in
    n_hits and score, as bm25_scores dedupes it."""
    from resin_spark.operators import textops as tx
    from resin_spark.streaming import quality as q

    query = ("merge", "sort", "merge")
    t = load_tables(spark, SF)
    batch = {r["doc_id"]: (r["n_hits"], r["score"])
             for r in tx.bm25_scores(t, query=query).collect()}
    assert batch

    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    shutil.copy(f"{SF}/documents.parquet", src_dir / "part-0000.parquet")
    sq = (
        q.stream_bm25_score(spark, str(src_dir), t["documents"], query=query)
        .writeStream.format("memory")
        .queryName("bm25_dup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_bm25_dup"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: (r["n_hits"], r["score"])
           for r in spark.sql("SELECT * FROM bm25_dup_stream").collect()}
    assert got == batch


def test_stream_bm25_term_absent_from_model_never_hits(spark, tmp_path):
    """A query term with df = 0 in the model has no idf: it is dropped
    from the query, so a streamed doc holding only that term emits
    nothing and a doc holding it beside a modelled term counts one hit
    scored by the modelled term alone."""
    from resin_spark.streaming import quality as q

    model_docs = spark.createDataFrame(
        [(0, "merge sort alpha"), (1, "beta gamma")],
        "doc_id long, text string")
    src = tmp_path / "docs_df0"
    spark.createDataFrame(
        [(10, "window window"), (11, "merge window")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src))
    sq = (
        q.stream_bm25_score(spark, str(src), model_docs,
                            query=("merge", "window"))
        .writeStream.format("memory").queryName("bm25_df0_stream")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_df0")).start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    rows = spark.sql("SELECT * FROM bm25_df0_stream").collect()
    assert [(r["doc_id"], r["n_hits"]) for r in rows] == [(11, 1)]
    # merge: N = 2, df = 1 -> idf 1.0; avgdl = 5/2; doc 11: dl = 2, tf = 1
    want = 1.0 * (1.0 * 2.2 / (1.0 + 1.2 * (0.25 + 0.75 * (2.0 / 2.5))))
    assert abs(rows[0]["score"] - want) < 1e-12


def test_stream_phrase_match_matches_batch(spark, tmp_path):
    """The stateless streaming phrase matcher must emit exactly the
    batch phrase_search scored relation (pre-top-k) on the same docs."""
    from resin_spark.operators import textops as tx
    from resin_spark.streaming import quality as q

    t = load_tables(spark, SF)
    batch = {(r["doc_id"], r["n_occurrences"], r["n_tokens"])
             for r in tx.phrase_search(t, k=10_000).collect()}
    assert batch

    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    shutil.copy(f"{SF}/documents.parquet", src_dir / "part-0000.parquet")
    sq = (
        q.stream_phrase_match(spark, str(src_dir))
        .writeStream.format("memory")
        .queryName("phrase_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ph"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {(r["doc_id"], r["n_occurrences"], r["n_tokens"])
           for r in spark.sql("SELECT * FROM phrase_stream").collect()}
    assert got == batch


def test_stream_corpus_delta_matches_batch(spark, tmp_path):
    """Streaming snapshot classification must agree with batch
    corpus_delta for every streamed doc (removed is batch-only by
    definition: absence never arrives on a stream)."""
    from resin_spark.operators import pipeline as pl
    from resin_spark.streaming import quality as q

    t = load_tables(spark, SF)
    docs = t["documents"]
    # new snapshot = the deterministic demo mutation, materialised
    from resin_spark.operators.pipeline import (
        DELTA_ADD_OFFSET, DELTA_ADD_MOD, DELTA_EDIT_MOD, DELTA_REMOVE_MOD,
    )
    from pyspark.sql import functions as F
    base = docs.filter(F.col("doc_id").isNotNull())
    survivors = base.filter(F.col("doc_id") % DELTA_REMOVE_MOD != 0)
    new_snap = survivors.select(
        "doc_id",
        F.when(F.col("doc_id") % DELTA_EDIT_MOD == 0,
               F.concat_ws(" ", "text", F.lit("v2")))
        .otherwise(F.col("text")).alias("text"),
    ).unionByName(
        base.filter(F.col("doc_id") % DELTA_ADD_MOD == 0).select(
            (F.col("doc_id") + DELTA_ADD_OFFSET).alias("doc_id"),
            F.concat_ws(" ", F.lit("new crawl doc"), "text").alias("text"))
    )
    src_dir = tmp_path / "new_in"
    src_dir.mkdir()
    new_snap.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "p"))

    batch = {r["doc_id"]: (r["status"], r["old_md5"], r["new_md5"])
             for r in pl.corpus_delta(base, new_snap).collect()
             if r["status"] != "removed"}

    sq = (
        q.stream_corpus_delta(spark, str(src_dir / "p"), base)
        .writeStream.format("memory")
        .queryName("delta_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_delta"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: (r["status"], r["old_md5"], r["new_md5"])
           for r in spark.sql("SELECT * FROM delta_stream").collect()}
    assert got == batch
    assert {s for s, _, _ in got.values()} == {
        "added", "modified", "unchanged"}


def test_stream_embedding_drift_matches_batch(spark, tmp_path):
    """Streaming centroid-drift classification must agree with batch
    embedding_drift for every streamed vector: per-label counts equal
    n_new, the decimal-exact mean_norm_new rebuilds bit-for-bit from
    the streamed unrounded norms, per-row distances equal the same
    expression computed batch-side, and every label the old snapshot
    carries reports label_known."""
    from resin_spark.functions import vectors as V
    from resin_spark.operators import traindata as td
    from resin_spark.operators.similarity import valid_vectors
    from resin_spark.streaming import quality as q

    emb = load_tables(spark, SF)["embeddings"]
    new = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % td.DRIFT_SCALE_MOD == 0,
            F.transform(
                "embedding",
                lambda x: (x.cast("double") * td.DRIFT_SCALE).cast("float")),
        ).otherwise(F.col("embedding")),
    )
    src_dir = tmp_path / "emb_in"
    src_dir.mkdir()
    new.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "p"))

    batch = {r["label"]: r for r in td.embedding_drift(emb, new).collect()}

    sq = (
        q.stream_embedding_drift(spark, str(src_dir / "p"), emb)
        .writeStream.format("memory")
        .queryName("drift_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_drift"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    rows = spark.sql("SELECT * FROM drift_stream")
    assert rows.count() > 0

    rebuilt = rows.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("norm_new").cast("string").cast("decimal(28,15)"))
            .cast("double") / F.count(F.lit(1)), 9).alias("mean_norm"),
        F.min(F.col("label_known").cast("int")).alias("known"),
    )
    for r in rebuilt.collect():
        b = batch[r["label"]]
        assert r["n"] == b["n_new"], (r["label"], r["n"], b["n_new"])
        assert r["mean_norm"] == b["mean_norm_new"], r["label"]
        assert r["known"] == 1  # old snapshot carries every label

    # per-row distance: same expression computed batch-side over the
    # written snapshot (identical float round-trip)
    cents = td.label_centroid_vectors(emb).select(
        F.col("c_label").alias("label"),
        F.col("centroid").alias("centroid_old"))
    expected = {
        r["vec_id"]: r["d"]
        for r in valid_vectors(
            spark.read.parquet(str(src_dir / "p")))
        .filter(F.col("label").isNotNull())
        .join(cents, "label")
        .select(
            "vec_id",
            F.round(V.l2_distance(
                F.transform("embedding", lambda x: x.cast("double")),
                "centroid_old"), 9).alias("d"))
        .collect()
    }
    got = {r["vec_id"]: r["dist_to_old_centroid"] for r in rows.collect()}
    assert got == expected


def test_stream_ivf_topk_matches_batch_indexed(spark, tmp_path):
    """Streaming IVF lookups against the persisted store must resolve
    each micro-batch to exactly the batch ivf_topk_indexed result —
    same stored centroids, same probe budget, same tie-break."""
    from resin_spark.operators import similarity as S
    from resin_spark.streaming import vectors as sv

    emb = load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")
    path = str(tmp_path / "ivfidx")
    S.write_ivf_index(emb, path, n_cells=16)
    entries, cent = S.read_ivf_index(spark, path)

    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    want = {}
    for r in S.ivf_topk_indexed(entries, cent, queries,
                                n_probe=4).collect():
        want.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["score"]))
    assert want

    qdir = tmp_path / "ivf_q"
    qdir.mkdir()
    emb.filter(F.col("vec_id") < 20).coalesce(1) \
        .write.parquet(str(tmp_path / "ivf_qa"))
    import glob, shutil as sh
    for i, f in enumerate(sorted(glob.glob(
            str(tmp_path / "ivf_qa" / "*.parquet")))):
        sh.copy(f, qdir / f"part-{i:04d}.parquet")

    q = (
        sv.stream_ivf_topk(spark, str(qdir), path, n_probe=4)
        .writeStream.format("memory")
        .queryName("ivf_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ivf"))
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain (overloaded machine?)"
    got = {}
    for r in spark.sql("SELECT * FROM ivf_stream").collect():
        got[r["query_id"]] = [(n["rank"], n["neighbor_id"], n["score"])
                              for n in r["neighbors"]]
    assert got == want


def test_stream_encoding_anomalies_matches_batch(spark, tmp_path):
    """The stateless streaming damage detector must emit exactly the
    batch per-doc flags relation's flagged subset on the same docs."""
    from resin_spark.operators import health
    from resin_spark.streaming import quality as q

    t = load_tables(spark, SF)
    corrupted = health.corrupt_demo_docs(
        t["documents"].filter(F.col("doc_id").isNotNull()))
    src_dir = tmp_path / "docs_in"
    corrupted.write.parquet(str(src_dir))

    flags = health.encoding_anomaly_flags(corrupted)
    batch = {tuple(r) for r in flags.filter(
        F.col("n_repl") + F.col("n_ctrl") + F.col("n_moji") > 0).collect()}
    assert batch  # the demo corruption must actually flag docs

    sq = (
        q.stream_encoding_anomalies(spark, str(src_dir))
        .writeStream.format("memory")
        .queryName("anom_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_anom"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {tuple(r) for r in spark.sql("SELECT * FROM anom_stream").collect()}
    assert got == batch


def test_stream_cdc_flags_matches_batch(spark, tmp_path):
    """Streaming chunk classification against a frozen standing corpus
    must equal the batch chunk relation joined to the same set."""
    from resin_spark.operators.traindata import cdc_chunks
    from resin_spark.streaming import quality as q

    docs = load_tables(spark, SF)["documents"].filter(
        F.col("doc_id").isNotNull())
    # standing = even docs; stream = odd docs (the D7 parity split)
    standing = docs.filter(F.col("doc_id") % 2 == 0)
    arriving = docs.filter(F.col("doc_id") % 2 == 1)
    src_dir = tmp_path / "docs_in"
    arriving.write.parquet(str(src_dir))

    known = {r["ch"] for r in
             cdc_chunks(standing).select("ch").distinct().collect()}
    batch = {(r["doc_id"], r["chunk_no"], r["ch"], r["ch"] in known)
             for r in cdc_chunks(arriving).collect()}
    assert batch and any(f for *_, f in batch)  # real cross-set hits

    sq = (
        q.stream_cdc_flags(spark, str(src_dir), standing)
        .writeStream.format("memory")
        .queryName("cdc_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {tuple(r) for r in spark.sql("SELECT * FROM cdc_stream").collect()}
    assert got == batch


def test_stream_apply_mixture_matches_batch(spark, tmp_path):
    """Streaming plan execution must assign the exact copy counts the
    batch operator assigns at the same frozen plan."""
    from resin_spark.operators import pipeline as pl
    from resin_spark.streaming import quality as q

    docs = load_tables(spark, SF)["documents"].filter(
        "doc_id IS NOT NULL")
    src_dir = tmp_path / "mix_in"
    src_dir.mkdir()
    docs.coalesce(2).write.mode("overwrite").parquet(str(src_dir / "p"))

    batch = {r["doc_id"]: (r["source"], r["n_copies"])
             for r in pl.apply_mixture(docs).collect()}
    plan = pl.mixture_plan(docs).select("source", "sampling_rate")

    sq = (
        q.stream_apply_mixture(spark, str(src_dir / "p"), plan)
        .writeStream.format("memory")
        .queryName("mix_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_mix"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: (r["source"], r["n_copies"])
           for r in spark.sql("SELECT * FROM mix_stream").collect()}
    assert got == batch and got
    assert any(c == 0 for _, c in got.values()) or \
        all(c >= 1 for _, c in got.values())


def test_stream_split_assign_matches_batch(spark, tmp_path):
    """Streaming split labels must equal the batch split_of expression
    doc-for-doc regardless of shard layout (2 files, 1 per trigger)."""
    from resin_spark.operators import pipeline as pl
    from resin_spark.streaming import quality as q

    docs = load_tables(spark, SF)["documents"].filter("doc_id IS NOT NULL")
    src_dir = tmp_path / "split_in"
    src_dir.mkdir()
    docs.coalesce(2).write.mode("overwrite").parquet(str(src_dir / "p"))

    batch = {r["doc_id"]: (r["source"], r["split"])
             for r in docs.select(
                 "doc_id", "source",
                 pl.split_of(F.col("doc_id")).alias("split")).collect()}

    sq = (
        q.stream_split_assign(spark, str(src_dir / "p"))
        .writeStream.format("memory")
        .queryName("split_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_split"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: (r["source"], r["split"])
           for r in spark.sql("SELECT * FROM split_stream").collect()}
    assert got == batch and got
    # and the realised split set is non-degenerate on real data
    assert {s for _, s in got.values()} == {"train", "val", "test"}


def test_stream_mm_meta_matches_batch(spark, tmp_path):
    """Streaming payload metadata must equal batch mm_binary_meta
    row-for-row on a non-null corpus, at any shard layout."""
    import hashlib

    from resin_spark.operators import multimodal as mm
    from resin_spark.streaming import quality as q

    docs = load_tables(spark, SF)["documents"].filter(
        "doc_id IS NOT NULL AND text IS NOT NULL")
    src_dir = tmp_path / "mm_in"
    src_dir.mkdir()
    docs.coalesce(2).write.mode("overwrite").parquet(str(src_dir / "p"))

    batch = {r["doc_id"]: (r["n_bytes"], r["format"], r["width"],
                           r["height"], r["checksum"])
             for r in mm.binary_meta({"documents": docs}).collect()}

    sq = (
        q.stream_mm_meta(spark, str(src_dir / "p"))
        .writeStream.format("memory")
        .queryName("mm_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_mm"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["doc_id"]: (r["n_bytes"], r["format"], r["width"],
                         r["height"], r["checksum"])
           for r in spark.sql("SELECT * FROM mm_stream").collect()}
    assert got == batch and got

    # NULL-text payload: the twin applies the adjudicated coalesce
    # semantics (empty payload) instead of the batch path's deferred
    # r7 hole
    null_doc = spark.createDataFrame(
        [(99, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long")
    row = mm.payload_meta_frame(null_doc).collect()[0]
    assert row["n_bytes"] == 0
    assert row["checksum"] == hashlib.md5(b"").hexdigest()


def test_stream_shard_manifest_matches_batch(spark, tmp_path):
    """The complete-mode manifest state after draining the directory
    must equal the batch manifest row-for-row — XOR/sum/count merges
    are arrival-order-free by algebra, pinned here across a 3-file
    split (one file per trigger)."""
    from resin_spark.operators import traindata as td
    from resin_spark.streaming import quality as q

    docs = load_tables(spark, SF)["documents"].filter("doc_id IS NOT NULL")
    src_dir = tmp_path / "manifest_in"
    src_dir.mkdir()
    docs.coalesce(3).write.mode("overwrite").parquet(str(src_dir / "p"))

    batch = {r["shard"]: (r["n_docs"], r["n_chars"], r["content_sig"])
             for r in td.shard_manifest({"documents": docs}).collect()}

    sq = (
        q.stream_shard_manifest(spark, str(src_dir / "p"))
        .writeStream.format("memory")
        .queryName("manifest_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_manifest"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["shard"]: (r["n_docs"], r["n_chars"], r["content_sig"])
           for r in spark.sql("SELECT * FROM manifest_stream").collect()}
    assert got == batch and got


# --- WARC source ------------------------------------------------------------------


def _warc_record(wtype, uri, payload, extra=()):
    h = [b"WARC/1.0",
         b"WARC-Type: " + wtype.encode(),
         b"WARC-Date: 2026-01-01T00:00:00Z",
         b"Content-Length: " + str(len(payload)).encode()]
    if uri is not None:
        h.append(b"WARC-Target-URI: " + uri.encode())
    h.extend(extra)
    return b"\r\n".join(h) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def test_read_warc_plain_and_member_gzip(spark, tmp_path):
    import gzip

    from resin_spark.io import read_warc

    body = b"HTTP/1.1 200 OK\r\n\r\n<html>hello</html>"
    recs = [
        _warc_record("warcinfo", None, b"robots: classic\r\n"),
        _warc_record("response", "https://example.com/a", body,
                     extra=[b"Content-Type: application/http;msgtype=response"]),
        _warc_record("request", "https://example.com/a", b"GET /a HTTP/1.1"),
        _warc_record("response", "https://example.com/b", b"payload-b"),
    ]
    raw = b"".join(recs)
    (tmp_path / "plain").mkdir()
    (tmp_path / "plain" / "seg.warc").write_bytes(raw)
    # Common Crawl member-per-record gzip: one gzip member per record
    (tmp_path / "gz").mkdir()
    (tmp_path / "gz" / "seg.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs))

    for sub in ("plain", "gz"):
        out = {r["target_uri"]: r for r in read_warc(
            spark, str(tmp_path / sub)).collect()}
        assert set(out) == {"https://example.com/a", "https://example.com/b"}
        a = out["https://example.com/a"]
        assert bytes(a["payload"]) == body and a["n_bytes"] == len(body)
        assert a["warc_type"] == "response"
        assert a["content_type"] == "application/http;msgtype=response"
        assert a["warc_date"] == "2026-01-01T00:00:00Z"

    # warc_types=None keeps every record, including the uri-less warcinfo
    allrecs = read_warc(spark, str(tmp_path / "plain"), warc_types=None) \
        .collect()
    assert len(allrecs) == 4
    assert sum(1 for r in allrecs if r["target_uri"] is None) == 1


def test_read_warc_rejects_corrupt_framing(spark, tmp_path):
    import pytest as _pytest

    from resin_spark.io import read_warc

    (tmp_path / "bad").mkdir()
    (tmp_path / "bad" / "seg.warc").write_bytes(
        b"GARBAGE/1.0\r\nContent-Length: 3\r\n\r\nabc\r\n\r\n")
    with _pytest.raises(Exception, match="not a WARC record"):
        read_warc(spark, str(tmp_path / "bad")).collect()


def test_warc_extract_text_end_to_end(spark, tmp_path):
    """Common Crawl shape end-to-end: WARC bytes -> extracted documents
    frame -> an existing pipeline op runs on it unchanged."""
    import gzip

    from resin_spark.io import read_warc
    from resin_spark.operators import extract

    html = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n\r\n"
            b"<html><head><title>T</title><style>p{color:red}</style>"
            b"<script>var x = 'ignored';</script></head>"
            b"<body><h1>Caf\xc3\xa9 &amp; bar</h1>"
            b"<p>hello <b>world</b></p><noscript>no</noscript></body></html>")
    recs = [
        _warc_record("response", "https://example.com/page", html,
                     extra=[b"Content-Type: application/http;msgtype=response"]),
        _warc_record("response", "https://example.com/bare",
                     b"just plain bytes, no http envelope"),
    ]
    (tmp_path / "w").mkdir()
    (tmp_path / "w" / "seg.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs))

    docs = extract.warc_extract_text(read_warc(spark, str(tmp_path / "w")))
    rows = {r["url"]: r for r in docs.collect()}
    page = rows["https://example.com/page"]
    # tags stripped, script/style/noscript suppressed, entities decoded,
    # charset honoured, whitespace normalised
    assert page["text"] == "T Café & bar hello world"
    assert page["n_chars"] == len("T Café & bar hello world")
    assert rows["https://example.com/bare"]["text"] == \
        "just plain bytes, no http envelope"
    assert page["source"] == "warc" and page["doc_id"] is not None

    # deterministic ids: the same input re-extracts to the same ids
    again = {r["url"]: r["doc_id"] for r in extract.warc_extract_text(
        read_warc(spark, str(tmp_path / "w"))).collect()}
    assert again == {u: r["doc_id"] for u, r in rows.items()}

    # and the frame feeds an existing operator untouched
    from resin_spark.operators.textops import quality_score
    q = quality_score({"documents": docs}).collect()
    assert {r["doc_id"] for r in q} == {r["doc_id"] for r in rows.values()}


def test_html_to_text_scalar_cases():
    from resin_spark.operators.extract import html_to_text

    assert html_to_text("<p>a</p><p>b</p>") == "a b"
    assert html_to_text("x &lt;tag&gt; &#233;") == "x <tag> é"
    assert html_to_text("<script>a</script>visible<style>b</style>") == \
        "visible"
    assert html_to_text("<script><script>nested</script>out?</script>") \
        .strip() in ("", "out?")  # parser-defined nesting; never leaks 'nested'
    assert html_to_text("") == ""


def test_stream_warc_ingest_matches_batch(spark, tmp_path):
    """The streaming ingest head must produce exactly the batch
    read_warc -> warc_extract_text rows, across a 2-segment arrival."""
    import gzip

    from resin_spark.io import read_warc
    from resin_spark.operators import extract
    from resin_spark.streaming import quality as q

    seg1 = gzip.compress(_warc_record(
        "response", "https://example.com/a",
        b"HTTP/1.1 200 OK\r\n\r\n<p>alpha beta</p>"))
    seg2 = (gzip.compress(_warc_record(
                "request", "https://example.com/a", b"GET /a"))
            + gzip.compress(_warc_record(
                "response", "https://example.com/b",
                b"HTTP/1.1 200 OK\r\n\r\n<p>gamma</p>")))
    (tmp_path / "wi").mkdir()
    (tmp_path / "wi" / "seg1.warc.gz").write_bytes(seg1)
    (tmp_path / "wi" / "seg2.warc.gz").write_bytes(seg2)

    batch = {r["url"]: (r["doc_id"], r["text"], r["n_chars"], r["source"])
             for r in extract.warc_extract_text(
                 read_warc(spark, str(tmp_path / "wi"))).collect()}

    sq = (
        q.stream_warc_ingest(spark, str(tmp_path / "wi"))
        .writeStream.format("memory")
        .queryName("warc_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_warc"))
        .start()
    )
    assert sq.awaitTermination(120), "stream did not drain (overloaded machine?)"
    got = {r["url"]: (r["doc_id"], r["text"], r["n_chars"], r["source"])
           for r in spark.sql("SELECT * FROM warc_stream").collect()}
    assert got == batch
    assert set(got) == {"https://example.com/a", "https://example.com/b"}


def test_url_normalize_and_dedup_card(spark):
    from resin_spark.operators.extract import url_dedup_card, url_normalize

    cases = [
        # lowercased authority, fragment gone, utm stripped, path case kept
        ("HTTPS://Example.COM/Path?utm_source=x&a=1#frag",
         "https://example.com/Path?a=1"),
        # tracking param in the middle: separators tidied
        ("http://a.com/p?a=1&fbclid=q&b=2", "http://a.com/p?a=1&b=2"),
        # only tracking params: query and trailing slash collapse away
        ("http://a.com/?utm_campaign=z", "http://a.com"),
        # plain trailing slash
        ("http://a.com/dir/", "http://a.com/dir"),
        # param order preserved (deliberately NOT sorted)
        ("http://a.com/p?b=2&a=1", "http://a.com/p?b=2&a=1"),
        # gclid first in query
        ("http://a.com/p?gclid=g&x=1", "http://a.com/p?x=1"),
        # non-absolute strings pass through trimmed
        ("  not a url  ", "not a url"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["n"] for r in
           df.select(url_normalize(F.col("url")).alias("n")).collect()]
    assert got == [want for _, want in cases]

    # the card: one host serving one resource under 4 spellings
    urls = ["https://B.com/x?utm_source=1", "https://b.com/x",
            "https://b.com/x#top", "https://b.com/x?utm_medium=m",
            "https://c.com/only"]
    card = {r["host"]: r for r in url_dedup_card(
        spark.createDataFrame([(u,) for u in urls], "url string")).collect()}
    assert card["b.com"]["n_urls"] == 4
    assert card["b.com"]["n_canonical"] == 1
    assert card["b.com"]["dup_share"] == 0.75
    assert card["c.com"]["n_canonical"] == 1 and card["c.com"]["dup_share"] == 0.0
