"""Tests of the benchmark's pure parts: event-log attribution and seeded
input generation.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import eventlog
import gen
from stats import interval_union


def _task(stage, run_ms, accs=(), records=0, sh_write=0, written=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Finish Time": 0, "Accumulables": [
            {"ID": i, "Name": n, "Update": str(u)} for i, n, u in accs]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 0, "Records Read": records},
            "Output Metrics": {"Bytes Written": written, "Records Written": 0},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7,
                                     "Fetch Wait Time": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sh_write},
        },
    }


def _job(job_id, submit_ms, stages, group=None, execution="0"):
    props = {"spark.sql.execution.id": execution}
    if group:
        props["spark.jobGroup.id"] = group
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": submit_ms, "Stage IDs": stages, "Properties": props}


def _end(job_id, ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": ms}


def _block(block, mem):
    return {"Event": "SparkListenerBlockUpdated",
            "Block Updated Info": {"Block ID": block, "Memory Size": mem}}


PLAN = {"nodeName": "Project", "metrics": [
    {"name": "number of output rows", "accumulatorId": 7}], "children": [
    {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 5},
        {"name": "number of output rows", "accumulatorId": 6}]},
    {"nodeName": "FileScan", "children": [],
     "metrics": [{"name": "size of files read", "accumulatorId": 10}]},
    {"nodeName": "Execute InsertIntoHadoopFsRelationCommand", "children": [],
     "metrics": [{"name": "number of written files", "accumulatorId": 12}]},
]}

# Two driver threads: job 0 runs in span "g1"'s job group; job 1 was
# submitted from a pool thread that dropped the group, overlapping job 0;
# job 2 runs after every span ends.
EVENTS = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0, "sparkPlanInfo": PLAN},
    _job(0, 1000, [0, 1], group="g1"),
    _job(1, 1500, [2]),
    _block("rdd_3_0", 100), _block("broadcast_1", 10_000), _block("rdd_3_1", 50),
    _task(0, 400, accs=[(6, "number of output rows", 100),
                        (7, "number of output rows", 999),
                        (5, "data sent to Python workers", 4096),
                        (11, "time to run Python workers", 300)], records=100),
    _task(0, 400, records=20, written=512),
    _task(2, 200, sh_write=64),
    _block("rdd_3_0", 0),
    _end(1, 2500), _end(0, 3000),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 0, "accumUpdates": [[10, 2048], [12, 3]]},
    _job(2, 9000, [3], execution="1"),
    _end(2, 9500),
]


def _parsed():
    return eventlog.parse(json.dumps(e) for e in EVENTS)


def test_pool_thread_job_is_charged_by_time_and_gap_uses_union():
    log = _parsed()
    span = eventlog.Span("dedup.minhash_lsh_pairs", "g1", 0.9, 3.5)
    owned, lost = eventlog.attribute(log, [span])
    assert sorted(j.job_id for j in owned[0]) == [0, 1]
    assert [j.job_id for j in lost] == [2]  # job 2 ran outside every span
    m = eventlog.layer_metrics(log, span, owned[0], cores=4)
    assert m["driver.jobs"] == 2
    # stage 1 was listed but never ran a task
    assert m["driver.stages"] == 2 and m["driver.tasks"] == 3
    # wall 2.6 s minus the union [1.0, 3.0] of the overlapping jobs
    assert abs(m["driver.gap_s"] - 0.6) < 1e-9
    assert abs(m["driver.first_job_s"] - 0.1) < 1e-9
    assert abs(m["executor.run_s"] - 1.0) < 1e-9
    assert abs(m["executor.busy_frac"] - 1.0 / (2.6 * 4)) < 1e-9
    assert m["scan.records"] == 120 and m["scan.bytes"] == 2048
    assert m["shuffle.write_bytes"] == 64 and m["shuffle.read_bytes"] == 21
    assert m["write.bytes"] == 512 and m["write.files"] == 3
    # only the Python node's output rows count as rows shipped to Python
    assert m["arrow.rows"] == 100 and m["arrow.bytes"] == 4096
    assert abs(m["arrow.udf_s"] - 0.3) < 1e-9
    # rdd blocks only: 100 + 50 held at once, broadcast ignored
    assert m["ckpt.cached_bytes_peak"] == 150


def test_group_wins_over_time():
    log = _parsed()
    early = eventlog.Span("a", "other", 0.0, 2.0)   # contains job 1's submit
    grouped = eventlog.Span("b", "g1", 5.0, 6.0)    # job 0's group, not its time
    owned, _ = eventlog.attribute(log, [early, grouped])
    assert [j.job_id for j in owned[1]] == [0]
    assert [j.job_id for j in owned[0]] == [1]


def test_interval_union():
    assert interval_union([]) == 0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert interval_union([(1, 2), (0, 10)]) == 10


def _digests(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def test_seed_gives_identical_parquet_bytes(tmp_path):
    for workload in ("curate", "kv"):
        a, b, c = (str(tmp_path / f"{workload}{i}") for i in range(3))
        gen.generate(workload, 7, a)
        gen.generate(workload, 7, b)
        gen.generate(workload, 8, c)
        da, db, dc = _digests(a), _digests(b), _digests(c)
        assert da == db
        assert da.keys() == dc.keys()
        # every table that depends on the seed changes with it
        assert {f for f in da if da[f] != dc[f]} >= {
            "curate": {"documents.parquet"},
            "kv": {"orders.parquet", "lineitem.parquet", "kv_dups.parquet"},
        }[workload]


def test_near_duplicates_stay_far_above_the_jaccard_threshold():
    import numpy as np
    texts = gen._docs(np.random.default_rng(5)).column("text").to_pylist()

    def grams(t):
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    base = [grams(t) for t in texts[:gen.N_DOCS]]
    owners: dict = {}
    for i, g in enumerate(base):
        for s in g:
            owners.setdefault(s, []).append(i)
    copies = texts[gen.N_DOCS:]
    assert len(copies) == int(gen.N_DOCS * gen.DUP_SHARE)
    for t in copies:
        g = grams(t)
        shared = Counter(i for s in g for i in owners.get(s, ()))
        src = base[shared.most_common(1)[0][0]]
        assert len(g & src) / len(g | src) >= 0.85


def test_curate_docs_are_sf01_rows_plus_edited_copies():
    import numpy as np
    import pyarrow.parquet as pq
    src = {r["doc_id"]: r for r in pq.read_table(gen.DOCUMENTS).to_pylist()}
    docs = gen._docs(np.random.default_rng(5)).to_pylist()
    base, copies = docs[:gen.N_DOCS], docs[gen.N_DOCS:]
    assert all(src[d["doc_id"]] == d for d in base)
    assert all(d["doc_id"] not in src for d in copies)
    # every copy is edited: a near duplicate, never an exact one
    assert not {c["text"] for c in copies} & {d["text"] for d in base}
    assert set(gen.vocabulary(c["text"] for c in copies)) <= set(
        gen.vocabulary(d["text"] for d in base))


def test_oracle_check_allows_only_last_bit_double_differences(tmp_path):
    from pyspark.sql import Row

    import checks
    check = checks.Oracle(str(tmp_path)).sql(
        "SELECT * FROM (VALUES (1, 21.187864778168738::DOUBLE), (2, 3.5::DOUBLE))"
        " AS t(rank, score)")
    assert check([Row(score=3.5, rank=2), Row(score=21.187864778168734, rank=1)]) is None
    assert check([Row(score=3.5, rank=2), Row(score=21.1878647782, rank=1)])
    assert check([Row(score=3.5, rank=2)])
