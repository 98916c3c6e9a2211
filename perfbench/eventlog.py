"""Attribute a Spark event log to the benchmark's spans.

Input is one uncompressed, non-rolling event log (JSON lines, as written
with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``). Each span is one call into a
layer's public function, run under its own job group; a job is charged
to the span whose group it carries, or, when a library thread dropped
the group, to the span whose wall interval contains its submission.
"""

from __future__ import annotations

import json
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from stats import interval_union

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
ROWS = "number of output rows"
FILES_READ = "size of files read"
FILES_WRITTEN = "number of written files"
_RDD_BLOCK = re.compile(r"^rdd_\d+_\d+$")


@dataclass
class Span:
    name: str
    group: str
    start: float  # epoch seconds
    end: float


@dataclass
class Job:
    job_id: int
    group: str | None
    execution: str | None
    submit: float
    call_site: str = ""
    end: float | None = None
    stages: list = field(default_factory=list)


@dataclass
class Log:
    jobs: dict = field(default_factory=dict)          # job id -> Job
    stage_job: dict = field(default_factory=dict)     # stage id -> job id
    stage: dict = field(default_factory=lambda: defaultdict(Counter))
    # execution id -> driver-side SQL metrics: bytes of the files a scan
    # selected after partition pruning, files a write committed
    execution: dict = field(default_factory=lambda: defaultdict(Counter))
    cached: list = field(default_factory=list)        # (time, rdd bytes held)


def _task_counts(e: dict, row_updates: list) -> Counter:
    m, info = e.get("Task Metrics") or {}, e["Task Info"]
    c = Counter(tasks=1)
    if m:
        sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
        c.update({
            "run_ms": m["Executor Run Time"], "cpu_ns": m["Executor CPU Time"],
            "gc_ms": m["JVM GC Time"],
            "in_records": m["Input Metrics"]["Records Read"],
            "out_bytes": m["Output Metrics"]["Bytes Written"],
            "sh_read": sr["Remote Bytes Read"] + sr["Local Bytes Read"],
            "fetch_ms": sr["Fetch Wait Time"],
            "sh_write": sw["Shuffle Bytes Written"],
            "spill": m["Disk Bytes Spilled"],
        })
    for a in info.get("Accumulables", []):
        name, upd = a.get("Name"), a.get("Update")
        if upd is None:
            continue
        if name in (PY_SENT, PY_RETURNED):
            c["py_bytes"] += int(upd)
        elif name == PY_RUN:
            c["py_ms"] += int(upd)
        elif name == ROWS:
            row_updates.append((e["Stage ID"], a["ID"], int(upd)))
    return c


def _plan_metrics(plan: dict, names: dict, py_rows: set) -> None:
    ids = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    for name, acc in ids.items():
        names[acc] = name
    if PY_SENT in ids and ROWS in ids:
        py_rows.add(ids[ROWS])
    for child in plan.get("children", []):
        _plan_metrics(child, names, py_rows)


def parse(lines) -> Log:
    """Fold an event log's lines into per-job, per-stage counters."""
    log = Log()
    names: dict = {}
    py_rows: set = set()
    row_updates: list = []
    held: dict = {}
    now = 0.0
    for line in lines:
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos") or [{}]
            now = e["Submission Time"] / 1000
            job = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                      props.get("spark.sql.execution.id"), now,
                      infos[0].get("Stage Name", ""), stages=list(e["Stage IDs"]))
            log.jobs[job.job_id] = job
            for s in job.stages:
                log.stage_job.setdefault(s, job.job_id)
        elif ev == "SparkListenerJobEnd":
            now = e["Completion Time"] / 1000
            if e["Job ID"] in log.jobs:
                log.jobs[e["Job ID"]].end = now
        elif ev == "SparkListenerTaskEnd":
            now = max(now, e["Task Info"]["Finish Time"] / 1000)
            log.stage[e["Stage ID"]].update(_task_counts(e, row_updates))
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], names, py_rows)
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                if names.get(acc) in (FILES_READ, FILES_WRITTEN):
                    log.execution[str(e["executionId"])][names[acc]] += value
        elif ev == "SparkListenerBlockUpdated":
            b = e["Block Updated Info"]
            if _RDD_BLOCK.match(b["Block ID"]):
                held[b["Block ID"]] = b["Memory Size"]
                log.cached.append((now, sum(held.values())))
    for stage, acc, upd in row_updates:
        if acc in py_rows:
            log.stage[stage]["py_rows"] += upd
    return log


def attribute(log: Log, spans: list[Span]) -> tuple[dict, int]:
    """Charge every job to one span. Returns ({span index: [Job]},
    [the jobs no span claims])."""
    by_group = {s.group: i for i, s in enumerate(spans)}
    owned: dict = defaultdict(list)
    lost = []
    for job in log.jobs.values():
        i = by_group.get(job.group)
        if i is None:
            i = next((k for k, s in enumerate(spans)
                      if s.start <= job.submit <= s.end), None)
        if i is None:
            lost.append(job)
        else:
            owned[i].append(job)
    return owned, lost


def layer_metrics(log: Log, span: Span, jobs: list, cores: int) -> dict:
    """One span's layer counters from the jobs charged to it."""
    wall = span.end - span.start
    stages = {s for j in jobs for s in j.stages if s in log.stage
              and log.stage_job.get(s) == j.job_id}
    c = Counter()
    for s in stages:
        c.update(log.stage[s])
    windows = [(max(j.submit, span.start), min(j.end or span.end, span.end))
               for j in jobs]
    x = Counter()
    for e in {j.execution for j in jobs if j.execution is not None}:
        x.update(log.execution.get(e, {}))
    before = [b for t, b in log.cached if t < span.start]
    held = before[-1:] + [b for t, b in log.cached if span.start <= t <= span.end]
    run_s = c["run_ms"] / 1000
    return {
        "driver.jobs": len(jobs),
        "driver.stages": len(stages),
        "driver.tasks": c["tasks"],
        "driver.gap_s": wall - interval_union(w for w in windows if w[1] > w[0]),
        "driver.first_job_s": (min(j.submit for j in jobs) - span.start) if jobs else wall,
        "scan.bytes": x[FILES_READ],
        "scan.records": c["in_records"],
        "write.bytes": c["out_bytes"],
        "write.files": x[FILES_WRITTEN],
        "shuffle.write_bytes": c["sh_write"],
        "shuffle.read_bytes": c["sh_read"],
        "shuffle.spill_bytes": c["spill"],
        "shuffle.fetch_wait_s": c["fetch_ms"] / 1000,
        "executor.run_s": run_s,
        "executor.cpu_s": c["cpu_ns"] / 1e9,
        "executor.gc_s": c["gc_ms"] / 1000,
        "executor.busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "arrow.rows": c["py_rows"],
        "arrow.bytes": c["py_bytes"],
        "arrow.udf_s": c["py_ms"] / 1000,
        "ckpt.cached_bytes_peak": max(held, default=0),
    }


def read_log(path: str) -> Log:
    with open(path) as fh:
        return parse(fh)
