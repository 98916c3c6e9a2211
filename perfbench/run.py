"""Layered benchmark of resin_spark: seeded workloads, one process,
``local[nproc]``, session from ``resin_spark.session.get_spark``.

    python3 perfbench/run.py --workload {curate,kv} --seed N \\
        --seconds S --trace {0,1}

One run: generate the seed's inputs (untimed), set up the session
``N_SETUPS`` times (``setup_s`` is their median), then run the cold
pass: the first pass of the fresh session, which collects every op's
output (checked after it, untimed). Warm passes follow until
``--seconds`` have passed since the cold pass began and the session has
run ``PASSES`` passes; ``pass_s`` is the mean wall time of those first
``PASSES``. Both times are scaled to a reference host speed (see
``PASS_PROBES``).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
warm passes once untraced
and once traced (event log on, one job group per op call) and prints
the per-layer metrics. The last stdout line is the JSON result; the line
before it holds the per-op detail.

Spark configuration the library does not own (executor ``PYTHONPATH``,
warehouse, local and temp dirs, the event log) is injected from here.
Everything the run writes lives in one temp dir under the checkout,
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import gen  # noqa: E402
import kernels  # noqa: E402
import workloads  # noqa: E402
from stats import median  # noqa: E402

WORKLOADS = ("curate", "kv")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
# the first set-up starts the JVM; the others restart the SparkContext
# in it, and their median is setup_s
N_SETUPS = 3
# pass_s is the mean wall time of a fresh session's first PASSES passes:
# the cold pass, then warm ones. A warm pass alone is no steady measure:
# the JVM keeps warming for many passes (a pass's CPU seconds fall
# twofold to threefold over six), and how fast it warms varies from JVM
# to JVM and with the host's load, so over ten seeds the median of a
# run's first three warm passes spread 20-50%. The count is fixed, so
# every run averages the same stretch of warm-up; it fills 20-50 s
TRACE_PASSES = 3
PASSES = {"curate": 3, "kv": 5}
# setup_s and pass_s are scaled to a reference host speed. The host's
# speed drifts by up to 1.7x within minutes, and the wall and CPU time of
# a pass move with it in step (the ratio of CPU time to wall time stays
# put), so unscaled times spread as far as the host drifts. The speed is
# the mean time of a fixed pure-Python loop run PASS_PROBES times right
# after each pass: probes nearest in time to the passes tracked the host
# best (over ten seeds on a slow host, scaling by them cut the spread of
# pass_s to 0.10, where probes taken before the JVM started and after it
# ended left 0.12-0.25). A pass's time is its wall time times
# REF_PROBE_S over the mean of its own probes, setup_s's over the mean
# of all of them; REF_PROBE_S is a round figure near the loop's mean on
# a 4-vCPU 2.0 GHz VM (0.047 s)
PASS_PROBES = 5
REF_PROBE_S = 0.05
SETUP_GROUP = "pb-setup"
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")


# --- process tree: peak RSS and shutdown ------------------------------------

def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out[1:]


def _rss(pids) -> int:
    page, total = os.sysconf("SC_PAGE_SIZE"), 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    ended and reaped children included."""
    me, total = os.getpid(), 0
    for p in (me, *descendants(me)):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def probe_s() -> float:
    """Seconds one fixed pure-Python loop takes on this host now."""
    t0, x = time.perf_counter(), 0
    for i in range(700_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t0


class RssSampler:
    """Peak RSS of this process and every descendant (JVM, Python
    workers), sampled while it runs."""

    def __init__(self, every: float = 0.25):
        self.every, self.peak = every, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _rss([me, *descendants(me)]))
            self._stop.wait(self.every)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark() -> None:
    """Stop the session, then the JVM, then wait for every process the
    run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = descendants(os.getpid())
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# --- session -----------------------------------------------------------------

def configure(tmp: str) -> None:
    """Environment for the JVM the first session launches."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # executors import the package whatever the driver's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # at get_spark's 8g default the JVM grew to 3.3-5.7 GB per run, and
    # peak_rss_mb with it, as G1 expanded the heap lazily; a 3g heap keeps
    # the footprint small and steady. The variable is get_spark's own
    os.environ["RESIN_SPARK_DRIVER_MEM"] = "3g"
    for d in ("warehouse", "local", "jtmp", "scratch"):
        os.makedirs(f"{tmp}/{d}", exist_ok=True)
    # no JVM of the run (spark-submit's launcher included) writes
    # /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    q = shlex.quote
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", q(f"spark.sql.warehouse.dir={tmp}/warehouse"),
        "--conf", q(f"spark.local.dir={tmp}/local"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", q(f"-Djava.io.tmpdir={tmp}/jtmp -XX:-UsePerfData"),
        "pyspark-shell",
    ])


def event_log_conf(events_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{events_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


@contextlib.contextmanager
def job_group(sc, group: str, description: str):
    """Run the block's Spark jobs under ``group``, then clear it."""
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def new_session(in_dir: str):
    """One set-up: session, lazy table load, and a warm-up scan of every
    input table (under its own job group, which the trace leaves out)."""
    from resin_spark.io import load_tables
    from resin_spark.session import get_spark
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tables = load_tables(spark, in_dir)
    with job_group(spark.sparkContext, SETUP_GROUP, "perfbench set-up"):
        for f in sorted(os.listdir(in_dir)):
            spark.read.parquet(f"{in_dir}/{f}").count()
    return spark, tables


# --- passes ------------------------------------------------------------------

class Runner:
    def __init__(self, workload: str, ctx: workloads.Context, err):
        self.workload, self.ctx, self.err = workload, ctx, err
        self.ops = workloads.build(workload, ctx)
        self.attempted = self.failed = 0

    def rebind(self, spark, tables) -> None:
        self.ctx.spark, self.ctx.tables = spark, tables
        self.ops = workloads.build(self.workload, self.ctx)

    def run_pass(self, mode: str, spans: list | None = None) -> dict:
        """``mode``: "check" collects outputs; "timed" forces them with a
        noop write. With ``spans``, each op call runs in its own job
        group and is recorded as a span."""
        sc = self.ctx.spark.sparkContext
        gc.collect()
        record = {"ops": [], "rows": []}
        cpu0 = tree_cpu_s()
        t_pass = time.time()
        for op in self.ops:
            group = f"pb-{len(spans)}" if spans is not None else None
            self.attempted += 1
            rows, ok = None, True
            t0 = time.time()
            with job_group(sc, group, op.name) if group else contextlib.nullcontext():
                try:
                    out = op.call()  # None when the op writes its own output
                    if out is not None and mode == "check":
                        rows = out.collect()
                    elif out is not None:
                        out.write.format("noop").mode("overwrite").save()
                except Exception:
                    ok = False
                    self.failed += 1
                    self.err.write(f"op {op.name} FAILED ({mode} pass):\n"
                                   f"{traceback.format_exc()}\n")
            t1 = time.time()
            if group:
                spans.append(eventlog.Span(op.name, group, t0, t1))
            record["ops"].append((op, t1 - t0, ok))
            record["rows"].append(rows)
        record["wall"] = time.time() - t_pass
        record["cpu"] = tree_cpu_s() - cpu0
        record["start"] = t_pass
        # host speed right after the pass, outside its wall time
        record["probes"] = [probe_s() for _ in range(PASS_PROBES)]
        return record

    def timed(self, seconds: float, min_passes: int,
              spans: list | None = None) -> list[dict]:
        passes, t0 = [], time.monotonic()
        while len(passes) < min_passes or time.monotonic() - t0 < seconds:
            passes.append(self.run_pass("timed", spans))
        return passes

    def check(self, record: dict) -> list[str]:
        wrong = []
        for (op, _, ok), rows in zip(record["ops"], record["rows"]):
            if not ok:
                continue
            try:
                msg = op.check(rows)
            except Exception:
                msg = f"check raised:\n{traceback.format_exc()}"
            if msg:
                wrong.append(f"{op.name}: {msg}")
        return wrong


def op_medians(passes: list) -> list:
    """(op, median seconds across passes) for each op of a pass."""
    return [(op, median(p["ops"][k][1] for p in passes))
            for k, (op, _, _) in enumerate(passes[0]["ops"])]


def host_probe_s(passes: list) -> float:
    probes = [t for p in passes for t in p["probes"]]
    return sum(probes) / len(probes)


def end_to_end(setups: list, passes: list, peak_rss: int) -> dict:
    """``passes``: a fresh session's first passes, the cold one first.
    Times are at the reference host speed (see PASS_PROBES): each pass's
    by the probes right after it, set-up's by all of them."""
    return {
        "setup_s": median(setups) * REF_PROBE_S / host_probe_s(passes),
        "pass_s": sum(p["wall"] * REF_PROBE_S / host_probe_s([p])
                      for p in passes) / len(passes),
        "peak_rss_mb": peak_rss / 2**20,
    }


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksums and markers
    left out)."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def probe_read_frac(ops: list, rows: list) -> float:
    """Bytes the probe ops read over the bytes of the indexes they read
    (0 without probe ops). ``rows`` holds each op's layer metrics."""
    probes = [(op, m) for op, m in zip(ops, rows) if op.reads_index]
    held = sum(dir_bytes(op.reads_index) for op, _ in probes)
    return sum(m["scan.bytes"] for _, m in probes) / held if held else 0.0


def per_layer(runner: Runner, passes: list, spans: list, log: eventlog.Log,
              untraced_warm_s: float, stderr_text: str,
              cores: int) -> tuple[dict, dict]:
    """Pass-level layer metrics (median over traced passes), per-op
    metrics and the trace's own qualifiers; returns (metrics, detail)."""
    log.jobs = {k: j for k, j in log.jobs.items() if j.group != SETUP_GROUP}
    owned, lost = eventlog.attribute(log, spans)
    per_op = len(runner.ops)
    pass_rows, op_rows = [], {}
    for p_i, rec in enumerate(passes):
        idx = range(p_i * per_op, (p_i + 1) * per_op)
        jobs = [j for i in idx for j in owned.get(i, ())]
        whole = eventlog.Span("pass", "", rec["start"], rec["start"] + rec["wall"])
        row = eventlog.layer_metrics(log, whole, jobs, cores)
        ops = [eventlog.layer_metrics(log, spans[i], owned.get(i, []), cores)
               for i in idx]
        row["scan.probe_read_frac"] = probe_read_frac(runner.ops, ops)
        pass_rows.append(row)
        for op, i, m in zip(runner.ops, idx, ops):
            m["s"] = spans[i].end - spans[i].start
            op_rows.setdefault(op.name, []).append(m)
    metrics = {k: median(r[k] for r in pass_rows) for k in pass_rows[0]}
    for name in workloads.OP_NAMES:
        rows = op_rows.get(name, [])
        metrics[f"op.{name}.s"] = median(r["s"] for r in rows)
        metrics[f"op.{name}.jobs"] = median(r["driver.jobs"] for r in rows)
    metrics["trace.overhead_s"] = median(p["wall"] for p in passes) - untraced_warm_s
    metrics["trace.unattributed_jobs"] = len(lost)
    metrics["trace.accumulator_errors"] = stderr_text.count("non-existent accumulator")
    metrics["trace.error_lines"] = sum(" ERROR " in ln for ln in stderr_text.splitlines())
    detail = {name: {k: median(r[k] for r in rows) for k in rows[0]}
              for name, rows in op_rows.items()}
    detail["unattributed"] = [(j.job_id, j.group, j.submit, j.call_site) for j in lost]
    return metrics, detail


# --- main --------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import resin_spark  # noqa: F401  (fail before any output without the program)

    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    os.makedirs(TMP_PARENT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP_PARENT)
    err = os.fdopen(os.dup(2), "w", buffering=1)
    stderr_path = f"{tmp}/stderr.log"
    try:
        extra = gen.generate(args.workload, args.seed, f"{tmp}/in")
        configure(tmp)
        # the JVM inherits fd 2: its log lands in a file the trace counts
        with open(stderr_path, "w") as log_fh:
            os.dup2(log_fh.fileno(), 2)
        try:
            result, detail = run(args, tmp, extra, err, stderr_path)
        finally:
            stop_spark()
            os.dup2(err.fileno(), 2)
            with open(stderr_path) as fh:
                err.write(fh.read())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.listdir(TMP_PARENT):
            os.rmdir(TMP_PARENT)
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, tmp: str, extra: dict, err, stderr_path: str) -> tuple[dict, dict]:
    in_dir = f"{tmp}/in"
    setups = []
    for i in range(N_SETUPS):
        if i:
            spark.stop()
        t0 = time.perf_counter()
        spark, tables = new_session(in_dir)
        setups.append(time.perf_counter() - t0)
    ctx = workloads.Context(spark, tables, in_dir, f"{tmp}/scratch", extra)
    runner = Runner(args.workload, ctx, err)
    clock = {"setup": sum(setups)}
    n_passes = PASSES[args.workload]
    # peak RSS spans the passes, not the checks (DuckDB runs in this
    # process)
    with RssSampler() as rss_cold:
        cold = runner.run_pass("check")
    t0 = time.perf_counter()
    wrong = runner.check(cold)
    clock["checks"] = time.perf_counter() - t0
    for w in wrong:
        err.write(f"WRONG {w}\n")

    with RssSampler() as rss_warm:
        warm = runner.timed(args.seconds - cold["wall"], n_passes - 1)
    passes = [cold, *warm]
    metrics = end_to_end(setups, passes[:n_passes],
                         max(rss_cold.peak, rss_warm.peak))
    detail: dict = {"passes": len(passes), "wrong": wrong,
                    "clock": clock, "setups": setups,
                    "setup_s_wall": median(setups),
                    "pass_s_wall": sum(p["wall"] for p in passes[:n_passes]) / n_passes,
                    "probe_s": host_probe_s(passes[:n_passes]),
                    "probes": [p["probes"] for p in passes],
                    "warm_pass_s": median(p["wall"] for p in warm),
                    "pass_walls": [p["wall"] for p in passes],
                    "pass_cpu": [p["cpu"] for p in passes],
                    "pass_op_s": [[dt for _, dt, _ in p["ops"]] for p in passes],
                    "warm_op_s": {op.name: s for op, s in op_medians(warm)}}

    if args.trace:
        events = f"{tmp}/events"
        os.makedirs(events, exist_ok=True)
        jvm = spark._jvm
        for k, v in event_log_conf(events).items():
            jvm.System.setProperty(k, v)
        spark.stop()
        spark, tables = new_session(in_dir)
        runner.rebind(spark, tables)
        spans: list = []
        traced = runner.timed(0, TRACE_PASSES, spans)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        log = eventlog.read_log(f"{events}/{app_id}")
        with open(stderr_path) as fh:
            stderr_text = fh.read()
        layer, detail["ops"] = per_layer(
            runner, traced, spans, log, detail["warm_pass_s"], stderr_text,
            int(os.environ["SPARK_GRAFT_CPUS"]))
        layer.update(kernels.rows_per_s(extra.get("texts", [])))
        out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": not wrong and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": out,
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
