"""Benchmark harness: times every queries() entry at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop-format write so every column
is computed on executors without driver-side collect overhead skewing
the timing.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pandas as pd
from pyspark.sql.functions import col, pandas_udf

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from resin_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    # no console progress bars: the JSON line is read from a bounded
    # tail of the output, and r4's progress noise truncated it. PySpark
    # launches its JVM as a shell, which turns them on unless the conf
    # is given at launch.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"))
    spark = get_spark("resin-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    # Warm the JVM, parquet footers, and the Arrow/Python worker pool once
    # so the first queries aren't charged for process start (steady-state
    # throughput is what the numbers are for).
    try:
        entry_mod.queries()["q1_pricing_summary"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()

        # the hints resolve against module globals (postponed
        # annotations), so pandas is imported at the top
        @pandas_udf("double")
        def _warm(x: pd.Series) -> pd.Series:
            return x * 1.0

        spark.range(0, 10000, 1, cpus).select(
            _warm(col("id").cast("double"))
        ).write.format("noop").mode("overwrite").save()
    except Exception as e:
        sys.stderr.write(f"warm-up FAILED: {e}\n")

    import gc

    # CONTROL probe (VERDICT r11 item 3): a fixed, AST-frozen,
    # pure-compute job (no I/O, no Python boundary) interleaved every
    # CONTROL_EVERY entries. Its dispersion across the sweep is the
    # run's own contention evidence: on a quiet host the samples are
    # flat; under host-level CPU steal they spread, and a noisy sweep
    # then carries the proof in its JSON line instead of needing
    # litigation from sidecar history. The probe is NOT a queries()
    # entry and its time is NOT included in `value`.
    def _control_sample() -> float:
        t0 = time.monotonic()
        # avg, NOT sum: xxhash64 is full-range int64, and summing 20M of
        # them overflows under ANSI mode (ARITHMETIC_OVERFLOW); avg's
        # double accumulator cannot overflow and costs the same hashing.
        spark.range(0, 20_000_000, 1, cpus).selectExpr(
            "avg(xxhash64(id)) as s"
        ).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    CONTROL_EVERY = 10
    control_samples: list[float] = []
    control_failed = 0

    def _control(keep: bool = True) -> None:
        nonlocal control_failed
        try:
            el = _control_sample()
        except Exception as e:
            control_failed += 1
            sys.stderr.write(f"control probe FAILED: {e}\n")
            return
        if keep:
            control_samples.append(el)

    _control(keep=False)  # one discarded warm run, same as queries
    _control()

    RUNS = 2  # min-of-N AFTER one discarded warm run: per-query steady
    # state, independent of dict position. Round 3 measured the warm-up
    # tax at up to 2.8x (dedup_minhash_lsh: 7.7s first-ever run vs 2.74s
    # steady; ann_topk_lsh 2.4s early-position vs 1.6s warm), so without
    # the discarded run the numbers rank queries by position, not cost.
    # Sub-3s entries take a THIRD timed run (VERDICT r8 item 5): the
    # r7/r8 driver artifacts show min-of-2 does not bound the GC/position
    # noise class on cheap entries (kv_paginate 0.79->7.98 s driver-side
    # vs 1.22 s isolated), and a third sample is cheap exactly where the
    # noise is worst.
    EXTRA_RUN_UNDER = 3.0
    timed_runs: dict[str, int] = {}
    for qi, (name, fn) in enumerate(queries.items()):
        if qi and qi % CONTROL_EVERY == 0:
            _control()
        # Release the previous query's lineage before timing this one:
        # localCheckpoint RDDs (dedup loops, PPJoin index) stay pinned in
        # executor memory until their Python DataFrames are collected, and
        # that accumulated state was measurably slowing late queries.
        gc.collect()
        best = None
        run, n_timed = 0, RUNS
        timed_runs[name] = RUNS
        while run <= n_timed:
            t0 = time.monotonic()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                el = time.monotonic() - t0
                if run > 0:  # run 0 is the discarded warm run
                    best = el if best is None else min(best, el)
                    if best < EXTRA_RUN_UNDER:
                        n_timed = RUNS + 1
                        timed_runs[name] = n_timed
            except Exception as e:  # keep benching; a failed query reports -1
                sys.stderr.write(f"{name} FAILED: {e}\n")
                best = -1.0
                timed_runs[name] = max(0, run - 1)
                break
            run += 1
        timings[name] = round(best, 3)

    _control()
    control = None
    if control_samples or control_failed:
        cs = sorted(control_samples)
        control = {
            "n": len(cs),
            "min": round(cs[0], 3) if cs else None,
            "med": round(cs[len(cs) // 2], 3) if cs else None,
            "max": round(cs[-1], 3) if cs else None,
            "failed": control_failed,
        }

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    line = json.dumps({
        "metric": "total_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "control": control,
        # self-describing run counts (ADVICE r9): [min, max] realized
        # timed runs across queries, plus the threshold that triggers
        # the extra run — the prose no longer carries the only record.
        "runs_per_query": [min(timed_runs.values(), default=RUNS),
                           max(timed_runs.values(), default=RUNS)],
        "extra_run_under_sec": EXTRA_RUN_UNDER,
        "aggregation": "min",
        "methodology": f"per-query min of {RUNS} timed runs "
                       f"({RUNS + 1} when the best is under "
                       f"{EXTRA_RUN_UNDER:g} s) after 1 discarded warm "
                       "run; noop-format write forces full "
                       "materialisation",
    })
    # Artifacts are WRITE-ONCE per run (VERDICT r8 item 5): every run
    # writes a run-stamped sidecar BENCH_LOCAL.<epoch>.json, and
    # BENCH_LOCAL.json is only written when absent — so a later noisy
    # session (the r8 driver run) can never clobber the committed
    # round-end artifact in the working tree. Refresh deliberately by
    # deleting BENCH_LOCAL.json first (tools/update_baseline.py names
    # the stamped sidecar it consumed).
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here,
                               f"BENCH_LOCAL.{int(time.time())}.json"),
                  "w") as fh:
            fh.write(line + "\n")
        canonical = os.path.join(here, "BENCH_LOCAL.json")
        if not os.path.exists(canonical):
            with open(canonical, "w") as fh:
                fh.write(line + "\n")
    except OSError:
        pass
    spark.stop()
    sys.stdout.flush()
    # The round driver keeps only the LAST 2000 chars of stdout and
    # json-parses them; the full per-query dict (93+ entries, ~2.7 KB)
    # cannot fit, which left BENCH_r04/r05 `parsed: null`. The printed
    # line is therefore a BUDGETED view: queries sorted by cost
    # descending, kept while the line stays under the tail capture,
    # with the omission made explicit. `value` stays the total over
    # ALL queries; the complete dict is in BENCH_LOCAL.json.
    print(_budgeted_line(total, timings, sf,
                         [min(timed_runs.values(), default=RUNS),
                          max(timed_runs.values(), default=RUNS)],
                         control),
          flush=True)


TAIL_BUDGET = 1900  # driver tail capture is 2000 chars; leave margin


def _budgeted_line(total: float, timings: dict[str, float], sf,
                   runs, control=None, budget: int = TAIL_BUDGET) -> str:
    ordered = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))

    def render(n_shown: int) -> str:
        return json.dumps({
            "metric": "total_query_wall_time",
            "value": total,
            "unit": "sec",
            "queries": dict(ordered[:n_shown]),
            "sf": sf,
            "control": control,
            "runs_per_query": runs,
            "aggregation": "min",
            "n_queries": len(timings),
            "n_shown": n_shown,
            "full_in": "BENCH_LOCAL.json",
        }, separators=(",", ":"))

    if len(render(len(ordered))) <= budget:
        return render(len(ordered))
    lo, hi = 0, len(ordered)
    while lo < hi:  # largest n_shown that fits the budget
        mid = (lo + hi + 1) // 2
        if len(render(mid)) <= budget:
            lo = mid
        else:
            hi = mid - 1
    return render(lo)


if __name__ == "__main__":
    main()
