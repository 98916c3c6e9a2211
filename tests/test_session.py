"""The session factory ships the package to Python workers, and its
memo and scratch dirs are scoped to one SparkContext.

Full-suite tier (a fresh JVM in a subprocess each): from a cwd outside
the repo and with PYTHONPATH unset, a pandas-UDF entry built on
``get_spark`` must still find ``resin_spark`` on the workers; after
``stop()`` and a fresh ``get_spark``, a memoized key builds again and
the stopped session's scratch dir is gone. Default tier, no Spark:
threads racing on the memo all get one value per key."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from resin_spark.session import memo
from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
import __spark_entry__ as m
from resin_spark.session import get_spark
spark = get_spark("session-cwd-test")
spark.sparkContext.setLogLevel("ERROR")
n = m.queries()["string_compare"](spark, {SF_SMALL!r}).count()
spark.stop()
print("ROWS", n)
"""


def _run(script: str, cwd) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", RESIN_SPARK_DRIVER_MEM="1g")
    p = subprocess.run([sys.executable, "-c", script], cwd=cwd,
                       env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout


@pytest.mark.full_suite
def test_workers_import_package_from_any_cwd(tmp_path):
    out = _run(_SCRIPT, tmp_path)
    rows = [ln for ln in out.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, out[-2000:]


_MEMO_SCRIPT = f"""
import os, sys
sys.path.insert(0, {REPO!r})
from resin_spark.session import get_spark, memo, scratch_dir
builds = []
spark = get_spark("session-memo-test")
memo(spark, "k", lambda: builds.append(1))
memo(spark, "k", lambda: builds.append(2))
old = scratch_dir(spark, "kind", lambda d: open(d + "/f", "w").close())
assert scratch_dir(spark, "kind") == old and os.path.exists(old + "/f")
spark.stop()
spark = get_spark("session-memo-test")
memo(spark, "k", lambda: builds.append(3))
new = scratch_dir(spark, "kind")
spark.stop()
print("BUILDS", builds, os.path.exists(old), new != old)
"""


@pytest.mark.full_suite
def test_memo_and_scratch_dir_end_with_their_session(tmp_path):
    out = _run(_MEMO_SCRIPT, tmp_path)
    assert "BUILDS [1, 3] False True" in out, out[-2000:]


def test_memo_serves_one_value_per_key_across_threads():
    """16 threads hammer 4 keys with a tiny switch interval: a lost
    update (two threads both storing their own build) would hand out
    two objects for one key."""
    class _Session:  # memo reads only .sparkContext
        sparkContext = object()

    def build():
        time.sleep(0.001)  # a build yields the interpreter, like a job
        return object()

    def work(i):
        return [((i + n) % 4, memo(_Session, ("race", (i + n) % 4), build))
                for n in range(300)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(work, i) for i in range(16)]
            results = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    per_key: dict = {}
    for rows in results:
        for k, v in rows:
            per_key.setdefault(k, set()).add(id(v))
    assert sorted(per_key) == [0, 1, 2, 3]
    assert all(len(ids) == 1 for ids in per_key.values()), per_key
