"""The session factory ships the package to Python workers.

Full-suite tier (a fresh JVM in a subprocess): from a cwd outside the
repo and with PYTHONPATH unset, a pandas-UDF entry built on
``get_spark`` must still find ``resin_spark`` on the workers."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

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


@pytest.mark.full_suite
def test_workers_import_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", RESIN_SPARK_DRIVER_MEM="1g")
    p = subprocess.run([sys.executable, "-c", _SCRIPT], cwd=tmp_path,
                       env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    rows = [ln for ln in p.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, p.stdout[-2000:]
