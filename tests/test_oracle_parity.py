"""Runs every oracle-backed queries() entry against DuckDB at sf0.001
(and sf0.01 when RESIN_SPARK_FULL=1) — the same gate the driver runs."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
entry_mod = importlib.import_module("__spark_entry__")

from tests.oracle_util import compare  # noqa: E402

SF = "/root/testdata/sf0.01" if os.environ.get("RESIN_SPARK_FULL") else "/root/testdata/sf0.001"

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_every_query_has_callable():
    assert QUERIES, "queries() must not be empty"
    for name in ORACLES:
        assert name in QUERIES, f"oracle_sql has {name} but queries() doesn't"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    df = QUERIES[name](spark, SF)
    compare(df, ORACLES[name], SF)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF)
    assert df.count() >= 0
    assert df.schema is not None


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


RETIRED_ORACLES = entry_mod.retired_oracle_sql()
RETIRED_QUERIES = entry_mod.retired_queries()


def test_retired_registry_consistent():
    """Every retired entry keeps an oracle (retirement without an
    oracle would silently drop to rows-only coverage) and never
    shadows a live entry."""
    assert set(RETIRED_ORACLES) == set(RETIRED_QUERIES)
    assert not set(RETIRED_QUERIES) & set(QUERIES)


@pytest.mark.parametrize("name", sorted(RETIRED_ORACLES))
def test_retired_parity(spark, name):
    df = RETIRED_QUERIES[name](spark, SF)
    compare(df, RETIRED_ORACLES[name], SF)
