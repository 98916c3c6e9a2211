"""Unit tests for the window-audit tool's AST comparison core
(tools/audit_window.py): the function-level differ is what adjudicates
driver-window honesty, so its own semantics — docstring insensitivity,
body sensitivity, constant tracking — need pins."""

from __future__ import annotations

import pytest

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from audit_window import _ModuleDefs, oracle_callables, reachable  # noqa: E402


def test_docstring_only_change_is_invisible():
    a = _ModuleDefs('def f(x):\n    """old doc."""\n    return x + 1\n')
    b = _ModuleDefs('def f(x):\n    """new doc, reworded."""\n    return x + 1\n')
    assert a.defs["f"] == b.defs["f"]


def test_body_change_is_visible():
    a = _ModuleDefs("def f(x):\n    return x + 1\n")
    b = _ModuleDefs("def f(x):\n    return x + 2\n")
    assert a.defs["f"] != b.defs["f"]


def test_nested_def_change_is_visible_via_enclosing():
    a = _ModuleDefs("def f():\n    def g():\n        return 1\n    return g\n")
    b = _ModuleDefs("def f():\n    def g():\n        return 2\n    return g\n")
    assert a.defs["f"] != b.defs["f"]


def test_docstring_only_function_body_still_parses():
    # stripping the docstring of a doc-only body must leave valid AST
    d = _ModuleDefs('def f():\n    """only a doc."""\n')
    assert "Pass" in d.defs["f"]


def test_module_constant_change_is_visible():
    a = _ModuleDefs("TAU = 0.5\n")
    b = _ModuleDefs("TAU = 0.6\n")
    assert a.assigns["TAU"] != b.assigns["TAU"]
    assert _ModuleDefs("TAU = 0.5\n").assigns["TAU"] == a.assigns["TAU"]


@pytest.mark.full_suite
def test_reachable_crosses_module_boundaries():
    """A queries() wrapper that calls dedup.exact_dedup must surface
    dedup.py functions AND the constants they reference."""
    from resin_spark.operators import dedup

    def wrapper(spark, sf):
        return dedup.incremental_dedup(None)

    funcs, consts = reachable(wrapper)
    files = {f for f, _ in funcs}
    names = {n for _, n in funcs}
    assert any(f.endswith("operators/dedup.py") for f in files)
    assert "incremental_dedup" in names
    # transitive: incremental_dedup calls lsh_index / _incremental_verdicts
    assert "_incremental_verdicts" in names or "lsh_index" in names


def test_oracle_callables_resolves_call_and_literal():
    out = oracle_callables(os.path.join(
        os.path.dirname(__file__), "..", "__spark_entry__.py"))
    # a call-style oracle resolves to (module, function)
    assert out["q1_pricing_summary"] == ("tpch", "q1_oracle")
    # a literal-SQL oracle maps to None (covered by the entry file itself)
    assert out["kv_try_put"] is None
    assert len(out) >= 80


def test_staleness_distinguishes_due_from_violation():
    """r6 rotation guarantee + r9 exit-semantics split (VERDICT r8
    item 6): a tail entry NEVER driver-checked is a contract VIOLATION
    (exit 1); a tail entry green in an OLDER artifact but rotated out
    of the latest is the expected post-close rotation-DUE planning
    signal (reported, exit 0); tail entries in the latest artifact are
    clean.

    Entries are derived from the artifacts at runtime — hardcoding a
    specific entry breaks the moment a driver round rotates it out
    (the r6 'corpus_stats' incident)."""
    import glob
    import json
    import re

    from tools import audit_window as aw

    arts = sorted(
        glob.glob(os.path.join(aw.REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)",
                                    os.path.basename(p)).group(1)))
    with open(arts[-1]) as fh:
        latest = set(json.load(fh))
    fresh = sorted(latest)[0]            # green in the latest artifact
    with open(arts[-2]) as fh:
        older = set(json.load(fh))
    # an entry checked in the previous round but rotated out since
    rotated = sorted(older - latest)[0]
    pad = {f"w{i}": None for i in range(aw.WINDOW)}
    assert aw._staleness_warnings({**pad, fresh: None}) == (0, 0)
    assert aw._staleness_warnings({**pad, rotated: None}) == (0, 1)
    assert aw._staleness_warnings(
        {**pad, "never_checked_entry": None}) == (1, 0)


def test_reachable_walks_resin_spark_classes():
    """Classes have no __code__, so the walk must count a resin_spark
    class as its own (file, name) and continue through its methods: a
    wrapper calling load_tables reaches LazyTables, whose _load every
    entry runs, so an edit inside the class re-windows its entries."""
    from resin_spark.io import load_tables

    def wrapper(spark, sf):
        return load_tables(spark, sf)

    funcs, _consts = reachable(wrapper)
    assert ("resin_spark/io.py", "LazyTables") in funcs
