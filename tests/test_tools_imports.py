"""Every module a ``tools/*.py`` script imports resolves.

No Spark: each script is parsed, not run, and every imported top-level
module (imports inside functions included) goes through
``importlib.util.find_spec`` with the repo root, ``tests/`` and
``tools/`` on the path — the layout the scripts run under. A kept
script that still imports a deleted one fails here."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _imported_modules(path: str) -> set[str]:
    mods = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            mods.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mods.add(node.module.split(".")[0])
    return mods


def test_every_tool_import_resolves(monkeypatch):
    for d in ("tools", "tests", ""):
        monkeypatch.syspath_prepend(os.path.join(REPO, d))
    scripts = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    assert scripts
    missing = {
        f"{os.path.basename(s)}: {m}"
        for s in scripts for m in _imported_modules(s)
        if importlib.util.find_spec(m) is None
    }
    assert not missing, sorted(missing)
