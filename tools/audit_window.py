"""Window-contract audit (the check .claude/skills/verify/SKILL.md
prescribes before each round): every queries() entry PAST the driver's
50-entry verification window must be behaviorally identical to its
last driver-checked form.

r4 ran this at module granularity, which flagged 27 entries when the
real diff was 1 — so prose tail comments became the arbiter, and one
of them was wrong (the dedup_embedding incident). This version compares
at FUNCTION granularity: for each tail entry it walks every reachable
resin_spark function and class (transitively, through closures, module
globals and class methods), plus the module-level constants those functions reference,
plus the entry's oracle function (resolved from oracle_sql()'s own
AST), and AST-compares each against the base ref with docstrings
stripped. A tail entry is flagged iff some function/constant it can
actually execute changed — comments no longer adjudicate anything.

Usage: python tools/audit_window.py <base-ref>
  e.g. python tools/audit_window.py d588d16   (last round's final commit)

Exit code 1 if any tail entry changed behaviorally since <base-ref>.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import subprocess
import sys
import textwrap
import types as _t
import warnings

# the module-attribute walk getattr-probes third-party modules (numpy
# deprecation shims raise FutureWarning); only our WARNING lines matter
warnings.simplefilter("ignore")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- AST comparison ----------------------------------------------------------

def _strip_docstrings(node: ast.AST) -> ast.AST:
    """Remove leading string-constant statements from every body —
    docstring edits are not behavior."""
    for n in ast.walk(node):
        body = getattr(n, "body", None)
        if (isinstance(n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef,
                           ast.ClassDef))
                and body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            n.body = body[1:] or [ast.Pass()]
    return node


class _ModuleDefs:
    """Top-level definition dumps for one file at one revision:
    functions/classes by name, plus assignment statements by target
    name (module constants — tie-break knobs, seeds, gates)."""

    def __init__(self, source: str):
        tree = ast.parse(source)
        self.defs: dict[str, str] = {}
        self.assigns: dict[str, str] = {}
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                self.defs[stmt.name] = ast.dump(_strip_docstrings(stmt))
            elif isinstance(stmt, ast.Assign):
                for tgt in stmt.targets:
                    if isinstance(tgt, ast.Name):
                        self.assigns[tgt.id] = ast.dump(stmt.value)
            elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None \
                    and isinstance(stmt.target, ast.Name):
                self.assigns[stmt.target.id] = ast.dump(stmt.value)


def _load_defs(cache: dict, rel: str, ref: str | None) -> _ModuleDefs | None:
    key = (rel, ref)
    if key not in cache:
        if ref is None:
            try:
                with open(os.path.join(REPO, rel)) as fh:
                    cache[key] = _ModuleDefs(fh.read())
            except OSError:
                cache[key] = None
        else:
            p = subprocess.run(["git", "show", f"{ref}:{rel}"], cwd=REPO,
                               capture_output=True, text=True)
            cache[key] = _ModuleDefs(p.stdout) if p.returncode == 0 else None
    return cache[key]


# --- reachability ------------------------------------------------------------

def _unwrap(fn):
    """pandas_udf and functools wrappers hide the traced function."""
    for attr in ("func", "__wrapped__"):
        inner = getattr(fn, attr, None)
        if callable(inner) and inner is not fn:
            return inner
    return fn


def _relpath_of(mod) -> str | None:
    path = getattr(mod, "__file__", None)
    if path and ("resin_spark" in path
                 or path.endswith("__spark_entry__.py")):
        return os.path.relpath(path, REPO)
    return None


# Per-function contribution memo: a function's own (funcs, consts,
# successor callables) depend only on the function object, never on
# which entry's walk reached it — so the 99 entries' walks share one
# computation per function instead of re-parsing its source 99 times
# (the full audit dropped from ~15 min to seconds). The memo holds a
# strong reference to the function so a gc'd id can never alias.
_CONTRIB_MEMO: dict[int, tuple] = {}


def reachable(fn) -> tuple[set[tuple[str, str]], set[tuple[str, str]]]:
    """(functions, constants): repo-relative (file, top-level-name)
    pairs reachable from a callable — its own def, every resin_spark
    callable referenced through closures or module globals
    (transitively), and every module-level CONSTANT those functions
    name. Nested defs resolve to their enclosing top-level def, whose
    dump contains them."""
    funcs: set[tuple[str, str]] = set()
    consts: set[tuple[str, str]] = set()
    stack, seen = [fn], set()
    while stack:
        f = _unwrap(stack.pop())
        if id(f) in seen or not callable(f):
            continue
        seen.add(id(f))
        memo = _CONTRIB_MEMO.get(id(f))
        if memo is None:
            memo = (*_contrib(f), f)
            _CONTRIB_MEMO[id(f)] = memo
        c_funcs, c_consts, succ, _ref = memo
        funcs |= c_funcs
        consts |= c_consts
        stack.extend(succ)
    return funcs, consts


def _contrib(f) -> tuple[set, set, list]:
    """One function's OWN contribution: (funcs, consts, successor
    callables to keep walking). Exactly the former per-node body of
    reachable(), factored out so it can be memoized per function."""
    funcs: set[tuple[str, str]] = set()
    consts: set[tuple[str, str]] = set()
    stack: list = []
    relpath_of = _relpath_of
    if isinstance(f, type):
        # A class has no __code__: a resin_spark class counts as its own
        # top-level def (its dump holds every method and class constant)
        # and the walk continues through its methods and base classes.
        rel = relpath_of(sys.modules.get(f.__module__))
        if rel is None:
            return funcs, consts, stack
        funcs.add((rel, f.__qualname__.split(".")[0]))
        stack.extend(f.__bases__)
        for v in vars(f).values():
            v = getattr(v, "__func__", v)  # staticmethod / classmethod
            if isinstance(v, property):
                stack.extend(a for a in (v.fget, v.fset, v.fdel) if a)
            elif callable(v):
                stack.append(v)
        return funcs, consts, stack
    if True:  # keep the original body's indentation/diff minimal
        code = getattr(f, "__code__", None)
        mod = sys.modules.get(getattr(f, "__module__", ""))
        rel = relpath_of(mod)
        qual = getattr(f, "__qualname__", None)
        if rel and qual and code is not None:
            funcs.add((rel, qual.split(".")[0]))
        gl_attr = getattr(f, "__globals__", None)
        gl = dict(gl_attr) if isinstance(gl_attr, dict) else {}
        # closure cells may hold modules (a wrapper closing over an
        # imported module) as well as callables — fold them into the
        # same namespace the co_names resolution walks
        clo = getattr(f, "__closure__", None)
        freevars = tuple(getattr(code, "co_freevars", ()))
        for fname, cell in zip(freevars,
                               clo if isinstance(clo, tuple) else ()):
            try:
                v = cell.cell_contents
            except ValueError:  # empty cell
                continue
            if callable(v):
                stack.append(v)
            gl.setdefault(fname, v)
        # FUNCTION-LOCAL imports (`from resin_spark.io import x` inside
        # a body) bind locals, not globals — co_names resolution against
        # gl cannot see them, which let a write_bucketed edit ride a
        # frozen tail entry with 0 warnings in r6 (write_cell_index).
        # Walk the function's own AST and resolve its import statements:
        # imported callables join the stack, imported values become
        # constants, imported modules join the namespace the co_names
        # attribute resolution walks.
        try:
            body_ast = ast.parse(textwrap.dedent(inspect.getsource(f)))
        except (OSError, TypeError, SyntaxError, IndentationError):
            body_ast = None
        for node in ast.walk(body_ast) if body_ast is not None else ():
            if isinstance(node, ast.ImportFrom) and node.level == 0 \
                    and node.module:
                try:
                    m2 = importlib.import_module(node.module)
                except Exception:
                    continue
                for alias in node.names:
                    v = getattr(m2, alias.name, None)
                    if isinstance(v, _t.ModuleType):
                        gl.setdefault(alias.asname or alias.name, v)
                    elif callable(v):
                        stack.append(v)
                    elif v is not None:
                        mrel = relpath_of(m2)
                        if mrel:
                            consts.add((mrel, alias.name))
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    try:
                        m2 = importlib.import_module(alias.name)
                    except Exception:
                        continue
                    gl.setdefault(alias.asname or alias.name.split(".")[0],
                                  m2)
        # NESTED code objects (lambdas / inner defs) carry their own
        # co_names, invisible from the enclosing co_names — an entry
        # wrapper doing `memo(spark, key, lambda: dedup.write_x(...))`
        # must still surface write_x (r7 find, the same class as the
        # r6 function-local-import blind spot).
        def _code_names(c) -> tuple:
            out = tuple(getattr(c, "co_names", ()))
            for k in getattr(c, "co_consts", ()):
                if isinstance(k, _t.CodeType):
                    out += _code_names(k)
            return out

        names = (_code_names(code) if code is not None else ()) + freevars
        for name in names:
            v = gl.get(name)
            if isinstance(v, _t.ModuleType):
                mrel = relpath_of(v)
                # `mod.attr(...)` puts both names in co_names — resolve
                # attributes so the walk crosses module boundaries
                for attr in names:
                    a = getattr(v, attr, None)
                    if callable(a):
                        stack.append(a)
                    elif a is not None and mrel \
                            and not isinstance(a, _t.ModuleType):
                        consts.add((mrel, attr))
            elif callable(v):
                stack.append(v)
            elif v is not None and rel and name in gl:
                consts.add((rel, name))
    return funcs, consts, stack


# --- oracle resolution from __spark_entry__'s own AST ------------------------

def oracle_callables(entry_path: str) -> dict[str, tuple[str, str] | None]:
    """key -> (module attr path, func name) for each oracle_sql() dict
    entry whose value is a call like ``mod.func_oracle()``; None for
    literal-SQL values (those live in __spark_entry__.py itself, whose
    window entries cover them) and anything unresolvable."""
    with open(entry_path) as fh:
        tree = ast.parse(fh.read())
    out: dict[str, tuple[str, str] | None] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "oracle_sql":
            for ret in ast.walk(node):
                if isinstance(ret, ast.Return) \
                        and isinstance(ret.value, ast.Dict):
                    for k, v in zip(ret.value.keys, ret.value.values):
                        if not (isinstance(k, ast.Constant)
                                and isinstance(k.value, str)):
                            continue
                        if isinstance(v, ast.Call) \
                                and isinstance(v.func, ast.Attribute) \
                                and isinstance(v.func.value, ast.Name):
                            out[k.value] = (v.func.value.id, v.func.attr)
                        else:
                            out[k.value] = None
    return out


def main() -> int:
    if len(sys.argv) < 2:
        sys.exit("usage: audit_window.py <base-ref>")
    base = sys.argv[1]
    import __spark_entry__ as m

    cache: dict = {}
    q = m.queries()
    oracles = oracle_callables(os.path.join(REPO, "__spark_entry__.py"))
    warned = 0
    for i, (name, fn) in enumerate(q.items()):
        if i < WINDOW:
            continue
        funcs, consts = reachable(fn)
        # fold in the oracle function (and ITS reachable helpers)
        osym = oracles.get(name)
        if osym is not None:
            omod_name, ofunc_name = osym
            ofn = getattr(getattr(m, omod_name, None), ofunc_name, None)
            if callable(ofn):
                of, oc = reachable(ofn)
                funcs |= of
                consts |= oc
        diffs: list[str] = []
        for rel, sym in sorted(funcs):
            if rel == "__spark_entry__.py":
                continue  # entry wrappers re-order every round by design
            now = _load_defs(cache, rel, None)
            was = _load_defs(cache, rel, base)
            d_now = now.defs.get(sym) if now else None
            d_was = was.defs.get(sym) if was else None
            if d_now != d_was:
                diffs.append(f"def {rel}:{sym}")
        for rel, sym in sorted(consts):
            if rel == "__spark_entry__.py":
                continue
            now = _load_defs(cache, rel, None)
            was = _load_defs(cache, rel, base)
            # only flag symbols that ARE module-level assignments now
            # (co_names also carries attribute/builtin names)
            if now is None or sym not in now.assigns:
                continue
            if was is None or now.assigns[sym] != was.assigns.get(sym):
                diffs.append(f"const {rel}:{sym}")
        if diffs:
            warned += 1
            print(f"WARNING tail[{i}] {name}: changed since {base}: "
                  f"{', '.join(diffs)} — re-window")
    stale_viol, due_notices = _staleness_warnings(q)
    warned += stale_viol
    print(f"audited {len(q)} entries, window={WINDOW}, "
          f"tail={len(q) - WINDOW}, warnings={warned}, due={due_notices} "
          f"(function-level, docstring-stripped; "
          f"max tail staleness {MAX_TAIL_STALENESS} round)")
    # Exit 1 only on CONTRACT VIOLATIONS (AST drift in the tail, a
    # never-checked tail entry, an unreadable artifact). Due-cohort
    # staleness — tail entries green in an OLDER artifact but rotated
    # out of the latest — is the expected "plan the next window" signal
    # after every round close and exits 0 with the distinct DUE prefix
    # (VERDICT r8 item 6: a clean post-close tree used to exit 1 on 43
    # expected notices, so exit-code consumers couldn't tell planning
    # from violation).
    return 1 if warned else 0


# Rotation guarantee (r6, SURVEY §6): every entry is driver-checked at
# least once per two rounds. A tail entry skips the upcoming round's
# check, so it must have been checked in the LATEST correctness
# artifact; anything older (or never checked) must hold a window slot
# this round — AST identity alone may not carry an entry further than
# one unchecked round.
MAX_TAIL_STALENESS = 1


def _staleness_warnings(q) -> tuple[int, int]:
    """(violations, due_notices) over the tail.

    A tail entry NEVER present in any artifact is a contract VIOLATION
    (it cannot legally skip the coming round). A tail entry green in an
    older artifact but absent from the latest is the rotation-DUE
    planning signal every round close produces — reported with the
    distinct DUE prefix, not counted as a violation."""
    import glob
    import json
    import re

    arts = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)))
    if not arts:
        return 0, 0
    latest = arts[-1]
    rnd = re.search(r"r(\d+)", os.path.basename(latest)).group(1)
    checked: set = set()
    ever: set = set()
    viol, due = 0, 0
    try:
        with open(latest) as fh:
            checked = set(json.load(fh))
    except (OSError, ValueError):
        print(f"WARNING cannot read {latest} for the staleness check")
        return 1, 0
    for p in arts[:-1]:
        try:
            with open(p) as fh:
                ever |= set(json.load(fh))
        except (OSError, ValueError):
            continue
    for i, name in enumerate(q):
        if i < WINDOW:
            continue
        if name in checked:
            continue
        if name in ever:
            due += 1
            print(f"DUE tail[{i}] {name}: green in an earlier round but "
                  f"not in r{rnd} (latest artifact) — rotation-due; put "
                  f"it in the next window (planning signal, not a "
                  f"violation)")
        else:
            viol += 1
            print(f"WARNING tail[{i}] {name}: never driver-checked — a "
                  f"tail slot would make it >{MAX_TAIL_STALENESS} round "
                  f"stale; move it into the window")
    return viol, due


if __name__ == "__main__":
    raise SystemExit(main())
