"""Deep randomized fuzz over the documents-only DRIVER entries.

The r6 degenerate-dataset scan ran every entry over one fixed
null-heavy corpus; this drives the full documents-only oracle-backed
entry list (tests/test_edge_docs.DOC_QUERIES) over N seeded random
corpora — the same generator as tools/deep_fuzz_staged. A failure here
is a hole in FROZEN code: per the window contract it gets a strict
xfail pin + a named fix in the r7 checklist, never an immediate edit.

The generator guarantees ≥1 doc with several real tokens so the
known PINNED all-zero-token-corpus classes (corpus_stats/domain_mix
ANSI aborts, r7-scheduled) don't re-fire as noise.

Usage: python tools/deep_fuzz_driver.py [n_corpora] [seed0]
"""

from __future__ import annotations

import math
import os
import random
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from resin_spark.session import get_spark  # noqa: E402

_WORDS = ["alpha", "beta", "gamma", "delta", "the", "a", "of", "x1",
          "７漢", "café", "...", "a.b.c", "", "merge", "sort", "window",
          "naïve", "&amp;", "\t", "ZZZ"]
# shared whole lines for the multi-line shape (r8 overtime — the
# generated testdata has zero newline-bearing docs, so the driver gate
# never exercises the line-level paths; mirrors deep_fuzz_staged).
# Seed streams SHIFTED when this landed; rescan regression seeds.
_TEMPLATE_LINES = ["Home | About | Contact", "all rights reserved",
                   "plain repeated line", "  ", "７漢 café"]


def _corpus(rng: random.Random):
    n = rng.randint(2, 25)
    ids = rng.sample(range(0, 200), n)
    rows, pool = [], []
    for i in ids:
        r = rng.random()
        if r < 0.08:
            text = None
        elif r < 0.16 and pool:
            text = rng.choice(pool)
        elif r < 0.24 and pool:
            text = (rng.choice(pool) or "") + " " + rng.choice(_WORDS)
        else:
            text = " ".join(rng.choices(_WORDS, k=rng.randint(0, 30)))
            if rng.random() < 0.35:                # multi-line shape
                tmpl = rng.choice(_TEMPLATE_LINES)
                text = (tmpl + "\n" + text if rng.random() < 0.5
                        else text + "\n" + tmpl)
        if text is not None:
            pool.append(text)
        rows.append((i, text, rng.choice(["en", "de", None]),
                     rng.choice(["s0", "s1", "s2", None]),
                     len(text) if text is not None else None))
    # r7: the zero-token ANSI-abort classes are fixed (try_divide +
    # NULLIF mirrored), so all-degenerate corpora are a legitimately
    # checked class again — keep tokenizable mass only on even seeds
    # so both regimes stay covered
    if rng.randint(0, 1) == 0:
        rows[0] = (rows[0][0], "alpha beta gamma delta the of merge sort",
                   "en", "s0", 40)
    return rows


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return repr(v)


def main() -> None:
    n_corpora = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 7000
    import __spark_entry__ as entry_mod
    from test_edge_docs import DOC_QUERIES

    # retirement trades driver slots, never coverage: retired entries
    # keep their original oracles and stay in the fuzz gate (the r9
    # corpus_stats/lang_stats/filter_funnel retirement made the live
    # dicts alone drop 18 checks)
    queries = {**entry_mod.queries(), **entry_mod.retired_queries()}
    oracles = {**entry_mod.oracle_sql(), **entry_mod.retired_oracle_sql()}
    # no pinned-class exclusions remain: the r6 holes (round(davg)
    # decimal ties, zero-token ANSI aborts, mm NULL payloads) are all
    # fixed and regression-pinned in tests/test_oracle_fuzz.py
    skip: set = set()
    spark = get_spark("deep-fuzz-driver")
    failures = []
    for c in range(n_corpora):
        seed = seed0 + c
        rng = random.Random(seed)
        d = tempfile.mkdtemp(prefix=f"dfd_{seed}_")
        docs = spark.createDataFrame(
            _corpus(rng),
            "doc_id long, text string, lang string, source string, "
            "n_chars long")
        docs.coalesce(1).write.mode("overwrite").parquet(
            f"{d}/documents.parquet")
        for name in DOC_QUERIES:
            if name in skip:
                continue
            try:
                con = duckdb.connect()
                try:
                    con.execute(
                        f"CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{d}/documents.parquet/*.parquet')")
                    cur = con.execute(oracles[name])
                    ocols = [x[0] for x in cur.description]
                    orows = cur.fetchall()
                finally:
                    con.close()
                out = queries[name](spark, d)
                srows = out.collect()
                assert sorted(out.columns) == sorted(ocols)
                assert len(srows) == len(orows), \
                    (len(srows), len(orows))
                o_idx = [ocols.index(x) for x in sorted(ocols)]
                s_idx = [out.columns.index(x) for x in sorted(out.columns)]
                oset = sorted(tuple(_norm(r[i]) for i in o_idx)
                              for r in orows)
                sset = sorted(tuple(_norm(r[i]) for i in s_idx)
                              for r in srows)
                assert sset == oset, \
                    [p for p in zip(sset, oset) if p[0] != p[1]][:3]
            except Exception as e:  # noqa: BLE001 — report + continue
                failures.append((seed, name, str(e)[:160]))
                print(f"FAIL seed={seed} op={name}: {str(e)[:160]}")
        print(f"corpus seed={seed}: {len(DOC_QUERIES)} entries checked")
    print(f"\n{n_corpora} corpora x {len(DOC_QUERIES)} entries: "
          f"{len(failures)} failures")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
