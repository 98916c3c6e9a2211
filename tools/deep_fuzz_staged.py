"""Deep randomized fuzz over every staged demo/oracle pair.

The per-op hypothesis tests run a handful of small examples each; this
sweep drives ALL staged pairs (the tests/test_edge_docs registry) over
N seeded random corpora with the full nastiness menu — null/empty/
whitespace/unicode/duplicate texts, null/NaN/zero-norm vectors, null
metadata — using the driver-identical column-sorted repr comparison.
A failure prints the corpus seed so it can be replayed and pinned.

Usage: python tools/deep_fuzz_staged.py [n_corpora] [seed0]
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
# shared whole lines injected across docs so the LINE-level ops
# (boilerplate_card, line_dedup_stats) see cross-doc repeated lines and
# keyword hits, not just single-line docs (added r8 — the generator
# previously never emitted a newline; no replay seeds are pinned in
# tests, failures print seeds for the current generator)
_TEMPLATE_LINES = ["Home | About | Contact", "all rights reserved",
                   "Subscribe to our newsletter", "plain repeated line",
                   "  ", "７漢 café"]


def _corpus(rng: random.Random):
    n = rng.randint(1, 25)
    ids = rng.sample(range(0, 200), n)
    rows = []
    texts_pool = []
    for i in ids:
        r = rng.random()
        if r < 0.08:
            text = None
        elif r < 0.16 and texts_pool:
            text = rng.choice(texts_pool)          # exact duplicate
        elif r < 0.24 and texts_pool:
            base = rng.choice(texts_pool) or ""
            text = base + " " + rng.choice(_WORDS)  # near duplicate
        else:
            text = " ".join(rng.choices(_WORDS, k=rng.randint(0, 30)))
            if rng.random() < 0.35:                # multi-line shape
                tmpl = rng.choice(_TEMPLATE_LINES)
                text = (tmpl + "\n" + text if rng.random() < 0.5
                        else text + "\n" + tmpl)
        if text is not None:
            texts_pool.append(text)
        rows.append((i, text,
                     rng.choice(["en", "de", None]),
                     rng.choice(["s0", "s1", "s2", None]),
                     len(text) if text is not None else None))
    return rows


def _vectors(rng: random.Random):
    n = rng.randint(1, 20)
    out = []
    has_valid = False
    for i in rng.sample(range(0, 100), n):
        r = rng.random()
        if r < 0.1:
            v = None
        elif r < 0.2:
            v = [float("nan"), rng.uniform(-1, 1), 0.0]
        elif r < 0.3:
            v = [0.0, 0.0, 0.0]
        else:
            v = [rng.uniform(-1, 1) for _ in range(3)]
            has_valid = True
        out.append((i, v, rng.randint(0, 2)))
    if not has_valid:
        # the all-invalid class is strict-xfail-pinned (r7 fix) — keep
        # the sweep on the supported domain
        out.append((999, [1.0, 0.0, 0.0], 0))
    return out


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return repr(v)


def _compare(spark, fn, sql, dpath, epath):
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{dpath}/*.parquet')")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{epath}/*.parquet')")
        cur = con.execute(sql)
        ocols = [c[0] for c in cur.description]
        orows = cur.fetchall()
    finally:
        con.close()
    t = {"documents": spark.read.parquet(dpath),
         "embeddings": spark.read.parquet(epath)}
    out = fn(t)
    srows = out.collect()
    assert sorted(out.columns) == sorted(ocols), (out.columns, ocols)
    assert len(srows) == len(orows), (len(srows), len(orows))
    o_idx = [ocols.index(c) for c in sorted(ocols)]
    s_idx = [out.columns.index(c) for c in sorted(out.columns)]
    oset = sorted(tuple(_norm(r[i]) for i in o_idx) for r in orows)
    sset = sorted(tuple(_norm(r[i]) for i in s_idx) for r in srows)
    assert sset == oset, \
        [p for p in zip(sset, oset) if p[0] != p[1]][:3]


def main() -> None:
    n_corpora = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    from test_edge_docs import _staged_pairs
    pairs = _staged_pairs()
    spark = get_spark("deep-fuzz-staged")
    failures = []
    for c in range(n_corpora):
        seed = seed0 + c
        rng = random.Random(seed)
        d = tempfile.mkdtemp(prefix=f"dfz_{seed}_")
        docs = spark.createDataFrame(
            _corpus(rng),
            "doc_id long, text string, lang string, source string, "
            "n_chars long")
        emb = spark.createDataFrame(
            _vectors(rng), "vec_id long, embedding array<float>, label int")
        dpath, epath = f"{d}/documents.parquet", f"{d}/embeddings.parquet"
        docs.coalesce(1).write.mode("overwrite").parquet(dpath)
        emb.coalesce(1).write.mode("overwrite").parquet(epath)
        for name, fn, sql, _needs_emb in pairs:
            try:
                _compare(spark, fn, sql, dpath, epath)
            except Exception as e:  # noqa: BLE001 — report + continue
                failures.append((seed, name, str(e)[:200]))
                print(f"FAIL seed={seed} op={name}: {str(e)[:200]}")
        print(f"corpus seed={seed}: {len(pairs)} pairs checked")
    print(f"\n{n_corpora} corpora x {len(pairs)} pairs: "
          f"{len(failures)} failures")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
