"""Deep randomized fuzz over the EMBEDDING (block D/E) driver entries
whose oracles are exact REGARDLESS of data.

tools/deep_fuzz_driver covers documents entries and deep_fuzz_rel the
star schema; this is the vector twin: seeded random embeddings tables
with the vector nastiness menu — NULL vectors, NaN elements, zero
norms, exact-duplicate vectors (cosine-tie stress for every top-k
tie-break), NULL labels, corpora smaller than the query set, empty and
all-invalid corpora — compared engine-vs-oracle with the
driver-identical comparison.

Deliberately EXCLUDED: ann_topk_lsh / ann_topk_ivf / ann_topk_pq and
their *_indexed twins — their oracle is brute-force top-k under a
completeness argument MEASURED at the driver operating point on the
real testdata; random vectors can legitimately miss recall there, so a
mismatch would indict the operating point, not the code. Their
exactness story is the measured completeness check
(tests/test_ann.py -k driver_operating_point) plus ann_recall_report.

Usage: python tools/deep_fuzz_emb.py [n_corpora] [seed0]
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

EMB_QUERIES = [
    "ann_topk_bruteforce", "vector_analyze", "knn_classify",
    "label_centroids", "closest_match", "embedding_quantize",
    "centroid_assign", "kmeans_refine", "dedup_embedding",
    "semantic_dedup", "embedding_drift", "graph_dedup",
]

DIMS = 8
_PALETTE = [0.0, 1.0, -1.0, 0.5, 0.25, 2.5, -0.75, float("nan")]


def _vec(rng: random.Random):
    r = rng.random()
    if r < 0.10:
        return None
    if r < 0.18:
        return [0.0] * DIMS                       # zero norm
    if r < 0.26:
        return [float("nan")] * DIMS              # all-NaN
    return [rng.choice(_PALETTE) for _ in range(DIMS)]


def gen_embeddings(rng: random.Random):
    if rng.random() < 0.08:
        return []
    n = rng.randint(1, 25)
    ids = rng.sample(range(0, 60), n)
    rows, pool = [], []
    for i in ids:
        if pool and rng.random() < 0.25:
            v = list(pool[rng.randrange(len(pool))])  # duplicate: tie stress
        else:
            v = _vec(rng)
        if v is not None:
            pool.append(v)
        rows.append((i, v, rng.choice([None, 0, 1, 2])))
    return rows


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return repr(v)


def main() -> None:
    n_corpora = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 11000
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    spark = get_spark("deep-fuzz-emb")
    failures = []
    for c in range(n_corpora):
        seed = seed0 + c
        rng = random.Random(seed)
        d = tempfile.mkdtemp(prefix=f"dfe_{seed}_")
        emb = spark.createDataFrame(
            gen_embeddings(rng),
            "vec_id long, embedding array<float>, label int")
        emb.coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet")
        checked = 0
        for name in EMB_QUERIES:
            if name not in oracles:
                continue
            try:
                con = duckdb.connect()
                try:
                    con.execute(
                        f"CREATE VIEW embeddings AS SELECT * FROM "
                        f"read_parquet('{d}/embeddings.parquet/*.parquet')")
                    cur = con.execute(oracles[name])
                    ocols = [x[0] for x in cur.description]
                    orows = cur.fetchall()
                finally:
                    con.close()
                out = queries[name](spark, d)
                srows = out.collect()
                assert sorted(out.columns) == sorted(ocols)
                assert len(srows) == len(orows), (len(srows), len(orows))
                o_idx = [ocols.index(x) for x in sorted(ocols)]
                s_idx = [out.columns.index(x) for x in sorted(out.columns)]
                oset = sorted(tuple(_norm(r[i]) for i in o_idx)
                              for r in orows)
                sset = sorted(tuple(_norm(r[i]) for i in s_idx)
                              for r in srows)
                assert sset == oset, \
                    [p for p in zip(sset, oset) if p[0] != p[1]][:3]
                checked += 1
            except Exception as e:  # noqa: BLE001 — report + continue
                failures.append((seed, name, repr(e)[:300]))
                print(f"FAIL seed={seed} {name}: {repr(e)[:300]}")
        print(f"corpus seed={seed}: {checked} emb entries checked")
    spark.stop()
    print(f"{n_corpora} corpora x {len(EMB_QUERIES)} emb entries: "
          f"{len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
