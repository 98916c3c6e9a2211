"""Deep randomized fuzz over the RELATIONAL driver entries (blocks
A/B/G + the lineitem/events sketches).

tools/deep_fuzz_driver covers the documents-based entries; this is its
twin for the TPC-H-ish star schema and the events stream: N seeded
random corpora with the relational nastiness menu — independently
EMPTY tables, 1-row tables, dangling foreign keys, NULL balances/
dates/segments/priorities, unicode names, duplicated timestamps (tie
stress for every window/rank), events at exact hour boundaries,
malformed/empty/NULL JSON props, zero/negative prices — compared
engine-vs-oracle with the driver-identical column-sorted repr
comparison. Keys (o_orderkey, l_orderkey+l_linenumber, event_id,
c_custkey…) stay NON-NULL and unique: that is the generated-data
contract the real tables guarantee; everything else is fair game.

A failure prints the corpus seed so it can be replayed and pinned:
per the window contract, a hole in a WINDOW entry is fixed in-round,
a hole in a frozen tail entry gets a strict-xfail pin + a named fix in
the next round's checklist.

Usage: python tools/deep_fuzz_rel.py [n_corpora] [seed0]
"""

from __future__ import annotations

import datetime as dt
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

REL_QUERIES = [
    # block A
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "topk_per_group", "agg_rollup",
    # block B
    "kv_try_put", "kv_get_many", "kv_set_ops", "kv_key_join",
    "kv_paginate",
    # block G
    "events_hourly_rollup", "events_sessionize", "events_props_json",
    "events_asof_join", "session_overlap", "events_moving_agg",
    "events_funnel", "events_gap_fill", "events_retention",
    # sketches over the star schema / events
    "kmv_distinct", "price_quantiles",
]

_NAMES = ["alpha", "Büro", "７漢", "", "x", "a b", None]
_SEGMENTS = ["BUILDING", "MACHINERY", None, ""]
_STATUS = ["O", "F", "P"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW", None]
# None: NULL group keys are fair game — GROUP BY groups them together
# in both engines but equi-joins/windows over the key diverge (the
# price_quantiles NULL-flag join, ADVICE r7); the fuzz must cover them.
_FLAGS = ["A", "N", "R", None]
_LINESTATUS = ["O", "F"]
_ETYPES = ["click", "view", "purchase", "signup", None]
_PROPS = ['{"k": 1}', '{"k": "v", "n": 2.5}', "{}", "not json", "", None,
          '{"nested": {"a": [1, 2]}}']
_EPOCH = dt.datetime(2026, 1, 1)


def _money(rng):
    return rng.choice([None, 0.0, -1.5, 1.0, 10.25, 999.99,
                       round(rng.uniform(0, 5000), 2)])


def _ts(rng):
    # exact hour boundaries and duplicated instants on purpose
    if rng.random() < 0.15:
        return None
    base = _EPOCH + dt.timedelta(hours=rng.randint(0, 72))
    if rng.random() < 0.5:
        return base  # boundary / duplicate magnet
    return base + dt.timedelta(seconds=rng.randint(0, 3599))


def _maybe_empty(rng, rows):
    return [] if rng.random() < 0.10 else rows


def gen_tables(rng: random.Random) -> dict[str, tuple[list, str]]:
    n_nat = rng.randint(1, 5)
    region = [(i, rng.choice(_NAMES)) for i in range(rng.randint(1, 3))]
    nation = [(i, rng.choice(_NAMES),
               rng.choice([r[0] for r in region] + [99]))  # 99 dangles
              for i in range(n_nat)]
    cust = [(k, rng.choice(_NAMES), rng.choice(range(n_nat + 2)),  # dangles
             _money(rng), rng.choice(_SEGMENTS))
            for k in rng.sample(range(0, 40), rng.randint(1, 15))]
    supp = [(k, rng.choice(_NAMES), rng.choice(range(n_nat + 2)),
             _money(rng))
            for k in rng.sample(range(0, 20), rng.randint(1, 8))]
    part = [(k, rng.choice(_NAMES), f"B{rng.randint(1, 3)}",
             rng.choice(["small brass", "large steel", None]),
             rng.choice([None, 0, 1, 25, 41, 50]), _money(rng))
            for k in rng.sample(range(0, 30), rng.randint(1, 10))]
    ckeys = [c[0] for c in cust] + [777]  # dangling custkey
    orders = [(k, rng.choice(ckeys), rng.choice(_STATUS), _money(rng),
               _ts(rng), rng.choice(_PRIO))
              for k in rng.sample(range(0, 60), rng.randint(1, 25))]
    okeys = [o[0] for o in orders] + [888]
    pkeys = [p[0] for p in part] + [999]
    skeys = [s[0] for s in supp] + [666]
    line = []
    for i in rng.sample(range(0, 120), rng.randint(1, 40)):
        line.append((rng.choice(okeys), rng.choice(pkeys),
                     rng.choice(skeys), i,
                     rng.choice([None, 0.0, 1.0, 7.0, 50.0]),
                     _money(rng),
                     rng.choice([None, 0.0, 0.05, 0.1]),
                     rng.choice([None, 0.0, 0.08]),
                     rng.choice(_FLAGS), rng.choice(_LINESTATUS),
                     _ts(rng)))
    events = [(i, _ts(rng), rng.choice([None, 1, 2, 3, 42]),
               rng.choice(_ETYPES),
               rng.choice([None, 0.0, -1.0, 2.5, float(rng.randint(0, 9))]),
               rng.choice(_PROPS))
              for i in range(rng.randint(1, 50))]
    return {
        "region": (_maybe_empty(rng, region),
                   "r_regionkey int, r_name string"),
        "nation": (_maybe_empty(rng, nation),
                   "n_nationkey int, n_name string, n_regionkey int"),
        "customer": (_maybe_empty(rng, cust),
                     "c_custkey long, c_name string, c_nationkey int, "
                     "c_acctbal double, c_mktsegment string"),
        "supplier": (_maybe_empty(rng, supp),
                     "s_suppkey long, s_name string, s_nationkey int, "
                     "s_acctbal double"),
        "part": (_maybe_empty(rng, part),
                 "p_partkey long, p_name string, p_brand string, "
                 "p_type string, p_size int, p_retailprice double"),
        "orders": (_maybe_empty(rng, orders),
                   "o_orderkey long, o_custkey long, o_orderstatus string, "
                   "o_totalprice double, o_orderdate timestamp, "
                   "o_orderpriority string"),
        "lineitem": (_maybe_empty(rng, line),
                     "l_orderkey long, l_partkey long, l_suppkey long, "
                     "l_linenumber int, l_quantity double, "
                     "l_extendedprice double, l_discount double, "
                     "l_tax double, l_returnflag string, "
                     "l_linestatus string, l_shipdate timestamp"),
        "events": (_maybe_empty(rng, events),
                   "event_id long, ts timestamp, user_id long, "
                   "event_type string, value double, props string"),
    }


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return repr(v)


def main() -> None:
    n_corpora = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 9000
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # No pinned hole classes outstanding: the four r7 pins
    # (events_props_json / events_asof_join / events_funnel /
    # agg_rollup) landed their r8 fixes and run again — regression rows
    # in test_oracle_fuzz.py::test_rel_degenerate_dataset_matches_oracle.
    spark = get_spark("deep-fuzz-rel")
    failures = []
    for c in range(n_corpora):
        seed = seed0 + c
        rng = random.Random(seed)
        d = tempfile.mkdtemp(prefix=f"dfr_{seed}_")
        tables = gen_tables(rng)
        for name, (rows, schema) in tables.items():
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.mode("overwrite").parquet(f"{d}/{name}.parquet")
        checked = 0
        for name in REL_QUERIES:
            if name not in oracles:
                continue
            try:
                con = duckdb.connect()
                try:
                    for tbl in tables:
                        con.execute(
                            f"CREATE VIEW {tbl} AS SELECT * FROM "
                            f"read_parquet('{d}/{tbl}.parquet/*.parquet')")
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
        print(f"corpus seed={seed}: {checked} rel entries checked")
    spark.stop()
    print(f"{n_corpora} corpora x {len(REL_QUERIES)} rel entries: "
          f"{len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
