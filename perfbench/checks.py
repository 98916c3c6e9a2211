"""Output checks, run once per process outside the timed region.

Ops with a ``__spark_entry__.oracle_sql()`` twin are compared with that
DuckDB SQL over the same generated parquet files: same column names,
same rows, order-insensitive; values exact, except that doubles may
differ in their last bits (the two engines round some conversions, such
as decimal to double, differently).
"""

from __future__ import annotations

import itertools
import math
import os

import duckdb


REL_TOL = 1e-12


def _key(v):
    # doubles sort by their 9 leading digits, so that last-bit
    # differences cannot reorder the rows being paired up
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return repr(v)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (a == b or math.isclose(a, b, rel_tol=REL_TOL)
                or (math.isnan(a) and math.isnan(b)))
    return repr(a) == repr(b)


def _canon(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(r[i] for i in order) for r in rows),
                  key=lambda t: tuple(_key(v) for v in t))


class Oracle:
    """DuckDB over one input directory; every parquet file is a view."""

    def __init__(self, in_dir: str):
        self.in_dir = in_dir
        self._set_ops = None

    def run(self, sql: str, views: dict | None = None):
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            for f in sorted(os.listdir(self.in_dir)):
                if f.endswith(".parquet"):
                    src = f"SELECT * FROM read_parquet('{self.in_dir}/{f}')"
                    con.execute(f"CREATE VIEW {f[:-8]} AS {src}")
                    con.execute(f"CREATE VIEW {f[:-8]}_raw AS {src}")
            for name, body in (views or {}).items():
                con.execute(f"CREATE OR REPLACE VIEW {name} AS {body}")
            cur = con.execute(sql)
            return [d[0] for d in cur.description], cur.fetchall()
        finally:
            con.close()

    def sql(self, sql: str, views: dict | None = None):
        def check(rows) -> str | None:
            ocols, orows = self.run(sql, views)
            scols = list(rows[0].__fields__) if rows else ocols
            if sorted(scols) != sorted(ocols):
                return f"columns {sorted(scols)} != oracle {sorted(ocols)}"
            got, want = _canon(scols, rows), _canon(ocols, orows)
            diff = next(((g, w) for g, w in itertools.zip_longest(got, want)
                         if g is None or w is None
                         or not all(map(_same, g, w))), None)
            if diff:
                return f"{len(got)} rows vs oracle {len(want)}; first diff {diff}"
            return None
        return check

    def twin(self, entry: str, views: dict | None = None):
        import __spark_entry__
        return self.sql(__spark_entry__.oracle_sql()[entry], views)

    def set_count(self, op: str):
        def check(rows) -> str | None:
            if self._set_ops is None:
                import __spark_entry__
                self._set_ops = dict(self.run(__spark_entry__.oracle_sql()["kv_set_ops"])[1])
            got = rows[0]["n"] if rows else None
            return None if got == self._set_ops[op] else \
                f"{op} count {got} != oracle {self._set_ops[op]}"
        return check
