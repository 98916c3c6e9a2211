"""Vector math on array columns — JVM expressions only (block E support).

Spark-first re-expression of the reference's vector toolkit
(reference: src/Resin.TextAnalysis/VectorOperations.cs:305-314 CosAngle,
316-448 Analyze; src/Resin.MachineLearning/GraphExtensions.cs:75-84).

All folds are strict left-to-right (`F.aggregate`), and every oracle
fragment uses DuckDB `list_reduce` — also left-to-right — over the same
double-cast elements, so cosine/dot/norm values are bit-identical
across engines: no tolerance needed in the correctness hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_double(col: Column | str) -> Column:
    return _c(col).cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(to_double(a), to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """CosAngle: dot / (|a||b|) (VectorOperations.cs:305-314).

    Partial: ANSI mode raises on a zero norm — use cosine_gated where a
    zero vector can legally appear."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_gated(a: Column | str, b: Column | str) -> Column:
    """Total CosAngle with the reference Analyze gate
    (VectorOperations.cs:316-448): 0 when the dot or either norm is 0 —
    identical to ``cosine`` whenever both vectors are non-degenerate,
    and defined (score 0) on zero vectors instead of raising/NaN."""
    d, na, nb = dot(a, b), norm(a), norm(b)
    return F.when((d != 0) & (na != 0) & (nb != 0), d / (na * nb)) \
        .otherwise(F.lit(0.0))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    diff = F.zip_with(to_double(a), to_double(b), lambda x, y: x - y)
    return F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x))


def l1_distance(a: Column | str, b: Column | str) -> Column:
    diff = F.zip_with(to_double(a), to_double(b), lambda x, y: F.abs(x - y))
    return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)


def nonzero_overlap(a: Column | str, b: Column | str) -> Column:
    """Count of dimensions where both vectors are non-zero."""
    both = F.zip_with(
        to_double(a), to_double(b),
        lambda x, y: ((x != 0) & (y != 0)).cast("int"),
    )
    return F.aggregate(both, F.lit(0), lambda acc, x: acc + x).cast("bigint")


def nonzero_jaccard(a: Column | str, b: Column | str) -> Column:
    """overlap / union of non-zero index sets (Analyze's jaccard metric)."""
    either = F.zip_with(
        to_double(a), to_double(b),
        lambda x, y: ((x != 0) | (y != 0)).cast("int"),
    )
    union = F.aggregate(either, F.lit(0), lambda acc, x: acc + x)
    return nonzero_overlap(a, b) / union


def l2_normalize(a: Column | str) -> Column:
    n = norm(a)
    return F.transform(to_double(a), lambda x: x / n)


# --- DuckDB oracle fragments (same sequential fold order) --------------------

def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),"
        " (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def cosine_gated_sql(a: str, b: str) -> str:
    d, na, nb = dot_sql(a, b), norm_sql(a), norm_sql(b)
    return (
        f"(CASE WHEN {d} <> 0 AND {na} <> 0 AND {nb} <> 0"
        f" THEN {d} / ({na} * {nb}) ELSE 0.0 END)"
    )


def l2_distance_sql(a: str, b: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))),"
        " (acc, x) -> acc + x))"
    )


def l1_distance_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> abs(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))),"
        " (acc, x) -> acc + x)"
    )


def nonzero_overlap_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> CASE WHEN {a}[i] <> 0 AND {b}[i] <> 0 THEN 1 ELSE 0 END),"
        " (acc, x) -> acc + x) AS BIGINT)"
    )
