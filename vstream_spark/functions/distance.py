"""Vector distance expressions — pure Catalyst column expressions.

These run JVM-side inside whole-stage codegen (no Python in the hot path):
``zip_with`` + ``aggregate`` (a left fold, so summation order is deterministic
left-to-right — required for bitwise-stable cross-engine comparison against the
DuckDB oracle).

Semantics mirror the reference's distance spaces (``hnswlib.h:252``: L2
squared and IP; cosine exists as source ``space_cos.h``): 'l2' is **squared**
L2 (no sqrt), 'ip' follows hnswlib's convention ``1 - <a,b>`` so that smaller
is closer for all metrics, 'cosine' is ``1 - cos(a,b)``.

All arithmetic is in float64: inputs are widened element-wise before any op so
Spark and DuckDB agree bit-for-bit. ``index/distance.py`` is the numpy form of
the same contract (same conventions, zero norm included); its ``fold`` sums in
the same left-to-right order and matches these values bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance: sum((a_i - b_i)^2), left-to-right fold.

    The casts are fused INTO the zip_with lambda (not two separate
    ``transform`` passes): per evaluation that is 2 array traversals +
    1 intermediate array instead of 4 + 3, and this expression sits inside
    the O(Q x N) pair loop of every exact search. Identical values — each
    element is cast-then-subtracted in the same order either way."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def dot(a: Column, b: Column) -> Column:
    """Inner product sum(a_i * b_i), left-to-right fold (casts fused, as
    in ``l2sq``)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def inner_product(a: Column, b: Column) -> Column:
    """hnswlib IP 'distance': 1 - <a, b> (smaller = closer)."""
    return F.lit(1.0) - dot(a, b)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_distance(a: Column, b: Column) -> Column:
    """1 - cosine similarity (zero-norm vectors treated as similarity 0)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom).otherwise(F.lit(0.0))


def distance_expr(a: Column, b: Column, metric: str) -> Column:
    """Dispatch on metric name (VectorIndexConf.metric)."""
    if metric == "l2":
        return l2sq(a, b)
    if metric == "ip":
        return inner_product(a, b)
    if metric == "cosine":
        return cosine_distance(a, b)
    raise ValueError(f"unknown metric {metric!r}")


# ---------------------------------------------------------------------------
# DuckDB-oracle SQL fragments. Same fold order / same float64 widening as the
# Column expressions above, so results hash-match. `a` / `b` are SQL
# expressions of type FLOAT[].
# ---------------------------------------------------------------------------

def l2sq_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
        f" p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
        f" p -> p[1] * p[2]))"
    )


def ip_sql(a: str, b: str) -> str:
    return f"(1.0 - {dot_sql(a, b)})"


def cosine_sim_sql(a: str, b: str) -> str:
    denom = f"(sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"
    return f"(CASE WHEN {denom} <> 0.0 THEN {dot_sql(a, b)} / {denom} ELSE 0.0 END)"


def cosine_sql(a: str, b: str) -> str:
    return f"(1.0 - {cosine_sim_sql(a, b)})"


def distance_sql(a: str, b: str, metric: str) -> str:
    if metric == "l2":
        return l2sq_sql(a, b)
    if metric == "ip":
        return ip_sql(a, b)
    if metric == "cosine":
        return cosine_sql(a, b)
    raise ValueError(f"unknown metric {metric!r}")
