"""Deterministic sampling / splitting — training-corpus staples.

``df.sample()`` is seed-dependent per partitioning and non-reproducible
across engines; these operators derive keep/assign decisions from an
md5 hash of a stable key, so the same row gets the same fate on any
engine, any partitioning, any cluster size — and the DuckDB oracle can
reproduce the selection bit-for-bit (same trick as the MinHash/hashed-TF
family: md5-prefix integer arithmetic).

All pure Catalyst: a scan + filter/project that pushes down and codegens;
zero shuffles, scales linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# hash granularity: decisions are exact integer comparisons at 1e-6
_DENOM = 1_000_000


def _hash_bucket(key: Column, seed: int) -> Column:
    """Uniform bucket in [0, 1e6) from md5(seed|key) — 60-bit prefix, then
    modulo (bias 2^60 % 1e6 / 2^60 ~ 1e-13, irrelevant at any corpus size)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), key.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return h % _DENOM


def hash_bucket_sql(key_sql: str, seed: int) -> str:
    """DuckDB twin of ``_hash_bucket`` (HUGEINT-safe)."""
    return (
        f"(('0x' || substring(md5('{seed}|' || CAST({key_sql} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {_DENOM})"
    )


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. rebalance languages in a
    training mix: upsample rare langs to rate 1.0, downsample the head).

    Rows whose stratum has no configured rate keep ``default_rate``.
    """
    threshold = F.lit(int(default_rate * _DENOM))
    for stratum, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(stratum_col) == stratum, F.lit(int(rate * _DENOM))
        ).otherwise(threshold)
    return df.filter(_hash_bucket(F.col(key_col), seed) < threshold)


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test) by hash
    range — disjoint, exhaustive, stable under data growth: a row's split
    never changes when other rows are added or the frame is repartitioned.
    """
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    bucket = _hash_bucket(F.col(key_col), seed)
    expr = None
    acc = 0.0
    items = sorted(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = bucket < int(acc * _DENOM)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def mixture_sample(
    df: DataFrame,
    mixture: dict[str, float],
    stratum_col: str,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Sample to TARGET mixture proportions (the data-mixing step of a
    training corpus: "50% web, 30% books, 20% code"). Downsampling-only:
    finds the largest total T with w_g*T <= count_g for every stratum
    (T = min_g count_g/w_g), then hash-keeps rate_g = w_g*T/count_g per
    stratum — the output's stratum shares match ``mixture`` up to hash
    granularity while discarding as little data as possible.

    One counting aggregation (O(strata) driver floats), then a pushed-down
    hash filter — no shuffle of the kept rows. Strata not in ``mixture``
    are dropped. Deterministic: same rows survive on any engine/partitioning
    (exact md5-threshold arithmetic, same as the other sampling ops).
    """
    if not mixture or any(w <= 0 for w in mixture.values()):
        raise ValueError("mixture must be non-empty with positive weights")
    total_w = sum(mixture.values())
    shares = {g: w / total_w for g, w in sorted(mixture.items())}
    counts = {
        r[0]: r[1]
        for r in df.filter(F.col(stratum_col).isin(*shares))
        .groupBy(stratum_col)
        .count()
        .collect()
    }
    t_max = min(
        (counts.get(g, 0) / s for g, s in shares.items()), default=0.0
    )
    threshold = F.lit(0)
    for g, s in shares.items():
        if counts.get(g):
            rate = min(1.0, s * t_max / counts[g])
            threshold = F.when(
                F.col(stratum_col) == g, F.lit(int(rate * _DENOM))
            ).otherwise(threshold)
    return df.filter(_hash_bucket(F.col(key_col), seed) < threshold)


def mixture_sample_sql(
    mixture: dict[str, float],
    stratum_col: str,
    table: str = "documents",
    key_sql: str = "doc_id",
    seed: int = 42,
) -> str:
    """DuckDB twin of ``mixture_sample`` (same T/rate arithmetic in SQL —
    double division/multiplication in the same order, so thresholds agree
    bit-for-bit)."""
    total_w = sum(mixture.values())
    vals = ", ".join(
        f"('{g}', {w / total_w!r})" for g, w in sorted(mixture.items())
    )
    return f"""
WITH w AS (SELECT * FROM (VALUES {vals}) t(stratum, share)),
counts AS (
  SELECT {stratum_col} AS stratum, count(*) AS c FROM {table}
  WHERE {stratum_col} IN (SELECT stratum FROM w) GROUP BY 1),
tmax AS (SELECT min(c / share) AS t FROM counts JOIN w USING (stratum)),
rates AS (
  SELECT stratum,
         CAST(floor(least(1.0, share * (SELECT t FROM tmax) / c) * {_DENOM})
              AS BIGINT) AS thr
  FROM counts JOIN w USING (stratum))
SELECT d.* FROM {table} d
JOIN rates r ON d.{stratum_col} = r.stratum
WHERE {hash_bucket_sql(key_sql, seed)} < r.thr
"""


def cap_per_group(
    df: DataFrame,
    group_col: str,
    max_rows: int,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-group cap (e.g. at most N documents per source
    domain — the anti-overrepresentation step of a corpus mix). Rows are
    ranked inside each group by (hash, key) — a stable shuffle — and ranks
    above ``max_rows`` are dropped. One exchange on the group key; the
    window is rank-limited so AQE's WindowGroupLimit prunes per-task.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        _hash_bucket(F.col(key_col), seed).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_rows)
        .drop("_rk")
    )


def temperature_sample(
    df: DataFrame,
    alpha: float,
    stratum_col: str,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Temperature-scaled rebalancing: output stratum shares follow
    count^alpha (alpha<1 flattens the source distribution — the multilingual
    / multi-domain upsampling rule). Downsample-only; the closed form is

        rate_g = (min_h count_h / count_g) ** (1 - alpha)

    (the share normalizer cancels against T = min_h count_h/share_h, so no
    cross-stratum float sum exists — with alpha=0.5 the power is a sqrt,
    which is IEEE-exact and bitwise identical on every engine). One counting
    aggregation, O(strata) driver floats, then a pushed-down hash filter."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    counts = {
        r[0]: r[1] for r in df.groupBy(stratum_col).count().collect()
    }
    if not counts:
        return df
    import math

    c_min = min(counts.values())
    threshold = F.lit(0)
    for g in sorted(counts):
        # alpha=0.5 -> sqrt: IEEE-exact (pow(x, .5) is libm-dependent)
        ratio = c_min / counts[g]
        rate = (
            math.sqrt(ratio) if alpha == 0.5 else ratio ** (1.0 - alpha)
        )
        threshold = F.when(
            F.col(stratum_col) == g, F.lit(int(rate * _DENOM))
        ).otherwise(threshold)
    return df.filter(_hash_bucket(F.col(key_col), seed) < threshold)


def temperature_sample_sql(
    alpha: float,
    stratum_col: str,
    table: str = "documents",
    key_sql: str = "doc_id",
    seed: int = 42,
) -> str:
    """DuckDB twin of ``temperature_sample`` (same closed-form arithmetic)."""
    ratio = f"(CAST((SELECT m FROM cmin) AS DOUBLE) / c)"
    powed = (
        f"sqrt({ratio})" if alpha == 0.5 else f"pow({ratio}, {1.0 - alpha!r})"
    )
    return f"""
WITH counts AS (
  SELECT {stratum_col} AS stratum, count(*) AS c FROM {table} GROUP BY 1),
cmin AS (SELECT min(c) AS m FROM counts),
rates AS (
  SELECT stratum,
         CAST(floor({powed} * {_DENOM}) AS BIGINT) AS thr
  FROM counts)
SELECT d.* FROM {table} d
JOIN rates r ON d.{stratum_col} = r.stratum
WHERE {hash_bucket_sql(key_sql, seed)} < r.thr
"""


def _es_key(key: Column, weight: Column, seed: int) -> Column:
    """Efraimidis-Spirakis key u^(1/w): u is a deterministic 48-bit md5
    uniform (exact in a double), w the row weight. Rounded to 6dp so the
    cross-engine last-ulp of pow() can never reorder; ties (including
    rounded collisions) break on the sample key column deterministically."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}|"), key.cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**12))
    )
    return F.round(F.pow(u, F.lit(1.0) / weight.cast("double")), 6)


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    the n rows with the largest u^(1/w) keys are exactly a weighted sample
    — one pass, no replacement bookkeeping. Deterministic like the rest of
    the family (same rows win on any engine/partitioning), and the top-n is
    a distributed TakeOrdered (per-partition heads merged at the driver,
    O(n) rows), never a global sort."""
    k = _es_key(F.col(key_col), F.col(weight_col), seed)
    return (
        df.withColumn("es_key", k.cast("double"))
        .orderBy(F.col("es_key").desc(), F.col(key_col).asc())
        .limit(n)
    )


def es_key_sql(key_sql: str, weight_sql: str, seed: int) -> str:
    """DuckDB twin of ``_es_key``."""
    return (
        f"round(pow(CAST(('0x' || substr(md5('{seed}|' || CAST({key_sql} AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE)"
        f" / {float(16**12)!r}, 1.0 / CAST({weight_sql} AS DOUBLE)), 6)"
    )
