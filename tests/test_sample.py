"""Deterministic sampling/splitting invariants (training-corpus ops)."""

import pytest
from pyspark.sql import functions as F

from vstream_spark.operators.sample import (
    hash_split,
    stratified_hash_sample,
)


@pytest.fixture(scope="module")
def rows(spark):
    return spark.createDataFrame(
        [(i, "en" if i % 3 == 0 else "de") for i in range(2000)],
        "doc_id bigint, lang string",
    )


def test_stratified_rates_apply_per_stratum(rows):
    got = stratified_hash_sample(
        rows, {"en": 1.0}, "lang", default_rate=0.2
    ).groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in got}
    assert by["en"] == 667  # rate 1.0 keeps every 'en' row
    assert 0.13 <= by["de"] / 1333 <= 0.27


def test_hash_split_disjoint_exhaustive_stable(rows, spark):
    out = hash_split(rows, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == 2000  # exhaustive, one split per row
    assert 0.75 <= counts["train"] / 2000 <= 0.85
    assert counts["val"] > 0 and counts["test"] > 0
    # stability under growth: the original rows keep their split when the
    # corpus doubles
    before = {r.doc_id: r.split for r in out.collect()}
    bigger = spark.createDataFrame(
        [(i, "en") for i in range(4000)], "doc_id bigint, lang string"
    )
    after = {
        r.doc_id: r.split
        for r in hash_split(bigger, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    }
    assert all(after[i] == s for i, s in before.items())


def test_sample_is_python_free_no_shuffle(rows):
    from vstream_spark.plans.audit import assert_plan_lacks, count_exchanges

    s = stratified_hash_sample(rows, {"en": 0.5}, "lang")
    assert_plan_lacks(s, "BatchEvalPython", "ArrowEvalPython")
    assert count_exchanges(s) == 0


def test_cap_per_group_binds_and_is_stable(spark):
    from vstream_spark.operators.sample import cap_per_group

    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(300)], "doc_id bigint, source string"
    )
    capped = cap_per_group(df, "source", 20)
    counts = {r.source: r["count"] for r in capped.groupBy("source").count().collect()}
    assert all(c == 20 for c in counts.values())
    # stability: the kept set for a group doesn't change when OTHER groups grow
    kept_before = {r.doc_id for r in capped.filter("source = 'src0'").collect()}
    bigger = df.union(
        spark.createDataFrame(
            [(1000 + i, "src1") for i in range(50)], "doc_id bigint, source string"
        )
    )
    kept_after = {
        r.doc_id
        for r in cap_per_group(bigger, "source", 20).filter("source = 'src0'").collect()
    }
    assert kept_before == kept_after
    # groups under the cap are untouched
    small = spark.createDataFrame([(1, "s"), (2, "s")], "doc_id bigint, source string")
    assert cap_per_group(small, "source", 20).count() == 2


def test_mixture_sample_hits_target_shares(spark):
    """Output shares match the target mixture (within hash granularity) and
    the binding stratum (smallest count/share ratio) is kept whole."""
    from vstream_spark.operators.sample import mixture_sample

    rows = (
        [(i, "web") for i in range(600)]
        + [(1000 + i, "books") for i in range(90)]
        + [(2000 + i, "code") for i in range(300)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = mixture_sample(df, {"web": 0.5, "books": 0.3, "code": 0.2}, "source")
    counts = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    # books binds: T = 90/0.3 = 300 -> targets web 150, books 90, code 60
    assert counts["books"] == 90
    assert abs(counts["web"] - 150) <= 150 * 0.15
    assert abs(counts["code"] - 60) <= 60 * 0.2
    # strata outside the mixture are dropped
    df2 = df.union(
        spark.createDataFrame([(9000, "junk")], "doc_id bigint, source string")
    )
    out2 = mixture_sample(df2, {"web": 0.5, "books": 0.3, "code": 0.2}, "source")
    assert out2.filter("source = 'junk'").count() == 0


def test_mixture_sample_deterministic(spark):
    from vstream_spark.operators.sample import mixture_sample

    rows = [(i, "a" if i % 3 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    kept1 = {r.doc_id for r in mixture_sample(df, {"a": 0.5, "b": 0.5}, "source").collect()}
    kept2 = {
        r.doc_id
        for r in mixture_sample(df.repartition(7), {"a": 0.5, "b": 0.5}, "source").collect()
    }
    assert kept1 == kept2 and kept1


def test_temperature_sample_flattens_shares(spark):
    import math

    from vstream_spark.operators.sample import temperature_sample

    rows = (
        [(i, "big") for i in range(1600)]
        + [(10_000 + i, "mid") for i in range(400)]
        + [(20_000 + i, "small") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = temperature_sample(df, alpha=0.5, stratum_col="source")
    counts = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    # closed form: keep rate = sqrt(c_min/c_g) -> expected 400, 200, 100
    assert counts["small"] == 100  # smallest stratum kept whole
    for src, c, exp in (("big", 1600, 400), ("mid", 400, 200)):
        assert abs(counts[src] - exp) <= exp * 0.2, (src, counts)
    # post-sample shares follow count^0.5 (4:2:1), not raw counts (16:4:1)
    assert counts["big"] < 1600 * 0.35


def test_temperature_sample_deterministic_and_alpha1_identity(spark):
    from vstream_spark.operators.sample import temperature_sample

    rows = [(i, "a" if i % 4 else "b") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    kept1 = {r.doc_id for r in temperature_sample(df, 0.5, "source").collect()}
    kept2 = {
        r.doc_id
        for r in temperature_sample(df.repartition(5), 0.5, "source").collect()
    }
    assert kept1 == kept2 and kept1
    # alpha=1 -> rate 1 everywhere: identity
    assert temperature_sample(df, 1.0, "source").count() == 400
