"""Data-quality audit operators + histogram profiler."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olake_spark.operators.audit import audit_keys, audit_referential, audit_summary
from olake_spark.operators.profile import histogram


def test_audit_keys_counts_dupes_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "d"), (None, "e"), (3, "f")],
        "k int, v string",
    )
    r = audit_keys(df, ["k"], name="t").first()
    assert r.relation == "t"
    assert r.n_rows == 6
    assert r.n_distinct_keys == 3  # nulls excluded, SQL count(DISTINCT)
    assert r.n_null_keys == 2
    assert r.n_excess_rows == 1  # one duplicate of k=1 among valid keys


def test_audit_keys_composite(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 2), (2, None)], "a int, b int"
    )
    r = audit_keys(df, ["a", "b"], name="t").first()
    assert (r.n_distinct_keys, r.n_null_keys, r.n_excess_rows) == (2, 1, 1)


def test_audit_referential_orphans(spark):
    child = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    orphans = audit_referential(child, parent, ["fk"], ["pk"]).collect()
    assert [r.fk for r in orphans] == [9]  # null fk is not a violation


def test_audit_summary_report(spark):
    child = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    rep = {r.relation: r for r in audit_summary(
        [("c->p", child, parent, ["fk"], ["pk"])]
    ).collect()}
    r = rep["c->p"]
    assert (r.n_rows, r.n_fk_set, r.n_orphans) == (4, 3, 1)


def test_histogram_clamps_and_skips_nulls(spark):
    df = spark.createDataFrame(
        [(x,) for x in [-5.0, 0.0, 2.5, 5.0, 9.9, 15.0, None]], "x double"
    )
    got = {r.bin: r.n for r in histogram(df, "x", 0.0, 10.0, 4).collect()}
    # bins of width 2.5 over [0, 10): -5 clamps to 0, 15 clamps to 3
    assert got == {0: 2, 1: 1, 2: 1, 3: 2}
    assert sum(got.values()) == 6  # nulls excluded


def test_histogram_rejects_bad_range(spark):
    df = spark.range(1).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(ValueError):
        histogram(df, "x", 5.0, 5.0, 4)


def test_numeric_outlier_stats_mad(spark):
    """Median/MAD flags the planted spike and ignores the clean group; the
    MAD=0 degenerate case flags any deviation at all."""
    from olake_spark.operators.audit import numeric_outlier_stats

    rows = (
        [("clean", float(100 + i)) for i in range(-5, 6)]       # 95..105
        + [("spiky", float(100 + i)) for i in range(-5, 6)]
        + [("spiky", 1_000_000.0)]                              # corrupt value
        + [("const", 7.0)] * 10 + [("const", 9.0)]              # MAD = 0
        + [("holey", float(i)) for i in (1, 2, 3)] + [("holey", None)] * 7
        + [("void", None)] * 4                                  # all-NULL group
    )
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {r.grp: r for r in numeric_outlier_stats(df, "grp", "v", k=3.0).collect()}
    assert out["clean"].median == 100.0 and out["clean"].n_outliers == 0
    # even count (12): exact interpolated median of 95..105 + spike = 100.5
    assert out["spiky"].n_outliers == 1 and out["spiky"].median == 100.5
    # the spike cannot drag the robust center: medians agree across groups
    assert out["spiky"].mad == out["clean"].mad
    assert out["const"].mad == 0.0 and out["const"].n_outliers == 1
    # NULLs are reported, never averaged away: n counts values only, the
    # fraction's denominator excludes NULLs, all-NULL groups still surface
    assert out["holey"].n == 3 and out["holey"].n_nulls == 7
    assert out["holey"].median == 2.0 and out["holey"].outlier_frac == 0.0
    assert out["void"].n == 0 and out["void"].n_nulls == 4
    assert out["void"].median is None and out["void"].n_outliers == 0
    assert out["void"].outlier_frac is None
