"""Round-8 operators: Kaplan-Meier, LOO target encoding, lag features,
fixed-round connected components."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olake_spark.operators.features import lag_features, target_encode_loo
from olake_spark.operators.graph import connected_components_fixed
from olake_spark.operators.survival import kaplan_meier


def test_kaplan_meier_hand_computed(spark):
    # durations: 2(obs) 2(obs) 3(cens) 4(obs) 5(cens)
    # t=2: n=5 d=2 -> S = 1e6*3 div 5 = 600000
    # t=3: n=3 d=0 -> S unchanged (600000*3 div 3)
    # t=4: n=2 d=1 -> 600000*1 div 2 = 300000
    # t=5: n=1 d=0 -> 300000
    rows = [(2, True), (2, True), (3, False), (4, True), (5, False)]
    df = spark.createDataFrame(rows, "dur long, obs boolean")
    out = {r.duration: r for r in kaplan_meier(df, "dur", "obs").collect()}
    assert [out[t].n_at_risk for t in (2, 3, 4, 5)] == [5, 3, 2, 1]
    assert [out[t].n_events for t in (2, 3, 4, 5)] == [2, 0, 1, 0]
    assert [out[t].survival_micro for t in (2, 3, 4, 5)] == [
        600000, 600000, 300000, 300000,
    ]


def test_kaplan_meier_partition_invariant(spark):
    rows = [(i % 7, i % 3 == 0) for i in range(200)]
    df = spark.createDataFrame(rows, "dur long, obs boolean")
    a = sorted(map(tuple, kaplan_meier(df, "dur", "obs").collect()))
    b = sorted(
        map(tuple, kaplan_meier(df.repartition(13), "dur", "obs").collect())
    )
    assert a == b


def test_target_encode_loo_exact_and_singleton_fallback(spark):
    # category A: targets 1, 2, 3 -> LOO means (2.5, 2.0, 1.5)
    # category B: singleton 10 -> global LOO (1+2+3)/3 = 2.0
    rows = [(1, "A", 1.0), (2, "A", 2.0), (3, "A", 3.0), (4, "B", 10.0)]
    df = spark.createDataFrame(rows, "id long, cat string, y double")
    out = {r.id: r.te_micro for r in target_encode_loo(df, "cat", "y").collect()}
    assert out == {1: 2_500_000, 2: 2_000_000, 3: 1_500_000, 4: 2_000_000}


def test_target_encode_loo_never_sees_own_label(spark):
    # one extreme row: its own encoding must exclude the outlier entirely
    rows = [(i, "A", 1.0) for i in range(9)] + [(99, "A", 1000.0)]
    df = spark.createDataFrame(rows, "id long, cat string, y double")
    out = {r.id: r.te_micro for r in target_encode_loo(df, "cat", "y").collect()}
    assert out[99] == 1_000_000  # mean of the nine 1.0 peers
    assert out[0] == (8 * 1_000_000 + 1_000_000_000) // 9


def test_lag_features_shapes_and_values(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=1), 2.0),
        (1, t0 + dt.timedelta(minutes=3), 4.0),
        (1, t0 + dt.timedelta(minutes=6), 8.0),
    ]
    df = spark.createDataFrame(rows, "user long, ts timestamp, v double")
    out = sorted(
        lag_features(df, ["user"], "ts", "v").collect(),
        key=lambda r: r.ts_us,
    )
    assert [r.lag1_micro for r in out] == [None, 1_000_000, 2_000_000, 4_000_000]
    assert [r.lag2_micro for r in out] == [None, None, 1_000_000, 2_000_000]
    assert [r.roll3_sum_micro for r in out] == [
        None, 1_000_000, 3_000_000, 7_000_000,
    ]
    assert [r.roll3_n for r in out] == [0, 1, 2, 3]
    assert [r.dt_us for r in out] == [None, 60_000_000, 120_000_000, 180_000_000]


def test_connected_components_fixed_path_and_island(spark):
    # path 1-2-3-4-5 (diameter 4) plus island 10-11: with pointer
    # shortcutting 3 rounds more than cover it
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    out = {
        r.node: r.component
        for r in connected_components_fixed(edges, rounds=3).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_fixed_validates_rounds(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    for bad in (0, -2, 1.5, True):
        with pytest.raises(ValueError, match="rounds"):
            connected_components_fixed(edges, rounds=bad)


def test_target_encode_loo_null_semantics(spark):
    # NULL targets: excluded from sums AND counts; their own te is NULL.
    # NULL categories: dropped (equi-join). Peers' encodings unaffected.
    rows = [
        (1, "A", 1.0), (2, "A", 3.0), (3, "A", None),
        (4, None, 9.0),
    ]
    df = spark.createDataFrame(rows, "id long, cat string, y double")
    out = {r.id: r.te_micro for r in target_encode_loo(df, "cat", "y").collect()}
    assert set(out) == {1, 2, 3}  # NULL-category row dropped
    assert out[1] == 3_000_000 and out[2] == 1_000_000  # NULL peer ignored
    assert out[3] is None


def test_target_encode_loo_degenerate_single_value(spark):
    # the table's only non-null target has nobody to average: NULL, not
    # an ANSI division-by-zero error
    df = spark.createDataFrame(
        [(1, "A", 5.0), (2, "B", None)], "id long, cat string, y double"
    )
    out = {r.id: r.te_micro for r in target_encode_loo(df, "cat", "y").collect()}
    assert out == {1: None, 2: None}


def test_kaplan_meier_null_durations_excluded(spark):
    rows = [(2, True), (None, True), (3, False)]
    df = spark.createDataFrame(rows, "dur long, obs boolean")
    out = {r.duration: r for r in kaplan_meier(df, "dur", "obs").collect()}
    assert set(out) == {2, 3}
    assert out[2].n_at_risk == 2  # the NULL subject never enters at-risk
