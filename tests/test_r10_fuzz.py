"""Property fuzz for the round-9 wave (VERDICT r9 ask #4) plus the
mann_kendall_by_key fat-key cap pin (ask #3): percentile_cont at the
interpolation endpoints (p=0/p=1/single-row/all-ties), CUPED with a
zero-variance covariate (θ=0 path), ratio_metric_delta with a
zero-denominator arm, seasonal_decompose with period > series length,
and editdist1_join on empty / 1-char / unicode-multibyte / duplicate
strings — each against a plain-Python reference.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from olake_spark.exact import round_half_up6
from olake_spark.operators.abtest import cuped_adjust, ratio_metric_delta
from olake_spark.operators.fuzzy import editdist1_join
from olake_spark.operators.quantiles import percentile_cont
from olake_spark.operators.robust_trend import mann_kendall_by_key
from olake_spark.operators.timeseries import seasonal_decompose

T0 = dt.datetime(2024, 1, 1)


# ---------------------------------------------------------------------------
# percentile_cont interpolation endpoints
# ---------------------------------------------------------------------------


def _pcont_reference(values, p):
    """ANSI PERCENTILE_CONT over exact micro ints, like the operator."""
    micros = sorted(round(v * 1_000_000) for v in values)
    n = len(micros)
    h = (n - 1) * p + 1
    k_lo, k_hi = int(math.floor(h)), min(int(math.ceil(h)), n)
    vlo, vhi = micros[k_lo - 1], micros[k_hi - 1]
    return round_half_up6((vlo + (h - math.floor(h)) * (vhi - vlo)) / 1_000_000.0)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(-500_000, 500_000).map(lambda c: c / 100.0),
        min_size=1,
        max_size=25,
    )
)
def test_percentile_cont_endpoints_match_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    ps = [0.0, 0.25, 0.5, 1.0]
    got = {
        r["p"]: r["q_cont"]
        for r in percentile_cont(df, [], "v", ps).collect()
    }
    for p in ps:
        assert got[p] == pytest.approx(_pcont_reference(values, p), abs=1e-6)
    # endpoints are the exact order statistics
    assert got[0.0] == pytest.approx(min(values), abs=1e-6)
    assert got[1.0] == pytest.approx(max(values), abs=1e-6)


def test_percentile_cont_single_row_and_all_ties(spark):
    one = spark.createDataFrame([(42.5,)], "v double")
    rows = percentile_cont(one, [], "v", [0.0, 0.37, 1.0]).collect()
    assert [r["q_cont"] for r in rows] == [42.5, 42.5, 42.5]
    ties = spark.createDataFrame([(7.25,)] * 9, "v double")
    rows = percentile_cont(ties, [], "v", [0.0, 0.5, 0.99, 1.0]).collect()
    assert [r["q_cont"] for r in rows] == [7.25] * 4
    assert all(r["lo_micros"] == r["hi_micros"] == 7_250_000 for r in rows)


def test_percentile_cont_rejects_bad_p_even_on_empty_input(spark):
    empty = spark.createDataFrame([], "v double")
    with pytest.raises(ValueError, match=r"p must be in \[0, 1\]"):
        percentile_cont(empty, [], "v", [1.5])
    with pytest.raises(ValueError, match=r"p must be in \[0, 1\]"):
        percentile_cont(empty, [], "v", [-0.01])


# ---------------------------------------------------------------------------
# CUPED with a zero-variance covariate
# ---------------------------------------------------------------------------


def test_cuped_zero_variance_covariate_theta_zero(spark):
    # every unit shares the same pre-period value → var(X)=0 → θ := 0
    # and the adjusted mean must equal the raw mean, not NaN
    rows = [("t", 5.0, 10.0), ("t", 5.0, 12.0), ("c", 5.0, 8.0), ("c", 5.0, 9.0)]
    out = {
        r["g"]: r
        for r in cuped_adjust(
            spark.createDataFrame(rows, "g string, x double, y double"),
            "g", "x", "y",
        ).collect()
    }
    for g, want in [("t", 11.0), ("c", 8.5)]:
        assert out[g]["theta"] == 0.0
        assert out[g]["mean_post"] == pytest.approx(want, abs=1e-6)
        assert out[g]["mean_adj"] == pytest.approx(want, abs=1e-6)


# ---------------------------------------------------------------------------
# ratio_metric_delta with a zero-denominator arm
# ---------------------------------------------------------------------------


def test_ratio_delta_zero_denominator_arm_is_null(spark):
    rows = [
        ("ok", 3.0, 2.0), ("ok", 5.0, 2.0),
        ("zero", 1.0, 0.0), ("zero", 2.0, 0.0),
    ]
    out = {
        r["g"]: r
        for r in ratio_metric_delta(
            spark.createDataFrame(rows, "g string, y double, d double"),
            "g", "y", "d",
        ).collect()
    }
    assert out["ok"]["ratio"] == pytest.approx(2.0, abs=1e-6)
    assert out["zero"]["ratio"] is None  # never ±Inf/NaN
    assert out["zero"]["se"] is None


# ---------------------------------------------------------------------------
# seasonal_decompose with period > series length
# ---------------------------------------------------------------------------


def test_seasonal_decompose_period_longer_than_series(spark):
    rows = [(T0 + dt.timedelta(days=i), float(10 + i % 3)) for i in range(5)]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = seasonal_decompose(df, "ts", "v", period=30).collect()
    assert len(out) == 5  # every bucket its own phase, nothing dropped
    assert len({r["phase"] for r in out}) == 5
    for r in out:
        # the additive identity must hold exactly in micro ints
        assert (
            r["x_micro"]
            == r["trend_micro"] + r["seasonal_micro"] + r["residual_micro"]
        )


# ---------------------------------------------------------------------------
# editdist1_join degenerate shapes (empty / 1-char / unicode / dup texts)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _editdist1_reference(rows):
    out = set()
    for i, (ida, ta) in enumerate(rows):
        for idb, tb in rows[i + 1:]:
            lo, hi = min(ida, idb), max(ida, idb)
            if _lev(ta, tb) <= 1:
                out.add((lo, hi))
    return out


def _run_editdist1(spark, rows):
    df = spark.createDataFrame(rows, "id int, t string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in editdist1_join(df, "id", "t").collect()
    }
    want = _editdist1_reference(rows)
    assert {(a, b) for a, b, _ in got} == want
    by_id = dict(rows)
    for a, b, d in got:
        assert d == _lev(by_id[a], by_id[b])


def test_editdist1_empty_and_single_char(spark):
    _run_editdist1(
        spark,
        [(1, ""), (2, ""), (3, "a"), (4, "b"), (5, "ab"), (6, "x")],
    )


def test_editdist1_unicode_multibyte_is_codepoint_based(spark):
    # substring/length/levenshtein are all codepoint-based in Spark, so
    # "café"→"cafe" is ONE edit even though é is 2 UTF-8 bytes
    _run_editdist1(
        spark,
        [(1, "café"), (2, "cafe"), (3, "caf"), (4, "caffé"), (5, "日本"),
         (6, "日木"), (7, "日"), (8, "€")],
    )


def test_editdist1_duplicate_texts_distinct_ids(spark):
    rows = [(1, "same"), (2, "same"), (3, "same"), (4, "sane")]
    df = spark.createDataFrame(rows, "id int, t string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdist1_join(df, "id", "t").collect()
    }
    assert got[(1, 2)] == got[(1, 3)] == got[(2, 3)] == 0
    assert got[(1, 4)] == got[(2, 4)] == got[(3, 4)] == 1
    assert len(got) == 6


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abé", min_size=0, max_size=4),
        min_size=2,
        max_size=15,
    )
)
def test_editdist1_matches_bruteforce_reference(spark, texts):
    _run_editdist1(spark, list(enumerate(texts)))


# ---------------------------------------------------------------------------
# mann_kendall_by_key per-key bucket cap (VERDICT r9 ask #3)
# ---------------------------------------------------------------------------


def test_mann_kendall_by_key_fat_key_errors_loudly(spark):
    rows = [("hot", T0 + dt.timedelta(days=i), float(i)) for i in range(25)]
    rows += [("ok", T0 + dt.timedelta(days=i), float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = mann_kendall_by_key(df, "ts", ["k"], "v", max_buckets_per_key=10)
    with pytest.raises(Exception, match="max_buckets_per_key"):
        out.collect()


def test_mann_kendall_by_key_under_cap_unchanged(spark):
    rows = [("k1", T0 + dt.timedelta(days=i), float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    row = mann_kendall_by_key(
        df, "ts", ["k"], "v", max_buckets_per_key=10
    ).collect()[0]
    # strictly increasing series: S = C(6,2), slope = 1/day in micros
    assert row["s_stat"] == 15
    assert row["n_buckets"] == 6
    assert row["sen_slope_micro"] == pytest.approx(1_000_000.0)


# ---------------------------------------------------------------------------
# round-10 operator degenerate paths
# ---------------------------------------------------------------------------


def test_runs_test_constant_and_monotone_series(spark):
    from olake_spark.operators.robust_trend import runs_test

    flat = spark.createDataFrame(
        [(T0 + dt.timedelta(days=i), 5.0) for i in range(10)],
        "ts timestamp, v double",
    )
    row = runs_test(flat, "ts", "v").collect()[0]
    assert row["n_up"] == row["n_down"] == row["runs"] == 0
    assert row["z"] is None
    up = spark.createDataFrame(
        [(T0 + dt.timedelta(days=i), float(i)) for i in range(10)],
        "ts timestamp, v double",
    )
    row = runs_test(up, "ts", "v").collect()[0]
    assert (row["n_up"], row["n_down"], row["runs"]) == (9, 0, 1)
    assert row["z"] is None  # zero variance when one sign is absent


def test_kendall_tau_matches_bruteforce(spark):
    from olake_spark.operators.correlation import kendall_tau_b

    import itertools
    import random

    rng = random.Random(7)
    rows = [(float(rng.randint(0, 5)), float(rng.randint(0, 3)))
            for _ in range(40)]
    got = kendall_tau_b(
        spark.createDataFrame(rows, "x double, y double"), "x", "y", scale=1
    ).collect()[0]
    conc = disc = tx = ty = 0
    for (xa, ya), (xb, yb) in itertools.combinations(rows, 2):
        if xa == xb:
            tx += 1
        if ya == yb:
            ty += 1
        if (xa < xb and ya < yb) or (xa > xb and ya > yb):
            conc += 1
        elif (xa < xb and ya > yb) or (xa > xb and ya < yb):
            disc += 1
    n = len(rows)
    assert (got["concordant"], got["discordant"]) == (conc, disc)
    assert (got["ties_x_pairs"], got["ties_y_pairs"]) == (tx, ty)
    denom = math.sqrt(
        (n * (n - 1) - 2 * tx) * 1.0 * (n * (n - 1) - 2 * ty)
    )
    assert got["tau_b"] == pytest.approx(2 * (conc - disc) / denom, abs=1e-6)


def test_kendall_tau_all_ties_null(spark):
    from olake_spark.operators.correlation import kendall_tau_b

    df = spark.createDataFrame([(1.0, 2.0)] * 5, "x double, y double")
    assert kendall_tau_b(df, "x", "y").collect()[0]["tau_b"] is None


def test_skyline_duplicates_and_ties(spark):
    from olake_spark.operators.skyline import pareto_skyline_2d

    rows = [
        (1, 5, 10), (2, 5, 10),          # duplicate skyline point: both kept
        (3, 5, 9),                        # dominated inside its x group
        (4, 6, 10),                       # ties larger-x best y → kills 1,2
        (5, 7, 3), (6, 4, 12),
    ]
    df = spark.createDataFrame(rows, "id int, x int, y int")
    got = {r["id"] for r in pareto_skyline_2d(df, "x", "y", ["id"]).collect()}
    # brute force
    want = set()
    for i, xi, yi in rows:
        if not any(
            (xb >= xi and yb >= yi and (xb > xi or yb > yi))
            for j, xb, yb in rows if j != i
        ):
            want.add(i)
    assert got == want == {4, 5, 6}


def test_editdist2_matches_bruteforce(spark):
    from olake_spark.operators.fuzzy import editdist2_join

    texts = ["abc", "abcd", "abcde", "xbcde", "abde", "a", "", "ab",
             "zzz", "azc", "café", "cafe", "ca", "日本語", "日本"]
    rows = list(enumerate(texts))
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdist2_join(
            spark.createDataFrame(rows, "id int, t string"), "id", "t"
        ).collect()
    }
    want = {}
    for i, (ida, ta) in enumerate(rows):
        for idb, tb in rows[i + 1:]:
            d = _lev(ta, tb)
            if d <= 2:
                want[(min(ida, idb), max(ida, idb))] = d
    assert got == want


def test_welch_ttest_degenerate_single_row_arm(spark):
    from olake_spark.operators.abtest import welch_ttest

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "g string, v double"
    )
    row = welch_ttest(df, "g", "v", "a", "b").collect()[0]
    assert row["n_b"] == 1
    assert row["t"] is None and row["dof"] is None


def test_wilcoxon_all_zero_diffs(spark):
    from olake_spark.operators.abtest import wilcoxon_signed_rank

    df = spark.createDataFrame([(3.0, 3.0)] * 6, "pre double, post double")
    row = wilcoxon_signed_rank(df, "pre", "post").collect()[0]
    assert row["n"] == 0 and row["z"] is None


def test_dispersion_single_bucket_null_var(spark):
    from olake_spark.operators.timeseries import dispersion_index

    df = spark.createDataFrame(
        [("a", T0, 1.0), ("a", T0 + dt.timedelta(hours=1), 1.0)],
        "k string, ts timestamp, v double",
    )
    row = dispersion_index(df, "ts", ["k"], "v").collect()[0]
    assert row["n_buckets"] == 1
    assert row["var"] is None and row["vmr"] is None


# ---------------------------------------------------------------------------
# round-10 second batch degenerate paths
# ---------------------------------------------------------------------------


def test_oneway_anova_single_group_and_zero_variance(spark):
    from olake_spark.operators.abtest import oneway_anova

    one = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    row = oneway_anova(one, "g", "v").collect()[0]
    assert row["k_groups"] == 1 and row["f"] is None
    flat = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0)],
        "g string, v double",
    )
    row = oneway_anova(flat, "g", "v").collect()[0]
    assert row["ss_within"] == 0.0 and row["f"] is None


def test_anova_matches_python_reference(spark):
    import random

    from olake_spark.operators.abtest import oneway_anova

    rng = random.Random(3)
    rows = [(g, float(rng.randint(0, 50)))
            for g in "abc" for _ in range(30)]
    got = oneway_anova(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).collect()[0]
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    nt = len(rows)
    grand = sum(v for _, v in rows) / nt
    ssb = sum(len(vs) * (sum(vs) / len(vs) - grand) ** 2
              for vs in groups.values())
    ssw = sum(sum((v - sum(vs) / len(vs)) ** 2 for v in vs)
              for vs in groups.values())
    f = (ssb / 2) / (ssw / (nt - 3))
    assert got["ss_between"] == pytest.approx(ssb, rel=1e-6)
    assert got["ss_within"] == pytest.approx(ssw, rel=1e-6)
    assert got["f"] == pytest.approx(f, rel=1e-6)


def test_changepoint_obvious_shift_and_constant(spark):
    from olake_spark.operators.timeseries import changepoint_mean_shift

    rows = [(T0 + dt.timedelta(days=i), 10.0 if i < 12 else 50.0)
            for i in range(24)]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    row = changepoint_mean_shift(df, "ts", "v").collect()[0]
    # split after the 12th bucket: the left segment's last bucket
    assert row["mean_left"] == pytest.approx(10.0)
    assert row["mean_right"] == pytest.approx(50.0)
    flat = spark.createDataFrame(
        [(T0 + dt.timedelta(days=i), 7.0) for i in range(10)],
        "ts timestamp, v double",
    )
    row = changepoint_mean_shift(flat, "ts", "v").collect()[0]
    assert row["reduction"] == pytest.approx(0.0, abs=1e-6)
    single = spark.createDataFrame([(T0, 1.0)], "ts timestamp, v double")
    assert changepoint_mean_shift(single, "ts", "v").collect() == []


def test_brown_forsythe_identical_groups(spark):
    from olake_spark.operators.abtest import brown_forsythe

    rows = [(g, v) for g in "ab" for v in (1.0, 2.0, 3.0, 4.0)]
    row = brown_forsythe(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).collect()[0]
    # identical spreads → between-group deviation SS is exactly 0
    assert row["ss_between"] == pytest.approx(0.0, abs=1e-6)
    assert row["f"] == pytest.approx(0.0, abs=1e-6)


def test_wilcoxon_matches_python_reference(spark):
    """The reviewer-found z mis-centering regression pin: textbook
    z = (W⁺ − n(n+1)/4)/σ against hand-computed references."""
    from olake_spark.operators.abtest import wilcoxon_signed_rank

    # all-positive maximal shift: W+ = 15, n = 5
    rows = [(0.0, float(d)) for d in (1, 2, 3, 4, 5)]
    row = wilcoxon_signed_rank(
        spark.createDataFrame(rows, "pre double, post double"), "pre", "post"
    ).collect()[0]
    n, wplus = 5, 15.0
    sigma = math.sqrt(n * (n + 1) * (2 * n + 1) / 24.0)
    assert row["z"] == pytest.approx(
        (wplus - n * (n + 1) / 4.0) / sigma, abs=1e-6
    )
    assert row["z"] > 2.0  # a positive shift must read as positive
    # balanced small sample: diffs +1, −2 → W+ = 1, n = 2
    rows = [(0.0, 1.0), (2.0, 0.0)]
    row = wilcoxon_signed_rank(
        spark.createDataFrame(rows, "pre double, post double"), "pre", "post"
    ).collect()[0]
    sigma = math.sqrt(2 * 3 * 5 / 24.0)
    assert row["z"] == pytest.approx((1.0 - 1.5) / sigma, abs=1e-6)


def test_elasticity_slope_is_real_ols(spark):
    """Regression pin for the nano-scale mixing bug: a synthetic
    exact-relationship ln y = 2·ln x must read slope ≈ 2, not Σy/Σx.
    Runs the REGISTERED query body (queries_r10.loglog_elasticity_over)
    on the fixture, so a future change to the expression stays pinned."""
    from pyspark.sql import functions as F

    from olake_spark.queries_r10 import loglog_elasticity_over

    rows = [(float(x), float(x * x)) for x in (2, 3, 5, 7, 11, 13)]
    df = spark.createDataFrame(rows, "l_quantity double, _raw double")
    li = df.select(
        "l_quantity",
        (F.col("_raw") * F.col("l_quantity")).alias("l_extendedprice"),
    )
    got = loglog_elasticity_over(li).collect()[0]
    assert got["elasticity"] == pytest.approx(2.0, abs=1e-3)
    assert got["n"] == 6


def test_kendall_tau_b_empty_input_degenerate_report(spark):
    """ADVICE r10: on an empty input every moment sum is NULL — the
    report must coalesce to (0, 0, 0, 0, 0, NULL), matching the
    brute-force oracle's count(*) = 0, not emit NULL counts."""
    from olake_spark.operators.correlation import kendall_tau_b

    df = spark.createDataFrame([], "x double, y double")
    row = kendall_tau_b(df, "x", "y").collect()[0]
    assert (
        row["n"], row["concordant"], row["discordant"],
        row["ties_x_pairs"], row["ties_y_pairs"], row["tau_b"],
    ) == (0, 0, 0, 0, 0, None)
