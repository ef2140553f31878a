"""Property and edge-case tests of the statistics operators against plain
Python references: survival, forecasting, features, growth and cohort
curves, quantiles, concentration, A/B tests, trend and rank statistics."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter, defaultdict

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from olake_spark.exact import round_half_up6
from olake_spark.operators.abtest import cuped_adjust, ratio_metric_delta
from olake_spark.operators.audit import hhi_concentration, theil_index
from olake_spark.operators.features import target_encode_loo
from olake_spark.operators.forecast import holt_linear
from olake_spark.operators.quantiles import percentile_cont, weighted_median
from olake_spark.operators.robust_trend import mann_kendall_by_key
from olake_spark.operators.sessions import sessionize
from olake_spark.operators.survival import kaplan_meier
from olake_spark.operators.timeseries import (
    growth_accounting,
    ltv_cohort_curve,
    seasonal_decompose,
)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.booleans()), min_size=1, max_size=60
    )
)
def test_kaplan_meier_matches_python_fold(spark, subjects):
    """survival_micro == the iterated integer floor-division product over
    periods computed by a plain Python loop; n_at_risk/d match counting."""
    durs = [d for d, _ in subjects]
    cnt = Counter(durs)
    dead = Counter(d for d, o in subjects if o)
    expected = {}
    remaining = len(subjects)
    s = 1_000_000
    for t in sorted(cnt):
        n_at_risk = remaining
        s = s * (n_at_risk - dead.get(t, 0)) // n_at_risk
        expected[t] = (n_at_risk, dead.get(t, 0), s)
        remaining -= cnt[t]
    df = spark.createDataFrame(subjects, "dur long, obs boolean")
    got = {
        r.duration: (r.n_at_risk, r.n_events, r.survival_micro)
        for r in kaplan_meier(df, "dur", "obs").collect()
    }
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
def test_holt_linear_matches_python_fold(spark, vals):
    """The fold is the pinned flat-form recursion — a plain Python float
    loop (same IEEE doubles, same op order) must agree bit-for-bit
    before rounding, hence exactly after Spark's round(6), which is
    HALF_UP on the shortest decimal repr (``round_half_up6``), not
    Python's ``round``: 0.1234565 rounds to 0.123457, not 0.123456."""
    import datetime as dt

    l, b = vals[0], 0.0
    for v in vals[1:]:
        ln = (0.25 * v + 0.75 * l) + 0.75 * b
        bn = 0.0625 * (v - l) + 0.9375 * b
        l, b = ln, bn
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("k", t0 + dt.timedelta(seconds=i), float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = holt_linear(df, "ts", ["k"], "v").first()
    assert got.n == len(vals)
    assert got.level == round_half_up6(l)
    assert got.trend == round_half_up6(b)
    assert got.forecast_1 == round_half_up6(l + b)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)),
        min_size=2,
        max_size=40,
    )
)
def test_target_encode_loo_matches_python(spark, rows):
    """te_micro == Python integer floor division of the leave-one-out
    sums (category when it has peers, global otherwise)."""
    micro = [(c, v, round(v * 1.0) * 1_000_000) for c, v in rows]
    csum = Counter()
    ccnt = Counter()
    for c, _, m in micro:
        csum[c] += m
        ccnt[c] += 1
    gsum = sum(m for _, _, m in micro)
    gcnt = len(micro)
    data = [
        (i, str(c), float(v)) for i, (c, v, _) in enumerate(micro)
    ]
    df = spark.createDataFrame(data, "id long, cat string, y double")
    got = {
        r.id: r.te_micro for r in target_encode_loo(df, "cat", "y").collect()
    }
    for i, (c, _, m) in enumerate(micro):
        if ccnt[c] > 1:
            exp = (csum[c] - m) // (ccnt[c] - 1)
        else:
            exp = (gsum - m) // (gcnt - 1)
        assert got[i] == exp, (i, c, m)


T0 = dt.datetime(2024, 1, 1)


# ---------------------------------------------------------------------------
# growth accounting
# ---------------------------------------------------------------------------


def _growth_reference(appearances, resurrect_after):
    """(key, bucket) distinct pairs → per-bucket census."""
    by_key = defaultdict(set)
    for k, b in appearances:
        by_key[k].add(b)
    census = defaultdict(lambda: [0, 0, 0, 0])  # active, new, ret, res
    for k, buckets in by_key.items():
        prev = None
        for b in sorted(buckets):
            cls = (
                "new"
                if prev is None
                else ("retained" if b - prev <= resurrect_after else "resurrected")
            )
            row = census[b]
            row[0] += 1
            row[{"new": 1, "retained": 2, "resurrected": 3}[cls]] += 1
            prev = b
    return dict(census)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    )
)
def test_growth_accounting_matches_reference(spark, pairs):
    rows = [
        (k, T0 + dt.timedelta(days=b, hours=(k % 3)))
        for k, b in pairs
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    got = {
        r.bucket: (r.n_active, r.n_new, r.n_retained, r.n_resurrected)
        for r in growth_accounting(df, "ts", "k", step="1 day").collect()
    }
    # the operator buckets on epoch-days; compare shifted to a common base
    exp = _growth_reference({(k, b) for k, b in pairs}, 7)
    exp = {b - min(exp): tuple(v) for b, v in exp.items()}
    base = min(got)
    got = {b - base: v for b, v in got.items()}
    assert got == exp


def test_growth_accounting_single_month_users(spark):
    """Every key appears in exactly one bucket → 100% 'new', zero
    retained/resurrected in every bucket (the degenerate dashboard
    month where each user shows up once and churns)."""
    rows = [(k, T0 + dt.timedelta(days=k % 4)) for k in range(12)]
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    for r in growth_accounting(df, "ts", "k", step="1 day").collect():
        assert r.n_new == r.n_active
        assert r.n_retained == 0 and r.n_resurrected == 0


# ---------------------------------------------------------------------------
# LTV cohort curve
# ---------------------------------------------------------------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 4),           # customer
            st.integers(0, 5),           # month offset
            st.integers(0, 500),         # amount (integral — exact micro)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_ltv_cohort_matches_reference(spark, rows):
    """Cohort/age grid holds ONLY observed cells; cum_rev accumulates
    over the observed ages in order (empty cells contribute nothing and
    produce no row — the reference skips them identically)."""
    data = [
        (c, dt.date(2024, 1 + m, 5), float(a)) for c, m, a in rows
    ]
    df = spark.createDataFrame(data, "cust long, d date, amt double")
    out = ltv_cohort_curve(df, "cust", "d", "amt").collect()
    first_month = {}
    for c, m, _ in rows:
        first_month[c] = min(first_month.get(c, m), m)
    cohort_sizes = Counter(first_month.values())
    grid = defaultdict(int)
    for c, m, a in rows:
        grid[(first_month[c], m - first_month[c])] += a * 1_000_000
    exp = {}
    for (cm, age), rev in grid.items():
        cum = sum(v for (c2, a2), v in grid.items() if c2 == cm and a2 <= age)
        exp[(cm, age)] = (cohort_sizes[cm], rev, cum)
    got = {
        (r.cohort_month % 12, r.age_months): (
            r.n_customers, r.rev_micro, r.cum_rev_micro
        )
        for r in out
    }
    assert got == exp


def test_ltv_cohort_empty_cells_skip_but_cum_holds(spark):
    """A cohort purchasing in months 0 and 3 only: ages 1 and 2 have no
    rows, and age 3's cumulative equals age 0 + age 3."""
    data = [
        (1, dt.date(2024, 1, 10), 10.0),
        (1, dt.date(2024, 4, 10), 5.0),
    ]
    df = spark.createDataFrame(data, "cust long, d date, amt double")
    out = {r.age_months: r for r in ltv_cohort_curve(df, "cust", "d", "amt").collect()}
    assert set(out) == {0, 3}
    assert out[0].cum_rev_micro == 10_000_000
    assert out[3].rev_micro == 5_000_000
    assert out[3].cum_rev_micro == 15_000_000


# ---------------------------------------------------------------------------
# weighted median
# ---------------------------------------------------------------------------


def _wmedian_reference(pairs):
    """min{v : 2·cum(v) >= W} over micro-quantized weights."""
    per_val = defaultdict(int)
    for v, w in pairs:
        per_val[round(v * 1_000_000)] += round(w * 1_000_000)
    total = sum(per_val.values())
    cum = 0
    for vm in sorted(per_val):
        cum += per_val[vm]
        if 2 * cum >= total:
            return vm, total
    raise AssertionError("unreachable for nonempty input")


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-50, 50),
            st.integers(1, 20),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_matches_reference(spark, pairs):
    data = [(float(v), float(w)) for v, w in pairs]
    df = spark.createDataFrame(data, "v double, w double")
    got = weighted_median(df, [], "v", "w").first()
    exp_vm, exp_tot = _wmedian_reference(data)
    assert got.wmedian_micro == exp_vm
    assert got.w_total_micro == exp_tot


@pytest.mark.parametrize("n", [5, 6])
def test_weighted_median_equal_weights_is_lower_median(spark, n):
    """All-equal weights at odd and even W: the weighted median must be
    the plain LOWER median min{v : 2·cum >= W} — for n=6 that is the
    3rd value, never an average of the middle two."""
    vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0][:n]
    df = spark.createDataFrame([(v, 1.0) for v in vals], "v double, w double")
    got = weighted_median(df, [], "v", "w").first()
    expected = vals[(n - 1) // 2]  # lower median
    assert got.wmedian_micro == round(expected * 1_000_000)


# ---------------------------------------------------------------------------
# HHI / Theil
# ---------------------------------------------------------------------------


def test_hhi_theil_one_key_domination(spark):
    """One key owns everything among n keys (the rest at exactly 0):
    HHI = 1 with normalized 1; Theil = ln(n) with normalized 1 (up to
    the documented nano-floor on each term)."""
    rows = [("m", "big", 1000.0)] + [("m", f"z{i}", 0.0) for i in range(4)]
    df = spark.createDataFrame(rows, "g string, k string, v double")
    h = hhi_concentration(df, "g", "k", "v").first()
    assert h.n_keys == 5
    assert h.hhi == pytest.approx(1.0, abs=1e-6)
    assert h.hhi_normalized == pytest.approx(1.0, abs=1e-6)
    t = theil_index(df, "g", "k", "v").first()
    assert t.theil == pytest.approx(math.log(5), abs=1e-6)
    assert t.theil_normalized == pytest.approx(1.0, abs=1e-6)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 300)),
        min_size=1,
        max_size=30,
    ).filter(lambda rows: sum(a for _, a in rows) > 0)
)
def test_hhi_matches_reference(spark, rows):
    data = [("g", f"k{k}", float(a)) for k, a in rows]
    df = spark.createDataFrame(data, "g string, k string, v double")
    got = hhi_concentration(df, "g", "k", "v").first()
    per_key = defaultdict(int)
    for _, k, a in data:
        per_key[k] += round(a * 1_000_000)
    tot = sum(per_key.values())
    exp = sum(x * x for x in per_key.values()) / (tot * tot)
    assert got.n_keys == len(per_key)
    assert got.hhi == round_half_up6(exp)


# ---------------------------------------------------------------------------
# bounce rate (sessionizer composition)
# ---------------------------------------------------------------------------


def test_bounce_rate_all_single_event_users(spark):
    """Users with exactly one event each → every session is a bounce:
    n_bounces == n_sessions and the rate is exactly 1.0 in every day
    bucket (the degenerate-traffic day)."""
    rows = [(k, T0 + dt.timedelta(days=k % 3, minutes=k)) for k in range(9)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    s = sessionize(df, "ts", ["user_id"], gap="30 minutes")
    from pyspark.sql import functions as F

    per_sess = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
        ).alias("day"),
    )
    daily = per_sess.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("n") == 1).cast("long")).alias("n_bounces"),
    )
    for r in daily.collect():
        assert r.n_bounces == r.n_sessions > 0


def test_percentile_cont_matches_numpy(spark):
    """Interpolated quantile vs numpy's 'linear' method (the same
    (n−1)p+1 bracketing) on random multisets with duplicates, plus the
    single-value and p∈{0,1} edges."""
    import random

    import numpy as np

    from olake_spark.operators.quantiles import percentile_cont

    rng = random.Random(17)
    cases = [
        [5.0],
        [1.0, 2.0],
        [rng.choice([1.25, 2.5, 2.5, 7.75]) for _ in range(23)],
        [round(rng.uniform(-40, 40), 3) for _ in range(57)],
    ]
    ps = [0.0, 0.25, 0.5, 0.9, 1.0]
    for vals in cases:
        df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
        out = {
            round(r.p, 4): r.q_cont
            for r in percentile_cont(df, ["g"], "v", ps).collect()
        }
        for p in ps:
            exp = float(np.quantile(np.array(vals), p, method="linear"))
            assert out[round(p, 4)] == pytest.approx(exp, abs=2e-6), (vals, p)


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
    Runs the REGISTERED query body (queries.stats.loglog_elasticity_over)
    on the fixture, so a future change to the expression stays pinned."""
    from pyspark.sql import functions as F

    from olake_spark.queries.stats import loglog_elasticity_over

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
