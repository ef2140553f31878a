"""Property fuzz for the round-8 second wave (VERDICT r8 item 7): growth
accounting, LTV cohorts, weighted median, HHI/Theil, bounce rate — each
checked against a plain Python reference on random inputs plus the named
degenerate shapes (single-month users, empty cohort cells, all-equal
weights at odd/even W, one-key domination, single-event users only).
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter, defaultdict

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from olake_spark.exact import round_half_up6
from olake_spark.operators.audit import hhi_concentration, theil_index
from olake_spark.operators.quantiles import weighted_median
from olake_spark.operators.sessions import sessionize
from olake_spark.operators.timeseries import growth_accounting, ltv_cohort_curve

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
