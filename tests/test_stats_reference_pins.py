"""Plain-Python reference pins for the statistics family (r10 verdict
ask #3 — the oracle-mirror blind spot is a proven bug class).

Every operator here is gate-checked against a DuckDB oracle that
MIRRORS the same algebra — so when both sides encode the same wrong
formula (the r10 Wilcoxon z centered at n(n+1) instead of n(n+1)/2;
the log-log OLS mixing nano scales), the gate is green on wrong values.
These tests pin each operator to values computed INDEPENDENTLY in
plain Python on tiny fixtures: naive textbook formulas, O(n²) loops,
``statistics``/``math``/``numpy.linalg`` — never the operator's own
moment algebra re-typed.

Fixture discipline: metric values are exact multiples of 1e-6 (mostly
integers), so the operators' round(v·1e6) micro quantization is exact
and the plain-Python reference can work in full precision. Doubles
compare at abs=2e-6 (operators round to 6; a real algebra bug moves
results by orders of magnitude more), exact integers compare with ==.
"""

from __future__ import annotations

import math
import statistics
from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

ABS = 2e-6


def approx(v):
    return pytest.approx(v, abs=ABS)


def _row(df):
    rows = df.collect()
    assert len(rows) == 1, rows
    return rows[0]


# ---------------------------------------------------------------------------
# Welch's t
# ---------------------------------------------------------------------------

def test_welch_ttest_pin(spark):
    a = [10.0, 12.0, 15.0, 21.0, 9.0]
    b = [8.0, 11.0, 14.0, 7.0]
    rows = [("A", v) for v in a] + [("B", v) for v in b] + [("C", 99.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import welch_ttest

    got = _row(welch_ttest(df, "g", "v", "A", "B"))

    ma, mb = statistics.mean(a), statistics.mean(b)
    va, vb = statistics.variance(a), statistics.variance(b)  # sample, n-1
    sea, seb = va / len(a), vb / len(b)
    t = (ma - mb) / math.sqrt(sea + seb)
    dof = (sea + seb) ** 2 / (
        sea**2 / (len(a) - 1) + seb**2 / (len(b) - 1)
    )
    assert (got["n_a"], got["n_b"]) == (5, 4)
    assert got["mean_a"] == approx(ma)
    assert got["mean_b"] == approx(mb)
    assert got["t"] == approx(t)
    assert got["dof"] == approx(dof)


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------

def test_did_estimator_pin(spark):
    cells = {
        (0, 0): [10.0, 12.0, 11.0],       # control pre
        (0, 1): [13.0, 15.0, 14.0, 12.0],  # control post
        (1, 0): [20.0, 22.0, 21.0],        # treated pre
        (1, 1): [30.0, 33.0, 27.0],        # treated post
    }
    rows = [(t, p, v) for (t, p), vs in cells.items() for v in vs]
    df = spark.createDataFrame(rows, "treat int, post int, v double")
    from olake_spark.operators.abtest import did_estimator

    got = _row(did_estimator(df, "treat", "post", "v"))

    m = {k: statistics.mean(v) for k, v in cells.items()}
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    se = math.sqrt(
        sum(statistics.variance(v) / len(v) for v in cells.values())
    )
    assert (got["n_t0"], got["n_t1"], got["n_c0"], got["n_c1"]) == (3, 3, 3, 4)
    assert got["did"] == approx(did)
    assert got["se"] == approx(se)


# ---------------------------------------------------------------------------
# One-way ANOVA + Brown–Forsythe
# ---------------------------------------------------------------------------

def _anova_f(groups):
    """Textbook one-way ANOVA from group lists (plain Python)."""
    allv = [v for g in groups for v in g]
    n, k = len(allv), len(groups)
    grand = statistics.mean(allv)
    ssb = sum(len(g) * (statistics.mean(g) - grand) ** 2 for g in groups)
    ssw = sum((v - statistics.mean(g)) ** 2 for g in groups for v in g)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return n, k, ssb, ssw, f


def test_oneway_anova_pin(spark):
    groups = {
        "a": [3.0, 5.0, 4.0, 6.0],
        "b": [9.0, 11.0, 10.0],
        "c": [2.0, 1.0, 3.0, 2.0, 2.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import oneway_anova

    got = _row(oneway_anova(df, "g", "v"))
    n, k, ssb, ssw, f = _anova_f(list(groups.values()))
    assert (got["k_groups"], got["n"]) == (k, n)
    assert got["ss_between"] == approx(ssb)
    assert got["ss_within"] == approx(ssw)
    assert got["f"] == approx(f)


def test_brown_forsythe_pin(spark):
    # odd group sizes -> the operator's rank-ceil(n/2) median equals the
    # textbook sample median, so the reference is unambiguous
    groups = {
        "a": [1.0, 4.0, 9.0, 2.0, 7.0],
        "b": [10.0, 30.0, 12.0, 28.0, 11.0, 29.0, 20.0],
        "c": [5.0, 5.0, 6.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import brown_forsythe

    got = _row(brown_forsythe(df, "g", "v"))

    devs = []
    for vs in groups.values():
        med = sorted(vs)[math.ceil(len(vs) / 2) - 1]  # lower median
        devs.append([abs(v - med) for v in vs])
    n, k, ssb, ssw, f = _anova_f(devs)
    assert (got["k_groups"], got["n"]) == (k, n)
    assert got["ss_between"] == approx(ssb)
    assert got["ss_within"] == approx(ssw)
    assert got["f"] == approx(f)


# ---------------------------------------------------------------------------
# Mann-Whitney U (with ties)
# ---------------------------------------------------------------------------

def test_mann_whitney_u_pin(spark):
    a = [1.0, 3.0, 3.0, 5.0, 8.0]
    b = [2.0, 3.0, 6.0, 7.0]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import mann_whitney_u

    got = _row(mann_whitney_u(df, "g", "v", "A", "B"))

    # plain average-rank computation over the pooled sample
    pooled = sorted(a + b)
    n = len(pooled)

    def avg_rank(v):
        idxs = [i + 1 for i, x in enumerate(pooled) if x == v]
        return sum(idxs) / len(idxs)

    w_a = sum(avg_rank(v) for v in a)
    na, nb = len(a), len(b)
    u_a = w_a - na * (na + 1) / 2
    ties = {}
    for v in pooled:
        ties[v] = ties.get(v, 0) + 1
    tie_sum = sum(t**3 - t for t in ties.values())
    var = na * nb * (n**3 - n - tie_sum) / (12 * n * (n - 1))
    z = (u_a - na * nb / 2) / math.sqrt(var)
    auc = u_a / (na * nb)
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["u2_a"] == int(2 * u_a)
    assert got["tie_correction"] == tie_sum
    assert got["auc"] == approx(auc)
    assert got["z"] == approx(z)


# ---------------------------------------------------------------------------
# KS two-sample
# ---------------------------------------------------------------------------

def test_ks_two_sample_pin(spark):
    a = [1.0, 2.0, 2.0, 4.0, 9.0, 12.0]
    b = [2.0, 3.0, 5.0, 6.0]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import ks_two_sample

    got = _row(ks_two_sample(df, "g", "v", "A", "B"))

    na, nb = len(a), len(b)
    d_num = 0
    for v in sorted(set(a + b)):
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        d_num = max(d_num, abs(ca * nb - cb * na))
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["d_num"] == d_num
    assert got["d_den"] == na * nb
    assert got["ks"] == approx(d_num / (na * nb))


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank (the r10 bug's operator — keep it pinned forever)
# ---------------------------------------------------------------------------

def test_wilcoxon_signed_rank_pin(spark):
    pairs = [
        (10.0, 12.0), (20.0, 18.0), (5.0, 9.0), (7.0, 7.0),  # zero-diff drops
        (30.0, 34.0), (11.0, 9.0), (40.0, 44.0), (2.0, 1.0),
    ]
    df = spark.createDataFrame(pairs, "x double, y double")
    from olake_spark.operators.abtest import wilcoxon_signed_rank

    got = _row(wilcoxon_signed_rank(df, "x", "y"))

    diffs = [y - x for x, y in pairs if y != x]
    absd = sorted(abs(d) for d in diffs)
    n = len(diffs)

    def avg_rank(v):
        idxs = [i + 1 for i, x in enumerate(absd) if x == v]
        return sum(idxs) / len(idxs)

    w_plus = sum(avg_rank(abs(d)) for d in diffs if d > 0)
    ties = {}
    for v in absd:
        ties[v] = ties.get(v, 0) + 1
    tie_sum = sum(t**3 - t for t in ties.values())
    var = n * (n + 1) * (2 * n + 1) / 24 - tie_sum / 48
    z = (w_plus - n * (n + 1) / 4) / math.sqrt(var)
    assert got["n"] == n
    assert got["w2_plus"] == int(2 * w_plus)
    assert got["tie_correction"] == tie_sum
    assert got["z"] == approx(z)


# ---------------------------------------------------------------------------
# Wilson interval
# ---------------------------------------------------------------------------

def test_proportion_wilson_ci_pin(spark):
    n, k = 40, 12
    rows = [("g", i < k) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, ok boolean")
    from olake_spark.operators.abtest import proportion_wilson_ci

    got = _row(proportion_wilson_ci(df, ["g"], "ok"))

    z = 1.96
    p = k / n
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    assert (got["n"], got["k"]) == (n, k)
    assert got["p_hat"] == approx(p)
    assert got["ci_lo"] == approx(center - half)
    assert got["ci_hi"] == approx(center + half)


# ---------------------------------------------------------------------------
# CUPED
# ---------------------------------------------------------------------------

def test_cuped_adjust_pin(spark):
    units = [
        ("t", 10.0, 15.0), ("t", 12.0, 18.0), ("t", 8.0, 12.0),
        ("c", 11.0, 13.0), ("c", 9.0, 10.0), ("c", 13.0, 16.0),
        ("c", 7.0, 9.0),
    ]
    df = spark.createDataFrame(units, "arm string, x double, y double")
    from olake_spark.operators.abtest import cuped_adjust

    got = {r["arm"]: r for r in cuped_adjust(df, "arm", "x", "y").collect()}

    xs = [x for _, x, _ in units]
    ys = [y for _, _, y in units]
    n = len(units)
    mu_x = statistics.mean(xs)
    # population-style moments (the n-scaled identity the operator uses
    # cancels the normalization, so either convention gives the same θ)
    cov = sum((x - mu_x) * (y - statistics.mean(ys)) for _, x, y in
              [(None, x, y) for x, y in zip(xs, ys)])
    varx = sum((x - mu_x) ** 2 for x in xs)
    theta = cov / varx
    for arm in ("t", "c"):
        arm_rows = [(x, y) for a, x, y in units if a == arm]
        m_y = statistics.mean(y for _, y in arm_rows)
        m_x = statistics.mean(x for x, _ in arm_rows)
        adj = m_y - theta * (m_x - mu_x)
        assert got[arm]["n"] == len(arm_rows)
        assert got[arm]["mean_post"] == approx(m_y)
        assert got[arm]["mean_adj"] == approx(adj)
        assert got[arm]["theta"] == approx(theta)


# ---------------------------------------------------------------------------
# Ratio metric with delta-method SE
# ---------------------------------------------------------------------------

def test_ratio_metric_delta_pin(spark):
    units = [(5.0, 2.0), (9.0, 3.0), (4.0, 1.0), (12.0, 5.0), (6.0, 2.0)]
    rows = [("t", y, d) for y, d in units]
    df = spark.createDataFrame(rows, "arm string, y double, d double")
    from olake_spark.operators.abtest import ratio_metric_delta

    got = _row(ratio_metric_delta(df, "arm", "y", "d"))

    ys = [y for y, _ in units]
    ds = [d for _, d in units]
    n = len(units)
    r = sum(ys) / sum(ds)
    vy, vd = statistics.variance(ys), statistics.variance(ds)
    my, md = statistics.mean(ys), statistics.mean(ds)
    cov = sum((y - my) * (d - md) for y, d in units) / (n - 1)
    var_r = (vy + r * r * vd - 2 * r * cov) / (n * md * md)
    assert got["n"] == n
    assert got["ratio"] == approx(r)
    assert got["se"] == approx(math.sqrt(var_r))


# ---------------------------------------------------------------------------
# Kendall tau-b (O(n²) pair walk)
# ---------------------------------------------------------------------------

def test_kendall_tau_b_pin(spark):
    data = [(1.0, 2.0), (2.0, 2.0), (3.0, 5.0), (4.0, 4.0), (4.0, 6.0),
            (5.0, 3.0), (6.0, 8.0), (7.0, 8.0)]
    df = spark.createDataFrame(data, "x double, y double")
    from olake_spark.operators.correlation import kendall_tau_b

    got = _row(kendall_tau_b(df, "x", "y"))

    conc = disc = tx = ty = 0
    n = len(data)
    for i in range(n):
        for j in range(i + 1, n):
            dx = data[j][0] - data[i][0]
            dy = data[j][1] - data[i][1]
            if dx == 0 and dy == 0:
                tx += 1
                ty += 1
            elif dx == 0:
                tx += 1
            elif dy == 0:
                ty += 1
            elif dx * dy > 0:
                conc += 1
            else:
                disc += 1
    n0 = n * (n - 1) / 2
    tau = (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty))
    assert got["n"] == n
    assert got["concordant"] == conc
    assert got["discordant"] == disc
    assert got["ties_x_pairs"] == tx
    assert got["ties_y_pairs"] == ty
    assert got["tau_b"] == approx(tau)


# ---------------------------------------------------------------------------
# Spearman (average ranks -> Pearson)
# ---------------------------------------------------------------------------

def test_spearman_matrix_pin(spark):
    data = [(1.0, 9.0), (2.0, 7.0), (2.0, 8.0), (4.0, 8.0), (5.0, 3.0),
            (6.0, 2.0), (7.0, 2.0)]
    df = spark.createDataFrame(data, "x double, y double")
    from olake_spark.operators.correlation import spearman_matrix

    got = _row(spearman_matrix(df, ["x", "y"]))

    def avg_ranks(vals):
        s = sorted(vals)
        return [
            sum(i + 1 for i, v in enumerate(s) if v == x)
            / sum(1 for v in s if v == x)
            for x in vals
        ]

    rx = avg_ranks([x for x, _ in data])
    ry = avg_ranks([y for _, y in data])
    mx, my = statistics.mean(rx), statistics.mean(ry)
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(sum((a - mx) ** 2 for a in rx)
                    * sum((b - my) ** 2 for b in ry))
    assert got["n"] == len(data)
    assert got["rho"] == approx(num / den)


# ---------------------------------------------------------------------------
# Pearson correlation matrix
# ---------------------------------------------------------------------------

def test_corr_matrix_pin(spark):
    data = [(1.0, 2.5, 10.0), (2.0, 2.0, 8.0), (3.0, 4.5, 7.0),
            (4.0, 4.0, 3.0), (5.0, 6.5, 1.0)]
    df = spark.createDataFrame(data, "a double, b double, c double")
    from olake_spark.operators.correlation import corr_matrix

    got = {(r["col_a"], r["col_b"]): r
           for r in corr_matrix(df, ["a", "b", "c"]).collect()}

    cols = list(zip(*data))
    names = ["a", "b", "c"]
    for i in range(3):
        for j in range(i + 1, 3):
            xs, ys = cols[i], cols[j]
            mx, my = statistics.mean(xs), statistics.mean(ys)
            num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
            den = math.sqrt(sum((x - mx) ** 2 for x in xs)
                            * sum((y - my) ** 2 for y in ys))
            r = got[(names[i], names[j])]
            assert r["n"] == len(data)
            assert r["corr"] == approx(num / den)


# ---------------------------------------------------------------------------
# OLS2 vs numpy.linalg.lstsq (independent solver)
# ---------------------------------------------------------------------------

def test_ols2_pin_vs_numpy(spark):
    import numpy as np

    data = [
        (1.0, 2.0, 6.5), (2.0, 1.0, 10.0), (3.0, 4.0, 10.5),
        (4.0, 2.0, 16.0), (5.0, 5.0, 15.5), (6.0, 3.0, 21.0),
        (7.0, 7.0, 19.5), (8.0, 4.0, 26.0),
    ]
    df = spark.createDataFrame(data, "x1 double, x2 double, y double")
    from olake_spark.operators.correlation import ols2

    got = _row(ols2(df, "y", "x1", "x2"))

    a = np.array([[x1, x2, 1.0] for x1, x2, _ in data])
    yv = np.array([y for _, _, y in data])
    coef, _, _, _ = np.linalg.lstsq(a, yv, rcond=None)
    fitted = a @ coef
    ss_res = float(((yv - fitted) ** 2).sum())
    ss_tot = float(((yv - yv.mean()) ** 2).sum())
    assert got["n"] == len(data)
    assert got["b1"] == approx(float(coef[0]))
    assert got["b2"] == approx(float(coef[1]))
    assert got["intercept"] == approx(float(coef[2]))
    assert got["r2"] == approx(1.0 - ss_res / ss_tot)


# ---------------------------------------------------------------------------
# Time-bucketed operators: one event per day -> the daily series IS the
# fixture values, so plain-Python references work on the list directly.
# ---------------------------------------------------------------------------

def _daily_df(spark, values, start="2024-01-01"):
    t0 = datetime.fromisoformat(start)
    rows = [(t0 + timedelta(days=i), float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "ts timestamp, v double")


def test_runs_test_pin(spark):
    series = [1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 9.0, 9.0, 11.0]
    df = _daily_df(spark, series)
    from olake_spark.operators.robust_trend import runs_test

    got = _row(runs_test(df, "ts", "v"))

    moves = [b - a for a, b in zip(series, series[1:]) if b != a]
    signs = [1 if m > 0 else -1 for m in moves]
    n1 = sum(1 for s in signs if s > 0)
    n2 = sum(1 for s in signs if s < 0)
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n = n1 + n2
    mu = 2 * n1 * n2 / n + 1
    var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    z = (runs - mu) / math.sqrt(var)
    assert (got["n_up"], got["n_down"], got["runs"]) == (n1, n2, runs)
    assert got["z"] == approx(z)


def test_dispersion_index_pin(spark):
    # per-day event COUNTS are what dispersion_index measures: plant
    # 1, 5, 9 events on three days
    t0 = datetime.fromisoformat("2024-03-01")
    rows = []
    for day, cnt in enumerate([1, 5, 9]):
        for i in range(cnt):
            rows.append(("k", t0 + timedelta(days=day, minutes=i), 1.0))
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    from olake_spark.operators.timeseries import dispersion_index

    got = _row(dispersion_index(df, "ts", ["g"], "v"))

    counts = [1, 5, 9]
    mean = statistics.mean(counts)
    var = statistics.variance(counts)
    assert (got["n_buckets"], got["n_events"]) == (3, 15)
    assert got["mean"] == approx(mean)
    assert got["var"] == approx(var)
    assert got["vmr"] == approx(var / mean)


def _tdiv(a: int, b: int) -> int:
    """Spark SQL ``div`` / DuckDB ``//`` on integers: truncation toward
    zero (Python's ``//`` floors, which differs on negatives)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_seasonal_strength_pin(spark):
    # period-2 sawtooth plus drift, 8 days; period=2, trend_window=1
    series = [10.0, 2.0, 12.0, 4.0, 14.0, 6.0, 16.0, 8.0]
    df = _daily_df(spark, series)
    from olake_spark.operators.timeseries import seasonal_strength

    got = _row(
        seasonal_strength(df, "ts", "v", period=2, trend_window=1)
    )

    t0 = datetime.fromisoformat("2024-01-01")
    epoch_day0 = (t0 - datetime(1970, 1, 1)).days
    x = [int(v * 1_000_000) for v in series]
    n = len(x)
    trend = []
    for t in range(n):
        lo, hi = max(0, t - 1), min(n, t + 2)
        trend.append(_tdiv(sum(x[lo:hi]), hi - lo))
    det = [xi - ti for xi, ti in zip(x, trend)]
    phases = [(epoch_day0 + t) % 2 for t in range(n)]
    seas = {}
    for p in set(phases):
        idx = [t for t in range(n) if phases[t] == p]
        seas[p] = _tdiv(sum(det[t] for t in idx), len(idx))
    seasonal = [seas[p] for p in phases]
    resid = [x[t] - trend[t] - seasonal[t] for t in range(n)]

    def vnum(vals):
        return n * sum(v * v for v in vals) - sum(vals) ** 2

    sr = [xi - si for xi, si in zip(x, seasonal)]   # trend + resid
    ss = [xi - ti for xi, ti in zip(x, trend)]      # seasonal + resid
    f_trend = max(0.0, 1.0 - vnum(resid) / vnum(sr))
    f_seasonal = max(0.0, 1.0 - vnum(resid) / vnum(ss))
    assert got["n_buckets"] == n
    assert got["strength_trend"] == approx(f_trend)
    assert got["strength_seasonal"] == approx(f_seasonal)


def test_changepoint_mean_shift_pin(spark):
    series = [10.0, 11.0, 9.0, 10.0, 30.0, 31.0, 29.0]
    df = _daily_df(spark, series)
    from olake_spark.operators.timeseries import changepoint_mean_shift

    got = _row(changepoint_mean_shift(df, "ts", "v"))

    n = len(series)
    s_n = sum(series)
    best_k, best_red = None, -math.inf
    for k in range(1, n):
        s_k = sum(series[:k])
        red = s_k**2 / k + (s_n - s_k) ** 2 / (n - k) - s_n**2 / n
        if red > best_red:
            best_k, best_red = k, red
    epoch_day0 = (datetime.fromisoformat("2024-01-01")
                  - datetime(1970, 1, 1)).days
    assert got["split_bucket"] == epoch_day0 + best_k - 1
    assert got["n_buckets"] == n
    assert got["mean_left"] == approx(statistics.mean(series[:best_k]))
    assert got["mean_right"] == approx(statistics.mean(series[best_k:]))
    assert got["reduction"] == approx(best_red)


def test_acf_pin(spark):
    series = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = _daily_df(spark, series)
    from olake_spark.operators.forecast import acf

    got = {r["lag"]: r for r in acf(df, "ts", "v", max_lag=3).collect()}

    n = len(series)
    mu = statistics.mean(series)
    den = sum((v - mu) ** 2 for v in series)
    for k in (1, 2, 3):
        r_k = sum(
            (series[t] - mu) * (series[t + k] - mu) for t in range(n - k)
        ) / den
        assert got[k]["n_pairs"] == n - k
        assert got[k]["r"] == approx(r_k)


def test_mann_kendall_theil_sen_pin(spark):
    series = [5.0, 7.0, 6.0, 9.0, 9.0, 12.0, 11.0]
    df = _daily_df(spark, series)
    from olake_spark.operators.robust_trend import mann_kendall_theil_sen

    got = _row(mann_kendall_theil_sen(df, "ts", "v"))

    n = len(series)
    s = sum(
        (series[j] > series[i]) - (series[j] < series[i])
        for i in range(n) for j in range(i + 1, n)
    )
    ties = {}
    for v in series:
        ties[v] = ties.get(v, 0) + 1
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18
    z = (s - 1) / math.sqrt(var_s) if s > 0 else (
        (s + 1) / math.sqrt(var_s) if s < 0 else 0.0
    )
    slopes = sorted(
        (series[j] - series[i]) / (j - i)
        for i in range(n) for j in range(i + 1, n)
    )
    sen = slopes[math.ceil(len(slopes) / 2) - 1]  # lower median
    assert got["n_buckets"] == n
    assert got["s_stat"] == s
    assert got["var_s"] == approx(var_s)
    assert got["z"] == approx(z)
    assert got["sen_slope"] == approx(sen)


# ---------------------------------------------------------------------------
# Cramér's V (with the operator's exact floor-micro cell discipline)
# ---------------------------------------------------------------------------

def test_cramers_v_pin(spark):
    table_counts = {("x", "p"): 10, ("x", "q"): 20,
                    ("y", "p"): 30, ("y", "q"): 5}
    rows = [(r, c) for (r, c), k in table_counts.items() for _ in range(k)]
    df = spark.createDataFrame(rows, "r string, c string")
    from olake_spark.operators.audit import cramers_v

    got = _row(cramers_v(df, "r", "c"))

    n = sum(table_counts.values())
    rt = {"x": 30, "y": 35}
    ct = {"p": 40, "q": 25}
    chi2m = 0
    for (r, c), o in table_counts.items():
        num = o * n - rt[r] * ct[c]
        chi2m += (num * num * 1_000_000) // (n * rt[r] * ct[c])
    v = math.sqrt((chi2m / 1e6 / n) / (2 - 1))
    assert got["n"] == n
    assert (got["n_row_levels"], got["n_col_levels"]) == (2, 2)
    assert got["chi2_total_micro"] == chi2m
    assert got["v"] == approx(v)


# ---------------------------------------------------------------------------
# Markov conditional entropy (registered query over a tmp parquet fixture)
# ---------------------------------------------------------------------------

def test_markov_entropy_pin(spark, tmp_path):
    # two users with known transition chains
    chains = {1: ["a", "b", "a", "b", "c"], 2: ["a", "a", "b", "c", "c"]}
    t0 = datetime.fromisoformat("2024-05-01")
    rows = []
    eid = 0
    for uid, chain in chains.items():
        for i, et in enumerate(chain):
            rows.append((eid, t0 + timedelta(minutes=i), uid, et, 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    from olake_spark.queries.stats import events_markov_entropy

    got = _row(events_markov_entropy(spark, str(tmp_path)))

    cells = {}
    for chain in chains.values():
        for prev, nxt in zip(chain, chain[1:]):
            cells[(prev, nxt)] = cells.get((prev, nxt), 0) + 1
    n = sum(cells.values())
    ci = {}
    for (prev, _), c in cells.items():
        ci[prev] = ci.get(prev, 0) + c
    h_nano = sum(
        math.floor((c / n) * math.log(ci[prev] / c) * 1e9)
        for (prev, _), c in cells.items()
    )
    assert got["n_transitions"] == n
    assert got["h_nano"] == h_nano
    assert got["h_cond"] == approx(h_nano / 1e9)


# ---------------------------------------------------------------------------
# Round-11 operators — pinned the day they land (the ask-#3 discipline)
# ---------------------------------------------------------------------------

def test_effect_size_pin(spark):
    a = [10.0, 12.0, 15.0, 21.0, 9.0]
    b = [8.0, 11.0, 14.0, 7.0]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import effect_size_two_sample

    got = _row(effect_size_two_sample(df, "g", "v", "A", "B"))

    na, nb = len(a), len(b)
    sp = math.sqrt(
        ((na - 1) * statistics.variance(a) + (nb - 1) * statistics.variance(b))
        / (na + nb - 2)
    )
    d = (statistics.mean(a) - statistics.mean(b)) / sp
    g = d * (1 - 3 / (4 * (na + nb) - 9))
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["pooled_sd"] == approx(sp)
    assert got["cohens_d"] == approx(d)
    assert got["hedges_g"] == approx(g)


def test_kruskal_wallis_pin(spark):
    groups = {
        "a": [1.0, 3.0, 5.0, 7.0, 3.0],
        "b": [2.0, 4.0, 6.0, 8.0],
        "c": [9.0, 10.0, 3.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import kruskal_wallis

    got = _row(kruskal_wallis(df, "g", "v"))

    pooled = sorted(v for vs in groups.values() for v in vs)
    n = len(pooled)

    def avg_rank(v):
        idxs = [i + 1 for i, x in enumerate(pooled) if x == v]
        return sum(idxs) / len(idxs)

    rsum = sum(
        sum(avg_rank(v) for v in vs) ** 2 / len(vs)
        for vs in groups.values()
    )
    h = 12 / (n * (n + 1)) * rsum - 3 * (n + 1)
    ties = {}
    for v in pooled:
        ties[v] = ties.get(v, 0) + 1
    tie_sum = sum(t**3 - t for t in ties.values())
    h_corr = h / (1 - tie_sum / (n**3 - n))
    assert (got["k_groups"], got["n"]) == (3, n)
    assert got["tie_correction"] == tie_sum
    assert got["h"] == approx(h)
    assert got["h_tie_corrected"] == approx(h_corr)


def test_bh_fdr_pin(spark):
    ps = {"k1": 0.01, "k2": 0.02, "k3": 0.03, "k4": 0.5, "k5": 0.04}
    df = spark.createDataFrame(list(ps.items()), "k string, p double")
    from olake_spark.operators.abtest import bh_fdr_adjust

    got = {r["k"]: r for r in bh_fdr_adjust(df, ["k"], "p").collect()}

    m = len(ps)
    order = sorted(ps.items(), key=lambda kv: (kv[1], kv[0]))
    raw = [p * m / (i + 1) for i, (_, p) in enumerate(order)]
    qs = []
    running = 1.0
    for r in reversed(raw):
        running = min(running, r)
        qs.append(running)
    qs.reverse()
    for i, (k, p) in enumerate(order):
        assert got[k]["rank"] == i + 1
        assert got[k]["q"] == approx(min(qs[i], 1.0))
        assert got[k]["reject"] == (qs[i] <= 0.05)


def test_ks_uniform_gof_pin(spark):
    scores = [0.05, 0.1, 0.1, 0.3, 0.55, 0.6, 0.61, 0.9]
    df = spark.createDataFrame([(s,) for s in scores], "s double")
    from olake_spark.operators.abtest import ks_uniform_gof

    got = _row(ks_uniform_gof(df, "s"))

    n = len(scores)
    dp = dm = 0.0
    for v in sorted(set(scores)):
        c = sum(1 for x in scores if x <= v)
        t = sum(1 for x in scores if x == v)
        dp = max(dp, c / n - v)
        dm = max(dm, v - (c - t) / n)
    assert got["n"] == n
    assert got["d_plus"] == approx(dp)
    assert got["d_minus"] == approx(dm)
    assert got["d"] == approx(max(dp, dm))
    assert got["sqrt_n_d"] == approx(math.sqrt(n) * max(dp, dm))


def test_logrank_pin(spark):
    # (duration, observed, group) — textbook worked example shape
    subjects = [
        (1, True, 0), (2, True, 0), (4, False, 0), (5, True, 0),
        (1, True, 1), (3, True, 1), (3, True, 1), (6, False, 1),
        (2, False, 1),
    ]
    df = spark.createDataFrame(subjects, "dur int, obs boolean, grp int")
    from olake_spark.operators.survival import logrank_test

    got = _row(logrank_test(df, "dur", "obs", "grp", 0, 1))

    times = sorted({d for d, o, _ in subjects if o})
    o1 = e1 = v = 0.0
    for t in times:
        n1 = sum(1 for d, _, g in subjects if d >= t and g == 0)
        n2 = sum(1 for d, _, g in subjects if d >= t and g == 1)
        d1 = sum(1 for d, o, g in subjects if d == t and o and g == 0)
        d2 = sum(1 for d, o, g in subjects if d == t and o and g == 1)
        dt, nt = d1 + d2, n1 + n2
        o1 += d1
        e1 += dt * n1 / nt
        if nt > 1:
            v += dt * (n1 / nt) * (1 - n1 / nt) * (nt - dt) / (nt - 1)
    z = (o1 - e1) / math.sqrt(v)
    assert got["observed_a"] == int(o1)
    assert got["expected_a"] == approx(e1)
    assert got["variance"] == approx(v)
    assert got["z"] == approx(z)
    assert got["chi2"] == approx(z * z)


def test_cohens_kappa_pin(spark):
    # classic 2x2 agreement table: a/a=20, a/b=5, b/a=10, b/b=15
    rows = (
        [("x", "x")] * 20 + [("x", "y")] * 5
        + [("y", "x")] * 10 + [("y", "y")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    from olake_spark.operators.audit import cohens_kappa

    got = _row(cohens_kappa(df, "a", "b"))

    n = 50
    po = (20 + 15) / n
    pe = (25 * 30 + 25 * 20) / (n * n)
    kappa = (po - pe) / (1 - pe)
    assert got["n"] == n
    assert got["p_observed"] == approx(po)
    assert got["p_expected"] == approx(pe)
    assert got["kappa"] == approx(kappa)


def test_chi_square_gof_pin(spark):
    counts = {"a": 30, "b": 18, "c": 12}
    rows = [(c,) for c, k in counts.items() for _ in range(k)]
    df = spark.createDataFrame(rows, "cat string")
    from olake_spark.operators.audit import chi_square_gof

    got = _row(chi_square_gof(df, "cat"))

    n, k = 60, 3
    e = n / k
    chi2 = sum((o - e) ** 2 / e for o in counts.values())
    assert (got["n"], got["k_categories"]) == (n, k)
    # floor-micro cells: the total is within k micro of the float chi2
    assert got["chi2"] == pytest.approx(chi2, abs=1e-5)


def test_chi_square_gof_explicit_weights_pin(spark):
    counts = {"hi": 45, "lo": 15}
    rows = [(c,) for c, k in counts.items() for _ in range(k)]
    df = spark.createDataFrame(rows, "cat string")
    from olake_spark.operators.audit import chi_square_gof

    got = _row(chi_square_gof(df, "cat", {"hi": 0.75, "lo": 0.25}))
    e_hi, e_lo = 60 * 0.75, 60 * 0.25
    chi2 = (45 - e_hi) ** 2 / e_hi + (15 - e_lo) ** 2 / e_lo
    assert got["chi2"] == pytest.approx(chi2, abs=1e-5)


def test_js_divergence_pin(spark):
    a_counts = {"x": 10, "y": 30}
    b_counts = {"y": 20, "z": 20}
    rows = [("A", c) for c, k in a_counts.items() for _ in range(k)] + [
        ("B", c) for c, k in b_counts.items() for _ in range(k)
    ]
    df = spark.createDataFrame(rows, "side string, cat string")
    from olake_spark.operators.audit import js_divergence

    got = _row(js_divergence(df, "side", "cat", "A", "B"))

    na, nb = 40, 40
    cats = {"x", "y", "z"}
    jsd = 0.0
    for c in cats:
        p = a_counts.get(c, 0) / na
        q = b_counts.get(c, 0) / nb
        mid = (p + q) / 2
        if p > 0:
            jsd += 0.5 * p * math.log(p / mid)
        if q > 0:
            jsd += 0.5 * q * math.log(q / mid)
    assert (got["n_a"], got["n_b"], got["k_categories"]) == (na, nb, 3)
    assert got["jsd_nats"] == pytest.approx(jsd, abs=1e-5)
    assert got["jsd_bits"] == pytest.approx(jsd / math.log(2), abs=1e-5)


def test_trimmed_mean_pin(spark):
    vals = [1.0, 2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 50.0, 100.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    from olake_spark.operators.quantiles import trimmed_mean

    got = _row(trimmed_mean(df, ["g"], "v", trim=0.2))

    n = len(vals)
    k = int(0.2 * n)  # 2
    kept = sorted(vals)[k:n - k]
    assert got["n"] == n
    assert got["k_each_side"] == k
    assert got["trimmed_mean"] == approx(statistics.mean(kept))


def test_trimmed_mean_tie_straddles_cut_pin(spark):
    # ties straddling the cut: exactly the surviving copies count
    vals = [1.0, 1.0, 1.0, 2.0, 3.0, 9.0, 9.0, 9.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    from olake_spark.operators.quantiles import trimmed_mean

    got = _row(trimmed_mean(df, ["g"], "v", trim=0.25))
    n, k = 8, 2
    kept = sorted(vals)[k:n - k]  # [1.0, 2.0, 3.0, 9.0]
    assert got["trimmed_mean"] == approx(statistics.mean(kept))


def test_power_means_pin(spark):
    vals = [2.0, 4.0, 8.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals] + [("g", -1.0)], "g string, v double"
    )
    from olake_spark.operators.profile import power_means

    got = _row(power_means(df, ["g"], "v"))

    n = len(vals)
    am = statistics.mean(vals)
    gm = math.exp(sum(math.log(v) for v in vals) / n)
    hm = n / sum(1 / v for v in vals)
    assert (got["n"], got["n_nonpositive"]) == (n, 1)
    assert got["mean_arith"] == approx(am)
    assert got["mean_geom"] == pytest.approx(gm, abs=1e-5)
    assert got["mean_harm"] == pytest.approx(hm, abs=1e-5)
    assert got["mean_arith"] >= got["mean_geom"] >= got["mean_harm"]


def test_shewhart_individuals_pin(spark):
    series = [10.0, 12.0, 11.0, 13.0, 12.0, 40.0, 11.0, 12.0]
    df = _daily_df(spark, series)
    from olake_spark.operators.anomaly import shewhart_individuals

    got = _row(shewhart_individuals(df, "ts", "v"))

    n = len(series)
    center = statistics.mean(series)
    mrbar = statistics.mean(
        [abs(b - a) for a, b in zip(series, series[1:])]
    )
    ucl, lcl = center + 2.66 * mrbar, center - 2.66 * mrbar
    assert got["n_buckets"] == n
    assert got["center"] == approx(center)
    assert got["mr_bar"] == approx(mrbar)
    assert got["ucl"] == approx(ucl)
    assert got["lcl"] == approx(lcl)
    assert got["n_above"] == sum(1 for v in series if v > ucl)
    assert got["n_below"] == sum(1 for v in series if v < lcl)


def test_msprt_pin(spark):
    a = [10.0, 12.0, 15.0, 21.0, 9.0, 14.0]
    b = [8.0, 11.0, 14.0, 7.0, 10.0]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import msprt_always_valid

    tau = 5.0
    got = _row(msprt_always_valid(df, "g", "v", "A", "B", tau=tau))

    delta = statistics.mean(a) - statistics.mean(b)
    v = statistics.variance(a) / len(a) + statistics.variance(b) / len(b)
    t2 = tau * tau
    lam = math.sqrt(v / (v + t2)) * math.exp(
        delta * delta * t2 / (2 * v * (v + t2))
    )
    assert got["delta"] == approx(delta)
    assert got["v"] == approx(v)
    assert got["lambda_mix"] == approx(lam)
    assert got["p_always_valid"] == approx(min(1.0, 1.0 / lam))


def test_eb_beta_binomial_pin(spark):
    fam = {"k1": (8, 10), "k2": (1, 10), "k3": (5, 10), "k4": (50, 100),
           "k5": (2, 4)}
    rows = [(k, s, n) for k, (s, n) in fam.items()]
    df = spark.createDataFrame(rows, "key string, s long, n long")
    # expand to unit rows: success_col is per-row 0/1 here? the operator
    # SUMS success_col and trial_col — pass the aggregates directly
    from olake_spark.operators.abtest import eb_beta_binomial_shrink

    got = {r["key"]: r
           for r in eb_beta_binomial_shrink(df, ["key"], "s", "n").collect()}

    ps = [s / n for s, n in fam.values()]
    m = statistics.mean(ps)
    v = statistics.variance(ps)
    ab = m * (1 - m) / v - 1
    alpha, beta = m * ab, (1 - m) * ab
    assert 0 < v < m * (1 - m)
    for k, (s, n) in fam.items():
        assert got[k]["alpha"] == pytest.approx(alpha, abs=1e-4)
        assert got[k]["beta"] == pytest.approx(beta, abs=1e-4)
        assert got[k]["p_shrunk"] == pytest.approx(
            (s + alpha) / (n + alpha + beta), abs=1e-4
        )
    # shrinkage direction: small-n extreme keys move toward the prior mean
    assert got["k2"]["p_shrunk"] > got["k2"]["p_raw"]
    assert got["k1"]["p_shrunk"] < got["k1"]["p_raw"]


def test_jonckheere_terpstra_pin(spark):
    groups = {
        "g1": [1.0, 3.0, 2.0, 3.0],
        "g2": [3.0, 5.0, 4.0],
        "g3": [6.0, 5.0, 8.0, 7.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import jonckheere_terpstra

    got = _row(jonckheere_terpstra(df, "g", "v", ["g1", "g2", "g3"]))

    names = ["g1", "g2", "g3"]
    j2 = 0
    for i in range(3):
        for jj in range(i + 1, 3):
            for x in groups[names[i]]:
                for y in groups[names[jj]]:
                    if x < y:
                        j2 += 2
                    elif x == y:
                        j2 += 1
    sizes = [len(groups[n]) for n in names]
    n = sum(sizes)
    mu = (n * n - sum(s * s for s in sizes)) / 4
    var = (
        n * n * (2 * n + 3) - sum(s * s * (2 * s + 3) for s in sizes)
    ) / 72
    z = (j2 / 2 - mu) / math.sqrt(var)
    assert (got["k_groups"], got["n"]) == (3, n)
    assert got["j2"] == j2
    assert got["z"] == approx(z)


def test_heaps_law_pin(spark):
    # synthetic corpus with a KNOWN growth curve: doc i introduces
    # exactly one new token and repeats old ones, ids 0..15, 4 buckets
    docs = []
    for i in range(16):
        toks = [f"w{j}" for j in range(i + 1)]  # w0..wi → vocab = i+1
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from olake_spark.operators.text import heaps_law

    got = _row(heaps_law(df, "doc_id", "text", buckets=4))

    # plain-python mirror: bucket = (id * 4) // 16, cumulative
    import collections

    first = {}
    per_n = collections.Counter()
    per_docs = collections.Counter()
    for i, text in docs:
        b = (i * 4) // 16
        per_docs[b] += 1
        for t in text.split():
            per_n[b] += 1
            first.setdefault(t, b)
    per_v = collections.Counter(first.values())
    xs, ys = [], []
    cn = cv = 0
    for b in range(4):
        cn += per_n[b]
        cv += per_v[b]
        xs.append(math.log(cn))
        ys.append(math.log(cv))
    n = len(xs)
    mx, my = statistics.mean(xs), statistics.mean(ys)
    beta = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    k = math.exp(my - beta * mx)
    assert got["n_buckets_used"] == 4
    assert got["n_docs"] == 16
    assert got["vocab"] == 16
    assert got["n_tokens"] == sum(per_n.values())
    assert got["heaps_beta"] == pytest.approx(beta, abs=1e-4)
    assert got["heaps_k"] == pytest.approx(k, abs=1e-3)


def test_correlation_ratio_pin(spark):
    groups = {"a": [3.0, 5.0, 4.0], "b": [9.0, 11.0, 10.0, 12.0],
              "c": [2.0, 1.0]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import correlation_ratio

    got = _row(correlation_ratio(df, "g", "v"))
    n, k, ssb, ssw, _ = _anova_f(list(groups.values()))
    eta2 = ssb / (ssb + ssw)
    assert (got["k_groups"], got["n"]) == (k, n)
    assert got["eta2"] == pytest.approx(eta2, abs=1e-5)
    assert got["eta"] == pytest.approx(math.sqrt(eta2), abs=1e-5)


def test_top_share_pin(spark):
    vals = [1.0, 2.0, 3.0, 10.0, 10.0, 50.0, 4.0, 5.0, 6.0, 9.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    from olake_spark.operators.audit import top_share

    got = _row(top_share(df, ["g"], "v", p=0.2))
    k = math.ceil(0.2 * len(vals))  # 2
    top = sorted(vals, reverse=True)[:k]
    assert got["n"] == len(vals)
    assert got["k_top"] == k
    assert got["total"] == approx(sum(vals))
    assert got["top_sum"] == approx(sum(top))
    assert got["top_share"] == approx(sum(top) / sum(vals))


def test_top_share_tie_at_cut_pin(spark):
    # three copies of the cut value, k lands mid-tie: exactly the
    # surviving copies count
    vals = [1.0, 7.0, 7.0, 7.0, 9.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    from olake_spark.operators.audit import top_share

    got = _row(top_share(df, ["g"], "v", p=0.6))  # k = 3: 9, 7, 7
    assert got["k_top"] == 3
    assert got["top_sum"] == approx(9.0 + 7.0 + 7.0)


def test_flesch_pin(spark):
    text = "The cat sat. The dog ran away! Did it?"
    df = spark.createDataFrame([(1, text, "en")],
                               "doc_id long, text string, lang string")
    from olake_spark.operators.quality import flesch_reading_ease

    got = _row(flesch_reading_ease(df, "doc_id", "text", by=["lang"]))

    words = len(text.lower().split())
    import re

    sent = max(1, len(re.findall(r"[.!?]+", text)))
    syl = len(re.findall(r"[aeiouy]+", text.lower()))
    fre = 206.835 - 1.015 * (words / sent) - 84.6 * (syl / words)
    assert got["n_docs"] == 1
    assert got["avg_words_per_sentence"] == approx(words / sent)
    assert got["avg_syllables_per_word"] == approx(syl / words)
    assert got["avg_flesch"] == approx(fre)


def test_revenue_bridge_pin(spark):
    # period a: 10 units @ 5.0; period b: 12 units @ 6.0
    rows = [("s", 0, 5.0, 4.0), ("s", 0, 5.0, 6.0),
            ("s", 1, 6.0, 7.0), ("s", 1, 6.0, 5.0)]
    df = spark.createDataFrame(rows, "seg string, per int, price double, qty double")
    from olake_spark.operators.timeseries import revenue_bridge

    got = _row(revenue_bridge(df, ["seg"], "per", "price", "qty", 0, 1))

    ra, qa = 5.0 * 10, 10.0
    rb, qb = 6.0 * 12, 12.0
    pa, pb = ra / qa, rb / qb
    assert got["rev_a"] == approx(ra)
    assert got["rev_b"] == approx(rb)
    assert got["delta_rev"] == approx(rb - ra)
    assert got["price_effect"] == approx((pb - pa) * qa)
    assert got["volume_effect"] == approx((qb - qa) * pa)
    assert got["joint_effect"] == approx((pb - pa) * (qb - qa))
    # reconciliation invariant
    assert (got["price_effect"] + got["volume_effect"]
            + got["joint_effect"]) == pytest.approx(got["delta_rev"],
                                                    abs=1e-5)


def test_two_proportion_ztest_pin(spark):
    rows = [("a", True)] * 30 + [("a", False)] * 70 + \
           [("b", True)] * 20 + [("b", False)] * 80
    df = spark.createDataFrame(rows, "g string, s boolean")
    from olake_spark.operators.abtest import two_proportion_ztest

    got = _row(two_proportion_ztest(df, "g", "s", "a", "b"))
    pa, pb = 0.3, 0.2
    pool = 50 / 200
    z = (pa - pb) / math.sqrt(pool * (1 - pool) * (1 / 100 + 1 / 100))
    assert (got["n_a"], got["k_a"], got["n_b"], got["k_b"]) == (100, 30, 100, 20)
    assert got["z"] == approx(z)


def test_odds_ratio_pin(spark):
    rows = ([(True, True)] * 20 + [(True, False)] * 30
            + [(False, True)] * 10 + [(False, False)] * 40)
    df = spark.createDataFrame(rows, "e boolean, o boolean")
    from olake_spark.operators.abtest import odds_ratio

    got = _row(odds_ratio(df, "e", "o"))
    a, b, c, d = 20, 30, 10, 40
    orr = a * d / (b * c)
    se = math.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    assert got["odds_ratio"] == approx(orr)
    assert got["log_or"] == approx(math.log(orr))
    assert got["se_log_or"] == approx(se)
    assert got["ci_lo"] == approx(math.exp(math.log(orr) - 1.96 * se))
    assert got["ci_hi"] == approx(math.exp(math.log(orr) + 1.96 * se))


# ---------------------------------------------------------------------------
# Degenerate-input pins from the r11 self-review (the greatest/least
# NULL-skipping class: least(1.0, NULL) = 1.0, greatest(NULL, 0) = 0)
# ---------------------------------------------------------------------------

def test_msprt_degenerate_arms_report_null_p(spark):
    rows = [("A", 5.0)] * 3 + [("B", 7.0)] * 3  # zero variance both arms
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import msprt_always_valid

    got = _row(msprt_always_valid(df, "g", "v", "A", "B"))
    assert got["lambda_mix"] is None
    assert got["p_always_valid"] is None  # NOT 1.0 — "test undefined"


def test_ks_uniform_gof_empty_input(spark):
    df = spark.createDataFrame([], "s double")
    from olake_spark.operators.abtest import ks_uniform_gof

    got = _row(ks_uniform_gof(df, "s"))
    assert got["n"] == 0
    assert got["d"] is None  # NOT 0.0 — no data is not "perfectly uniform"
    assert got["d_plus"] is None and got["d_minus"] is None
    assert got["sqrt_n_d"] is None


def test_logrank_empty_input(spark):
    df = spark.createDataFrame([], "dur int, obs boolean, grp int")
    from olake_spark.operators.survival import logrank_test

    got = _row(logrank_test(df, "dur", "obs", "grp", 0, 1))
    assert (got["n_a"], got["n_b"], got["observed_a"]) == (0, 0, 0)
    assert got["z"] is None and got["chi2"] is None


def test_shewhart_empty_input(spark):
    df = spark.createDataFrame([], "ts timestamp, v double")
    from olake_spark.operators.anomaly import shewhart_individuals

    got = _row(shewhart_individuals(df, "ts", "v"))
    assert got["n_buckets"] == 0
    assert got["ucl"] is None and got["lcl"] is None
    assert (got["n_above"], got["n_below"]) == (0, 0)


def test_chi_square_gof_unexpected_category_raises(spark):
    df = spark.createDataFrame([("a",), ("b",), ("zz",)], "cat string")
    from olake_spark.operators.audit import chi_square_gof

    with pytest.raises(Exception, match="not in expected weights"):
        chi_square_gof(df, "cat", {"a": 0.5, "b": 0.5}).collect()


def test_neyman_allocation_pin(spark):
    strata = {
        "a": [10.0, 20.0, 30.0, 40.0],        # sd ~12.9, N=4
        "b": [5.0, 5.1, 5.2],                  # tiny sd, N=3
        "c": [0.0, 100.0, 50.0, 25.0, 75.0],   # big sd, N=5
    }
    rows = [(k, v) for k, vs in strata.items() for v in vs]
    df = spark.createDataFrame(rows, "st string, v double")
    from olake_spark.operators.sampling import neyman_allocation

    total = 97
    got = {r["st"]: r
           for r in neyman_allocation(df, ["st"], "v", total).collect()}

    ns = {k: len(vs) * statistics.stdev(vs) for k, vs in strata.items()}
    tot_ns = sum(ns.values())
    fracs = {k: total * v / tot_ns for k, v in ns.items()}
    # Hamilton integerization
    base = {k: math.floor(f) for k, f in fracs.items()}
    left = total - sum(base.values())
    order = sorted(fracs, key=lambda k: (-(fracs[k] - base[k]), k))
    for k in order[:left]:
        base[k] += 1
    for k in strata:
        assert got[k]["n_pop"] == len(strata[k])
        assert got[k]["sd"] == pytest.approx(statistics.stdev(strata[k]),
                                             abs=1e-4)
        assert got[k]["alloc_frac"] == pytest.approx(fracs[k], abs=1e-4)
        assert got[k]["alloc_n"] == base[k]
    assert sum(r["alloc_n"] for r in got.values()) == total


def test_kish_weighted_mean_pin(spark):
    rows = [("g", 10.0, 1.0), ("g", 20.0, 2.0), ("g", 30.0, 3.0),
            ("g", 99.0, 0.0), ("g", 99.0, -1.0)]  # nonpositive excluded
    df = spark.createDataFrame(rows, "k string, x double, w double")
    from olake_spark.operators.abtest import kish_weighted_mean

    got = _row(kish_weighted_mean(df, ["k"], "x", "w"))
    ws, xs = [1.0, 2.0, 3.0], [10.0, 20.0, 30.0]
    mean_w = sum(w * x for w, x in zip(ws, xs)) / sum(ws)
    n_eff = sum(ws) ** 2 / sum(w * w for w in ws)
    assert (got["n"], got["n_excluded"]) == (3, 2)
    assert got["mean_w"] == approx(mean_w)
    assert got["n_eff"] == approx(n_eff)
    assert got["deff"] == approx(3 / n_eff)


def test_cochran_armitage_pin(spark):
    groups = {"g1": (2, 20), "g2": (5, 20), "g3": (9, 20)}  # rising rate
    rows = []
    for g, (k, n) in groups.items():
        rows += [(g, True)] * k + [(g, False)] * (n - k)
    df = spark.createDataFrame(rows, "g string, s boolean")
    from olake_spark.operators.abtest import cochran_armitage_trend

    scores = {"g1": 1.0, "g2": 2.0, "g3": 3.0}
    got = _row(cochran_armitage_trend(df, "g", "s", scores))

    n = sum(nn for _, nn in groups.values())
    k = sum(kk for kk, _ in groups.values())
    phat = k / n
    t = sum(kk * scores[g] for g, (kk, _) in groups.items()) - phat * sum(
        nn * scores[g] for g, (_, nn) in groups.items()
    )
    var = phat * (1 - phat) * (
        sum(nn * scores[g] ** 2 for g, (_, nn) in groups.items())
        - sum(nn * scores[g] for g, (_, nn) in groups.items()) ** 2 / n
    )
    z = t / math.sqrt(var)
    assert (got["k_groups"], got["n"], got["k_total"]) == (3, n, k)
    assert got["z"] == approx(z)


def test_neyman_all_zero_sd_falls_back_proportional(spark):
    # review finding: with every stratum zero-variance the Hamilton
    # top-up used to hand 1 unit per stratum (summing to k, not the
    # budget) — the degenerate design now falls back to n_h ∝ N_h
    rows = [("a", 7.0)] * 2 + [("b", 3.0)] * 6 + [("c", 9.0)]
    df = spark.createDataFrame(rows, "st string, v double")
    from olake_spark.operators.sampling import neyman_allocation

    got = {r["st"]: r for r in neyman_allocation(df, ["st"], "v", 90).collect()}
    assert sum(r["alloc_n"] for r in got.values()) == 90
    # proportional to N_h = (2, 6, 1) of 9
    assert got["a"]["alloc_n"] == 20
    assert got["b"]["alloc_n"] == 60
    assert got["c"]["alloc_n"] == 10
    assert all(r["sd"] == 0.0 for r in got.values())


def test_kish_null_value_rows_are_not_excluded_weights(spark):
    # review finding: a NULL value with a perfectly good weight landed
    # in n_excluded, inflating what the docstring defines as the count
    # of invalid survey weights
    rows = [("g", 10.0, 1.0), ("g", 30.0, 3.0),
            ("g", None, 2.0),   # missing data, fine weight -> dropped
            ("g", 99.0, 0.0)]   # bad weight -> excluded
    df = spark.createDataFrame(rows, "k string, x double, w double")
    from olake_spark.operators.abtest import kish_weighted_mean

    got = _row(kish_weighted_mean(df, ["k"], "x", "w"))
    assert (got["n"], got["n_excluded"]) == (2, 1)
    assert got["mean_w"] == approx((10.0 + 3 * 30.0) / 4.0)


def test_cochran_armitage_k_groups_counts_groups_not_scores(spark):
    # review finding: k_groups was count_distinct of the quantized
    # score, silently merging groups that share a score
    rows = [("g1", True), ("g1", False), ("g2", False), ("g2", False),
            ("g3", True), ("g3", True), ("g3", False)]
    df = spark.createDataFrame(rows, "g string, s boolean")
    from olake_spark.operators.abtest import cochran_armitage_trend

    got = _row(cochran_armitage_trend(
        df, "g", "s", {"g1": 1.0, "g2": 1.0, "g3": 2.0}))
    assert got["k_groups"] == 3


def test_chao1_pin(spark):
    # 3 singletons, 1 doubleton, 2 heavier types -> D=6, f1=3, f2=1
    toks = ["a", "b", "c", "d", "d", "e", "e", "e", "f", "f", "f", "f"]
    df = spark.createDataFrame([(t,) for t in toks], "u string")
    from olake_spark.operators.text import chao1_from_occurrences

    got = _row(chao1_from_occurrences(df, ["u"]))
    assert (got["vocab"], got["n_tokens"], got["f1"], got["f2"]) == (6, 12, 3, 1)
    assert got["chao1"] == approx(6 + 3 * 2 / (2 * (1 + 1)))  # 7.5


def test_good_turing_pin(spark):
    # N1=3, N2=1, N3=1, N4=1 -> r*=1: 2*N2/N1=2/3; r*=2: 3*N3/N2=3;
    # r*=3: 4*N4/N3=4; r*=4: NULL (no N5)
    toks = ["a", "b", "c", "d", "d", "e", "e", "e", "f", "f", "f", "f"]
    df = spark.createDataFrame([(t,) for t in toks], "u string")
    from olake_spark.operators.text import good_turing_from_occurrences

    rows = {r["r"]: r for r in good_turing_from_occurrences(df, ["u"]).collect()}
    assert rows[1]["n_r"] == 3 and rows[1]["r_star"] == approx(2 / 3)
    assert rows[2]["r_star"] == approx(3.0)
    assert rows[3]["r_star"] == approx(4.0)
    assert rows[4]["r_star"] is None


def test_mantel_haenszel_pin(spark):
    # two strata, hand-computed MH estimate + RBG variance
    strata = {"s1": (10, 5, 4, 11), "s2": (6, 2, 3, 9)}  # (a, b, c, d)
    rows = []
    for st, (a, b, c, d) in strata.items():
        rows += [(st, True, True)] * a + [(st, True, False)] * b
        rows += [(st, False, True)] * c + [(st, False, False)] * d
    df = spark.createDataFrame(rows, "st string, e boolean, o boolean")
    from olake_spark.operators.abtest import mantel_haenszel_or

    got = _row(mantel_haenszel_or(df, ["st"], "e", "o"))
    R = sum(a * d / (a + b + c + d) for a, b, c, d in strata.values())
    S = sum(b * c / (a + b + c + d) for a, b, c, d in strata.values())
    PR = sum((a + d) / (n := a + b + c + d) * (a * d / n)
             for a, b, c, d in strata.values())
    PSQR = sum(((a + d) / (n := a + b + c + d)) * (b * c / n)
               + ((b + c) / n) * (a * d / n) for a, b, c, d in strata.values())
    QS = sum(((b + c) / (n := a + b + c + d)) * (b * c / n)
             for a, b, c, d in strata.values())
    se = math.sqrt(PR / (2 * R * R) + PSQR / (2 * R * S) + QS / (2 * S * S))
    assert got["k_strata"] == 2 and got["n"] == 50
    assert got["or_mh"] == pytest.approx(R / S, abs=1e-5)
    assert got["log_or_mh"] == pytest.approx(math.log(R / S), abs=1e-5)
    assert got["se_log_or"] == pytest.approx(se, abs=1e-5)


def test_mcnemar_pin(spark):
    # b=6 (1->0), c=2 (0->1), 12 concordant
    rows = ([(True, True)] * 7 + [(False, False)] * 5
            + [(True, False)] * 6 + [(False, True)] * 2)
    df = spark.createDataFrame(rows, "x boolean, y boolean")
    from olake_spark.operators.abtest import mcnemar_paired

    got = _row(mcnemar_paired(df, "x", "y"))
    assert (got["n"], got["n_concordant"], got["b"], got["c"]) == (20, 12, 6, 2)
    assert got["chi2"] == approx((6 - 2) ** 2 / 8)        # 2.0
    assert got["chi2_cc"] == approx((4 - 1) ** 2 / 8)     # 1.125
    assert got["z"] == approx(4 / math.sqrt(8))


def test_wasserstein_1d_pin(spark):
    # equal sizes: W1 = mean |sorted(a)_i - sorted(b)_i| = (1+1+2)/3
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 2.0), ("b", 3.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import wasserstein_1d

    got = _row(wasserstein_1d(df, "g", "v", "a", "b"))
    assert (got["n_a"], got["n_b"]) == (3, 3)
    assert got["w1"] == approx(4 / 3)
    # unequal sizes: W1({0,4}, {2}) = integral |F_a - F_b| = 2*(1/2)+2*(1/2)
    rows2 = [("a", 0.0), ("a", 4.0), ("b", 2.0)]
    got2 = _row(wasserstein_1d(
        spark.createDataFrame(rows2, "g string, v double"), "g", "v", "a", "b"))
    assert got2["w1"] == approx(2.0)


def test_durbin_watson_pin(spark):
    series = [3.0, 5.0, 4.0, 7.0, 6.0]
    rows = [("k", i, v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    from olake_spark.operators.timeseries import durbin_watson

    got = _row(durbin_watson(df, ["k"], "t", "v"))
    mean = sum(series) / len(series)
    e = [v - mean for v in series]
    dw = sum((e[i] - e[i - 1]) ** 2 for i in range(1, len(e))) / sum(
        x * x for x in e
    )
    assert got["n"] == 5
    assert got["dw"] == approx(dw)
    # constant series -> NULL
    const = spark.createDataFrame([("k", i, 2.0) for i in range(4)],
                                  "k string, t int, v double")
    assert _row(durbin_watson(const, ["k"], "t", "v"))["dw"] is None


def test_friedman_pin_no_ties_classic_formula(spark):
    # no ties -> Conover's T must equal the CLASSIC chi2_F formula
    # 12/(nk(k+1))*sum(R_j^2) - 3n(k+1), a structurally different
    # expression computed here from first principles
    blocks = {
        "b1": {"t1": 1.0, "t2": 3.0, "t3": 2.0},
        "b2": {"t1": 2.0, "t2": 5.0, "t3": 1.0},
        "b3": {"t1": 1.5, "t2": 4.0, "t3": 3.0},
        "b4": {"t1": 0.5, "t2": 2.5, "t3": 6.0},
    }
    rows = [(b, t, v) for b, tv in blocks.items() for t, v in tv.items()]
    df = spark.createDataFrame(rows, "b string, t string, v double")
    from olake_spark.operators.abtest import friedman_test

    got = _row(friedman_test(df, "b", "t", "v"))
    n, k = 4, 3
    R = {"t1": 0.0, "t2": 0.0, "t3": 0.0}
    for tv in blocks.values():
        order = sorted(tv, key=lambda t: tv[t])
        for r, t in enumerate(order, start=1):
            R[t] += r
    chi2 = 12.0 / (n * k * (k + 1)) * sum(v * v for v in R.values()) - 3 * n * (
        k + 1
    )
    assert (got["k_treatments"], got["n_blocks"]) == (3, 4)
    assert got["t_stat"] == approx(chi2)


def test_friedman_ties_and_incomplete_blocks(spark):
    # a tied block uses average ranks; an incomplete block must drop
    rows = [("b1", "t1", 2.0), ("b1", "t2", 2.0), ("b1", "t3", 5.0),
            ("b2", "t1", 1.0), ("b2", "t2", 4.0), ("b2", "t3", 2.0),
            ("b3", "t1", 9.0)]  # incomplete -> excluded
    df = spark.createDataFrame(rows, "b string, t string, v double")
    from fractions import Fraction as Fr
    from olake_spark.operators.abtest import friedman_test

    got = _row(friedman_test(df, "b", "t", "v"))
    # hand ranks: b1: t1=1.5, t2=1.5, t3=3; b2: t1=1, t2=3, t3=2
    ranks = {"t1": [Fr(3, 2), Fr(1)], "t2": [Fr(3, 2), Fr(3)],
             "t3": [Fr(3), Fr(2)]}
    n, k = 2, 3
    Rj = {t: sum(rs) for t, rs in ranks.items()}
    A1 = sum(r * r for rs in ranks.values() for r in rs)
    C1 = Fr(n * k * (k + 1) ** 2, 4)
    num = sum((R - Fr(n * (k + 1), 2)) ** 2 for R in Rj.values())
    t_ref = float((k - 1) * num / (A1 - C1))
    assert got["n_blocks"] == 2
    assert got["t_stat"] == approx(t_ref)


def test_cochran_q_pin(spark):
    # worked example: 4 units x 3 treatments
    data = {
        "u1": (1, 1, 0), "u2": (1, 0, 0), "u3": (1, 1, 1), "u4": (0, 1, 0),
    }
    rows = [(u, f"t{j+1}", bool(s))
            for u, ss in data.items() for j, s in enumerate(ss)]
    df = spark.createDataFrame(rows, "u string, t string, s boolean")
    from olake_spark.operators.abtest import cochran_q

    got = _row(cochran_q(df, "u", "t", "s"))
    C = [sum(ss[j] for ss in data.values()) for j in range(3)]
    R = [sum(ss) for ss in data.values()]
    N = sum(C)
    k = 3
    q = (k - 1) * (k * sum(c * c for c in C) - N * N) / (
        k * N - sum(r * r for r in R)
    )
    assert (got["k_treatments"], got["n_units"], got["n_success"]) == (3, 4, N)
    assert got["q_stat"] == approx(q)
    # incomplete design raises in-plan
    bad = spark.createDataFrame(rows[:-1], "u string, t string, s boolean")
    with pytest.raises(Exception, match="incomplete design"):
        _row(cochran_q(bad, "u", "t", "s"))


def test_cliffs_delta_pin(spark):
    a = [1.0, 2.0, 2.0, 5.0]
    b = [2.0, 3.0, 4.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import cliffs_delta

    got = _row(cliffs_delta(df, "g", "v", "a", "b"))
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    assert (got["n_a"], got["n_b"], got["n_gt"], got["n_lt"]) == (4, 3, gt, lt)
    assert got["delta"] == approx((gt - lt) / 12)


def test_nelson_aalen_pin(spark):
    # durations (d=observed): t=1: 2 events of 6 at risk; t=2: 1 of 4
    # (one censored at 1); t=3: 1 of 2 (one censored at 2)
    rows = [(1, True), (1, True), (1, False),
            (2, True), (2, False),
            (3, True), (3, False)]
    df = spark.createDataFrame(rows, "dur int, obs boolean")
    from olake_spark.operators.survival import nelson_aalen

    out = {r["duration"]: r for r in nelson_aalen(df, "dur", "obs").collect()}
    assert out[1]["n_at_risk"] == 7 and out[1]["d"] == 2
    assert out[1]["h_micro"] == 2 * 10**6 // 7
    assert out[2]["n_at_risk"] == 4 and out[2]["h_micro"] == 10**6 // 4
    assert out[3]["n_at_risk"] == 2 and out[3]["h_micro"] == 10**6 // 2
    assert out[3]["cum_hazard_micro"] == (
        2 * 10**6 // 7 + 10**6 // 4 + 10**6 // 2
    )
    # var is CUMULATIVE: t=1 contributes 2e12 div 49, t=2 adds 1e12 div 16
    assert out[2]["var_micro2"] == 2 * 10**12 // 49 + 10**12 // 16


def test_cronbach_alpha_pin(spark):
    # 3 units x 2 items, fully present -> hand population variances
    data = {"u1": (1.0, 2.0), "u2": (2.0, 4.0), "u3": (3.0, 6.0)}
    rows = [(u, f"i{j+1}", v) for u, vv in data.items()
            for j, v in enumerate(vv)]
    df = spark.createDataFrame(rows, "u string, i string, v double")
    from olake_spark.operators.abtest import cronbach_alpha

    got = _row(cronbach_alpha(df, "u", "i", "v"))

    def pvar(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / len(xs)

    items = [[vv[j] for vv in data.values()] for j in range(2)]
    totals = [sum(vv) for vv in data.values()]
    alpha = 2 / 1 * (1 - sum(pvar(i) for i in items) / pvar(totals))
    assert (got["k_items"], got["n_units"]) == (2, 3)
    assert got["alpha"] == approx(alpha)
    # implicit zeros: a missing (unit, item) cell is a 0 measurement
    df2 = spark.createDataFrame(rows[:-1], "u string, i string, v double")
    got2 = _row(cronbach_alpha(df2, "u", "i", "v"))
    items2 = [[1.0, 2.0, 3.0], [2.0, 4.0, 0.0]]
    totals2 = [3.0, 6.0, 3.0]
    alpha2 = 2 * (1 - sum(pvar(i) for i in items2) / pvar(totals2))
    assert got2["alpha"] == approx(alpha2)


def test_ljung_box_pin(spark):
    # tiny gapless daily series; plain-Python ACF + Q from scratch
    series = [5.0, 7.0, 4.0, 8.0, 6.0, 9.0, 3.0, 7.0]
    rows = [(datetime(2024, 1, 1) + timedelta(days=i), v)
            for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    from olake_spark.operators.forecast import ljung_box

    got = _row(ljung_box(df, "ts", "v", max_lag=3))
    n = len(series)
    mean = sum(series) / n
    dev = [v - mean for v in series]
    den = sum(d * d for d in dev)
    q = 0.0
    for k in (1, 2, 3):
        r = sum(dev[i] * dev[i + k] for i in range(n - k)) / den
        q += r * r / (n - k)
    q *= n * (n + 2)
    assert (got["n"], got["m_used"]) == (8, 3)
    assert got["q_lb"] == approx(q)


def test_isotonic_calibration_pools_violator_pin(spark):
    # buckets with a violation: raw rates [0.2, 0.6, 0.3, 0.8] and
    # masses [10, 10, 20, 10] -> PAVA pools buckets 2,3 into
    # (6+6)/(10+20)=0.4
    spec = [(0, 10, 2), (1, 10, 6), (2, 20, 6), (3, 10, 8)]
    rows = []
    for b, n, k in spec:
        score = (b + 0.5) / 4
        rows += [(score, True)] * k + [(score, False)] * (n - k)
    df = spark.createDataFrame(rows, "s double, y boolean")
    from olake_spark.operators.abtest import isotonic_calibration

    got = {r["bucket"]: r for r in
           isotonic_calibration(df, "s", "y", n_buckets=4).collect()}
    assert [got[b]["rate_raw"] for b in range(4)] == [0.2, 0.6, 0.3, 0.8]
    fitted = [got[b]["rate_iso"] for b in range(4)]
    assert fitted == [0.2, approx(0.4), approx(0.4), 0.8]
    # monotone and mass-preserving within pooled blocks
    assert all(fitted[i] <= fitted[i + 1] + 1e-12 for i in range(3))


def test_isotonic_calibration_already_monotone_is_identity(spark):
    spec = [(0, 5, 1), (1, 5, 2), (2, 5, 4)]
    rows = []
    for b, n, k in spec:
        score = (b + 0.5) / 3
        rows += [(score, True)] * k + [(score, False)] * (n - k)
    df = spark.createDataFrame(rows, "s double, y boolean")
    from olake_spark.operators.abtest import isotonic_calibration

    got = {r["bucket"]: r for r in
           isotonic_calibration(df, "s", "y", n_buckets=3).collect()}
    for b, n, k in spec:
        assert got[b]["rate_iso"] == approx(k / n)


def test_energy_distance_pin(spark):
    a = [1.0, 3.0, 5.0]
    b = [2.0, 2.0, 6.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import energy_distance_1d

    got = _row(energy_distance_1d(df, "g", "v", "a", "b"))
    exy = sum(abs(x - y) for x in a for y in b) / 9
    exx = sum(abs(x - y) for x in a for y in a) / 9
    eyy = sum(abs(x - y) for x in b for y in b) / 9
    assert got["e_xy"] == approx(exy)
    assert got["e_xx"] == approx(exx)
    assert got["e_yy"] == approx(eyy)
    assert got["energy_d2"] == approx(2 * exy - exx - eyy)
    # identical distributions -> zero
    rows2 = [("a", v) for v in a] + [("b", v) for v in a]
    got2 = _row(energy_distance_1d(
        spark.createDataFrame(rows2, "g string, v double"), "g", "v", "a", "b"))
    assert got2["energy_d2"] == approx(0.0)


def test_wasserstein_energy_single_shared_value_is_zero(spark):
    # review catch: both groups on ONE value -> distances are truly 0,
    # not NULL (the oracle used to mirror the NULL: gate-green wrong)
    rows = [("a", 7.0)] * 3 + [("b", 7.0)] * 2
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import energy_distance_1d, wasserstein_1d

    w = _row(wasserstein_1d(df, "g", "v", "a", "b"))
    assert (w["n_a"], w["n_b"], w["w1"]) == (3, 2, 0.0)
    e = _row(energy_distance_1d(df, "g", "v", "a", "b"))
    assert (e["e_xy"], e["e_xx"], e["e_yy"], e["energy_d2"]) == (
        0.0, 0.0, 0.0, 0.0
    )


def test_cochran_q_empty_and_duplicate_treatment(spark):
    from olake_spark.operators.abtest import cochran_q

    empty = spark.createDataFrame([], "u string, t string, s boolean")
    got = _row(cochran_q(empty, "u", "t", "s"))
    # empty input is the NULL report, not an 'incomplete design' crash
    assert got["n_units"] == 0 and got["q_stat"] is None

    # (t1, t1, t3) passes a count-only check but must raise now
    rows = [("u1", "t1", True), ("u1", "t1", False), ("u1", "t3", True),
            ("u2", "t1", True), ("u2", "t2", False), ("u2", "t3", True)]
    dup = spark.createDataFrame(rows, "u string, t string, s boolean")
    with pytest.raises(Exception, match="incomplete design"):
        _row(cochran_q(dup, "u", "t", "s"))


def test_kendalls_w_pin(spark):
    # perfect agreement across blocks -> W = 1 exactly
    rows = [(b, t, float(v)) for b in ("b1", "b2", "b3")
            for t, v in (("t1", 1), ("t2", 2), ("t3", 3))]
    df = spark.createDataFrame(rows, "b string, t string, v double")
    from olake_spark.operators.abtest import friedman_test, kendalls_w

    got = _row(kendalls_w(df, "b", "t", "v"))
    assert (got["k_treatments"], got["n_blocks"], got["w"]) == (3, 3, 1.0)
    # identity W = T/(n(k-1)) on a non-trivial fixture
    rows2 = [("b1", "t1", 1.0), ("b1", "t2", 3.0), ("b1", "t3", 2.0),
             ("b2", "t1", 2.0), ("b2", "t2", 1.0), ("b2", "t3", 3.0)]
    df2 = spark.createDataFrame(rows2, "b string, t string, v double")
    t = _row(friedman_test(df2, "b", "t", "v"))["t_stat"]
    w = _row(kendalls_w(df2, "b", "t", "v"))["w"]
    assert w == approx(t / (2 * (3 - 1)))


def test_cramer_von_mises_pin(spark):
    a = [1.0, 2.0, 4.0]
    b = [2.0, 3.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import cramer_von_mises_2samp

    got = _row(cramer_von_mises_2samp(df, "g", "v", "a", "b"))
    na, nb = len(a), len(b)

    def fa(x):
        return sum(1 for t in a if t <= x) / na

    def fb(x):
        return sum(1 for t in b if t <= x) / nb

    t_ref = na * nb / (na + nb) ** 2 * sum(
        (fa(x) - fb(x)) ** 2 for x in a + b
    )
    assert (got["n_a"], got["n_b"]) == (3, 2)
    assert got["t_cvm"] == approx(t_ref)


def test_kuiper_pin(spark):
    # crossing CDFs: a below then above -> both D+ and D- positive
    a = [1.0, 5.0, 6.0]
    b = [2.0, 3.0, 4.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import kuiper_two_sample

    got = _row(kuiper_two_sample(df, "g", "v", "a", "b"))

    def fa(x):
        return sum(1 for t in a if t <= x) / 3

    def fb(x):
        return sum(1 for t in b if t <= x) / 3

    pts = sorted(a + b)
    dp = max(fa(x) - fb(x) for x in pts)
    dm = max(fb(x) - fa(x) for x in pts)
    assert got["d_plus"] == approx(dp)
    assert got["d_minus"] == approx(dm)
    assert got["v_kuiper"] == approx(dp + dm)


def test_hellinger_pin(spark):
    # bins of width 1: a -> {0:2, 1:1}; b -> {1:1, 2:1}
    rows = [("a", 0.2), ("a", 0.7), ("a", 1.5),
            ("b", 1.1), ("b", 2.9)]
    df = spark.createDataFrame(rows, "g string, v double")
    from olake_spark.operators.abtest import hellinger_binned

    got = _row(hellinger_binned(df, "g", "v", "a", "b", bin_width=1.0))
    bc = (math.sqrt(2 * 0) + math.sqrt(1 * 1) + math.sqrt(0 * 1)) / math.sqrt(
        3 * 2
    )
    assert (got["n_a"], got["n_b"], got["n_bins"]) == (3, 2, 3)
    assert got["bc"] == approx(bc)
    assert got["hellinger"] == approx(math.sqrt(1 - bc))
    # identical distributions -> BC = 1, H = 0
    same = [("a", 0.5), ("a", 1.5), ("b", 0.4), ("b", 1.6)]
    got2 = _row(hellinger_binned(
        spark.createDataFrame(same, "g string, v double"),
        "g", "v", "a", "b", bin_width=1.0))
    assert got2["bc"] == approx(1.0) and got2["hellinger"] == approx(0.0)
