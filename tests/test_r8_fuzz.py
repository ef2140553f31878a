"""Property fuzz for the round-8 operators: each checked against a plain
Python reference implementation on random inputs (the invariants-fuzz
pattern — Spark-driving tests run few examples, the references are exact).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from olake_spark.exact import round_half_up6
from olake_spark.operators.features import target_encode_loo
from olake_spark.operators.forecast import holt_linear
from olake_spark.operators.graph import connected_components_fixed
from olake_spark.operators.survival import kaplan_meier


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


# 4 examples: each drives a 10-round unrolled plan (the expensive part);
# the single-shape coverage (paths/cliques/self-loops) saturates quickly
@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=15,
    )
)
def test_cc_fixed_matches_union_find(spark, edges):
    """rounds = node-domain size always covers the diameter (shortcutting
    only accelerates), so the fixed-round labels must equal a reference
    union-find's min-id components over the non-isolated nodes."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        nodes.update((a, b))
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in nodes}
    df = spark.createDataFrame(edges, "src long, dst long")
    if not nodes:
        # all edges were self-loops: the operator drops them, no nodes
        assert connected_components_fixed(df, rounds=1).count() == 0
        return
    got = {
        r.node: r.component
        for r in connected_components_fixed(df, rounds=10).collect()
    }
    assert got == expected


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
