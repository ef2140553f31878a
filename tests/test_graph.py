"""Integer PageRank: hand-computed ranks, determinism, checkpoint path."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from olake_spark.operators.graph import connected_components_fixed, pagerank


def _edges(spark):
    # cycle a->b->c->a plus d->a; all out-degrees 1
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")], "src string, dst string"
    )


def test_pagerank_one_round_hand_computed(spark):
    r = {x.node: x.pr for x in pagerank(_edges(spark), iters=1).collect()}
    base = (15 * (10**12 // 4)) // 100  # 37_500_000_000
    r0 = 10**12 // 4
    assert r["d"] == base  # no in-edges
    assert r["b"] == base + (85 * r0) // 100
    assert r["c"] == base + (85 * r0) // 100
    assert r["a"] == base + (85 * 2 * r0) // 100  # fed by c and d
    assert r["a"] > r["b"] == r["c"] > r["d"]


def test_pagerank_deterministic_and_checkpoint_equal(spark):
    e = _edges(spark)
    a = sorted(map(tuple, pagerank(e, iters=3).collect()))
    b = sorted(map(tuple, pagerank(e.repartition(5), iters=3).collect()))
    c = sorted(
        map(tuple, pagerank(e, iters=3, checkpoint_every=2).collect())
    )
    # 0 = never checkpoint (the pre-r11 reading) — must return, not raise
    d = sorted(
        map(tuple, pagerank(e, iters=2, checkpoint_every=0).collect())
    )
    assert a == b == c
    assert d == sorted(map(tuple, pagerank(e, iters=2).collect()))


def test_pagerank_duplicate_edges_collapse(spark):
    e = _edges(spark)
    doubled = e.union(e)
    a = sorted(map(tuple, pagerank(e, iters=2).collect()))
    b = sorted(map(tuple, pagerank(doubled, iters=2).collect()))
    assert a == b


def test_personalized_pagerank_mass_concentrates_near_seeds(spark):
    from olake_spark.operators.graph import personalized_pagerank

    # two disconnected stars: seed star (a -> b, c) and far star (x -> y, z)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("x", "y"), ("x", "z")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    pr = {r.node: r.ppr for r in personalized_pagerank(edges, seeds, iters=3).collect()}
    # the far component never receives mass
    assert pr["x"] == pr["y"] == pr["z"] == 0
    assert pr["a"] > 0 and pr["b"] > 0 and pr["b"] == pr["c"]
    # partition invariance (exact integers)
    pr2 = {
        r.node: r.ppr
        for r in personalized_pagerank(
            edges.repartition(5), seeds, iters=3
        ).collect()
    }
    assert pr == pr2


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
