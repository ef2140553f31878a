"""Integer PageRank: hand-computed ranks, determinism, checkpoint path."""

from __future__ import annotations

from olake_spark.operators.graph import pagerank


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
