"""Every hybrid operator, run both ways: the driver path (default cap) must
return the same rows and schema as the distributed path
(``driver_collect_max=0``), and each call must log exactly one
``olake_spark.hybrid`` record naming the path it took and why.

The frames are the hostile ones: NULL and > 2^53 integer keys, temporal
and decimal keys, int32 node ids, values at the correlation headroom
bound, empty inputs, plus the seeded random frames each operator's mirror
was first fuzzed with.
"""

from __future__ import annotations

import datetime as dt
import decimal
import logging
import random

import pytest

from olake_spark.operators import correlation
from olake_spark.operators.audit import numeric_outlier_stats
from olake_spark.operators.bpe import bpe_train_merges
from olake_spark.operators.correlation import corr_matrix, spearman_matrix
from olake_spark.operators.dedup import connected_components
from olake_spark.operators.graph import (
    connected_components_fixed,
    k_core,
    pagerank,
    personalized_pagerank,
)
from olake_spark.operators.quantiles import median_mad

BIG = 2**53 + 1


def both_ways(caplog, op, build, driver=True):
    """Run ``build(**kw)`` at the default cap and at 0; assert equal rows
    and column types and one path record per call; return (rows, the
    default-cap record)."""
    caplog.set_level(logging.INFO, logger="olake_spark.hybrid")
    out = []
    for kw in ({}, {"driver_collect_max": 0}):
        caplog.clear()
        df = build(**kw)
        recs = [
            r.getMessage()
            for r in caplog.records
            if r.name == "olake_spark.hybrid"
            and r.getMessage().startswith(f"op={op} ")
        ]
        assert len(recs) == 1, recs
        types = [(f.name, f.dataType) for f in df.schema]  # nullability may differ
        out.append((sorted(map(tuple, df.collect()), key=repr), types, recs[0]))
    (fast, fast_schema, rec), (slow, slow_schema, slow_rec) = out
    assert fast == slow
    assert fast_schema == slow_schema
    assert slow_rec.endswith("path=distributed reason=driver_collect_max <= 0")
    assert ("path=driver " in rec) == driver, rec
    return fast, rec


# ---------------------------------------------------------------------------
# grouped operators: key values come back as their Spark type
# ---------------------------------------------------------------------------

KEYS = {
    "int_null": ("int", [1, None, 2]),
    "bigint_2p53_null": ("bigint", [BIG, None, BIG + 2]),
    "timestamp": (
        "timestamp",
        [dt.datetime(2024, 1, 1, 5), None, dt.datetime(1999, 12, 31, 23, 59, 59, 999999)],
    ),
    "date": ("date", [dt.date(2024, 1, 1), None, dt.date(1970, 1, 1)]),
    "decimal": ("decimal(12,3)", [decimal.Decimal("1.500"), None, decimal.Decimal("-2.250")]),
}


def _keyed(spark, ktype, keys, nulls=True):
    keys = [k for k in keys if nulls or k is not None]
    rows = [
        (keys[i % len(keys)], 1.5 * i + (i % 3), (i % 4) - 0.25 * i)
        for i in range(30)
    ]
    return spark.createDataFrame(rows, f"g {ktype}, v double, w double")


@pytest.mark.parametrize("case", sorted(KEYS))
def test_grouped_keys_both_ways(spark, caplog, case):
    df = _keyed(spark, *KEYS[case])
    rows, _ = both_ways(
        caplog, "audit.numeric_outlier_stats",
        lambda **kw: numeric_outlier_stats(df, "g", "v", **kw),
    )
    assert None in {r[0] for r in rows}  # the NULL key is a real group
    both_ways(
        caplog, "correlation.corr",
        lambda **kw: corr_matrix(df, ["v", "w"], by=["g"], **kw),
    )
    # median_mad's contract is non-null keys (see the next test)
    nn = _keyed(spark, *KEYS[case], nulls=False)
    both_ways(
        caplog, "quantiles.median_mad",
        lambda **kw: median_mad(nn, ["g"], "v", report_k=2, **kw),
    )


def test_median_mad_null_key_takes_dataflow(spark, caplog):
    caplog.set_level(logging.INFO, logger="olake_spark.hybrid")
    df = _keyed(spark, *KEYS["int_null"])
    with pytest.raises(RuntimeError, match="unconverged"):
        median_mad(df, ["g"], "v")
    assert [r.getMessage() for r in caplog.records] == [
        "op=quantiles.median_mad path=distributed "
        "reason=NULL in non-null column g"
    ]


def test_median_mad_keyless_both_ways(spark, caplog):
    # one global group: the dataflow joins the one-row median on no keys
    df = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS v")
    rows, _ = both_ways(
        caplog, "quantiles.median_mad", lambda **kw: median_mad(df, [], "v", **kw)
    )
    assert rows == [(10, 4_000_000, 2_000_000)]
    rows, _ = both_ways(
        caplog, "quantiles.median_mad",
        lambda **kw: median_mad(df, [], "v", report_k=1, **kw),
    )
    assert rows == [(10, 4_000_000, 2_000_000, 5)]


def test_null_group_reports_real_stats(spark):
    from olake_spark.operators.audit import numeric_outlier_stats

    rows = [(None, float(v)) for v in (1, 2, 3, 4, 1000)]
    rows += [("a", float(v)) for v in (10, 20, 30)]
    rows += [(None, None)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {r.grp: r for r in numeric_outlier_stats(df, "grp", "v", k=3.0).collect()}
    ng = out[None]
    assert ng.n == 5 and ng.n_nulls == 1
    assert ng.median == 3.0 and ng.mad == 1.0
    assert ng.n_outliers == 1  # the 1000
    assert out["a"].n == 3 and out["a"].median == 20.0


def test_floating_group_key_takes_dataflow(spark, caplog):
    # Spark groups -0.0 with 0.0 (and NaN with NaN); Arrow hashing does not
    df = spark.createDataFrame(
        [(0.0, 1.0), (-0.0, 2.0), (1.5, 3.0), (1.5, 5.0), (None, 4.0)],
        "g double, v double",
    )
    _, rec = both_ways(
        caplog, "audit.numeric_outlier_stats",
        lambda **kw: numeric_outlier_stats(df, "g", "v", **kw),
        driver=False,
    )
    assert rec.endswith("reason=floating group key _g")


# ---------------------------------------------------------------------------
# correlation headroom: |x| < 2^42 micro-units and n <= 2^20 rows
# ---------------------------------------------------------------------------


def test_corr_value_bound(spark, caplog):
    top = (2**42 - 1) / 1e6  # the largest micro-unit magnitude allowed
    rows = [(top, 1.0), (-top, 2.5), (top / 3, -4.0), (1.0, 8.0), (-top, 0.5)]
    df = spark.createDataFrame(rows, "a double, b double")
    both_ways(caplog, "correlation.corr", lambda **kw: corr_matrix(df, ["a", "b"], **kw))
    over = spark.createDataFrame(rows + [(2**42 / 1e6, 1.0)], "a double, b double")
    _, rec = both_ways(
        caplog, "correlation.corr",
        lambda **kw: corr_matrix(over, ["a", "b"], **kw),
        driver=False,
    )
    assert rec.endswith("reason=|x| >= 2^42 micro-units")


def test_corr_row_bound_is_independent_of_cap(spark, caplog, monkeypatch):
    monkeypatch.setattr(correlation, "_DRIVER_MAX_ROWS", 3)
    df = spark.createDataFrame([(float(i), float(i * i)) for i in range(5)], "a double, b double")
    _, rec = both_ways(
        caplog, "correlation.corr",
        lambda **kw: corr_matrix(df, ["a", "b"], **kw),
        driver=False,
    )
    assert rec.endswith("reason=more than 3 rows")


# ---------------------------------------------------------------------------
# graph operators: int32 ids keep their type; NULL endpoints fall back
# ---------------------------------------------------------------------------


def _int32_graph(spark):
    rng = random.Random(5)
    rows = [(rng.randrange(40), rng.randrange(40)) for _ in range(200)]
    rows += [(100 + i, 101 + i) for i in range(12)]  # a chain rounds don't close
    return spark.createDataFrame(rows, "src int, dst int")


def test_graph_int32_ids_both_ways(spark, caplog):
    e = _int32_graph(spark)
    seeds = spark.createDataFrame([(1,), (2,), (None,), (999,)], "node int")
    ids = spark.createDataFrame([(i,) for i in range(120)], "doc_id int")
    pairs = e.selectExpr("src AS id_a", "dst AS id_b")
    both_ways(caplog, "graph.pagerank", lambda **kw: pagerank(e, iters=3, **kw))
    both_ways(
        caplog, "graph.personalized_pagerank",
        lambda **kw: personalized_pagerank(e, seeds, iters=3, **kw),
    )
    for rounds in (1, 3):
        both_ways(caplog, "graph.k_core", lambda **kw: k_core(e, k=3, rounds=rounds, **kw))
        both_ways(
            caplog, "graph.connected_components_fixed",
            lambda **kw: connected_components_fixed(e, rounds=rounds, **kw),
        )
    both_ways(
        caplog, "dedup.connected_components",
        lambda **kw: connected_components(ids, pairs, **kw),
    )


def test_pagerank_null_endpoint_takes_dataflow(spark, caplog):
    e = spark.createDataFrame([(1, 2), (2, None), (2, 3), (3, 1)], "src long, dst long")
    _, rec = both_ways(
        caplog, "graph.pagerank", lambda **kw: pagerank(e, iters=2, **kw), driver=False
    )
    assert rec.endswith("reason=NULL in non-null column dst")


def test_string_ids_keep_peel_distributed(spark, caplog):
    e = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    _, rec = both_ways(
        caplog, "graph.k_core", lambda **kw: k_core(e, k=2, rounds=2, **kw), driver=False
    )
    assert "integer column a arrived as object" in rec


# ---------------------------------------------------------------------------
# empty inputs
# ---------------------------------------------------------------------------


def test_empty_inputs_both_ways(spark, caplog):
    e = spark.createDataFrame([], "src long, dst long")
    seeds = spark.createDataFrame([], "node long")
    both_ways(caplog, "graph.pagerank", lambda **kw: pagerank(e, **kw))
    both_ways(
        caplog, "graph.personalized_pagerank",
        lambda **kw: personalized_pagerank(e, seeds, **kw),
    )
    both_ways(caplog, "graph.k_core", lambda **kw: k_core(e, k=2, rounds=2, **kw))
    both_ways(
        caplog, "graph.connected_components_fixed",
        lambda **kw: connected_components_fixed(e, rounds=2, **kw),
    )
    ids = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    both_ways(
        caplog, "dedup.connected_components",
        lambda **kw: connected_components(ids, pairs, **kw),
    )
    df = spark.createDataFrame([], "g string, v double, w double")
    both_ways(
        caplog, "audit.numeric_outlier_stats",
        lambda **kw: numeric_outlier_stats(df, "g", "v", **kw),
    )
    both_ways(
        caplog, "quantiles.median_mad",
        lambda **kw: median_mad(df, ["g"], "v", report_k=3, **kw),
    )
    for keys in ([], ["g"]):
        both_ways(
            caplog, "correlation.corr",
            lambda **kw: corr_matrix(df, ["v", "w"], by=keys, **kw),
        )
    texts = spark.createDataFrame([], "doc_id int, text string")
    for kw in ({}, {"driver_collect_max": 0}):
        with pytest.raises(Exception, match="exhausted"):
            bpe_train_merges(texts, n_merges=2, **kw).collect()


# ---------------------------------------------------------------------------
# seeded random frames (the mirrors' original fuzz cases)
# ---------------------------------------------------------------------------


def _pagerank_graphs(spark):
    rng = random.Random(7)
    yield [(f"n{rng.randrange(60)}", f"n{rng.randrange(60)}") for _ in range(400)]
    # dense hubs, self-loops-only nodes, long chains, duplicate edges
    for seed in range(3):
        rng = random.Random(70 + seed)
        n = 30 + 20 * seed
        rows = [("h", f"n{i}") for i in range(n)]
        rows += [(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}") for _ in range(300)]
        rows += [(f"c{i}", f"c{i+1}") for i in range(15)]
        yield rows


def test_pagerank_random_graphs(spark, caplog):
    for rows in _pagerank_graphs(spark):
        e = spark.createDataFrame(rows, "src string, dst string")
        both_ways(caplog, "graph.pagerank", lambda **kw: pagerank(e, iters=4, **kw))
    rng = random.Random(11)
    e = spark.createDataFrame(
        [(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(250)],
        "src string, dst string",
    )
    # a seed absent from the graph still dilutes the per-seed mass
    seeds = spark.createDataFrame([("n1",), ("n2",), ("absent",)], "node string")
    both_ways(
        caplog, "graph.personalized_pagerank",
        lambda **kw: personalized_pagerank(e, seeds, iters=3, **kw),
    )


def test_peel_and_cc_fixed_rounds(spark, caplog):
    # rounds below convergence pin the exact fixed-round recurrence
    kc = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (6, 7)], "src long, dst long"
    )
    for rounds in (1, 2, 3):
        both_ways(caplog, "graph.k_core", lambda **kw: k_core(kc, k=2, rounds=rounds, **kw))
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)] + [(101, 100), (102, 101)],
        "src long, dst long",
    )
    for rounds in (2, 4):
        both_ways(
            caplog, "graph.connected_components_fixed",
            lambda **kw: connected_components_fixed(chain, rounds=rounds, **kw),
        )


def test_median_mad_random(spark, caplog):
    rng = random.Random(3)
    rows = [
        (g, round(rng.uniform(-50, 50), 2))
        for g in ("x", "y", "z")
        for _ in range(rng.randrange(50, 400))
    ]
    rng = random.Random(99)
    rows += [(rng.choice(["a", "b"]), round(rng.gauss(50, 200), 2)) for _ in range(1200)]
    df = spark.createDataFrame(rows, "g string, v double")
    for k in (2.5, 3):
        both_ways(
            caplog, "quantiles.median_mad",
            lambda **kw: median_mad(df, ["g"], "v", report_k=k, **kw),
        )


def test_corr_random(spark, caplog):
    # negatives, constant column (NULL corr), ties, tiny groups
    rng = random.Random(5)
    rows = [
        ("g%d" % (i % 3), round(rng.uniform(-100, 100), 2),
         round(rng.uniform(0, 50000), 2), round(rng.uniform(-5, 5), 4), 7.25)
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "g string, a double, b double, c double, d double")
    for by in (None, ["g"]):
        both_ways(
            caplog, "correlation.corr",
            lambda **kw: corr_matrix(df, ["a", "b", "c", "d"], by=by, **kw),
        )
    for seed in range(4):
        rng = random.Random(100 + seed)
        scale = [1e-3, 1.0, 1e3, 4.3e9][seed]  # 4.3e9 ~ the 2^42 bound: falls back
        rows = [
            ("g%d" % (i % (seed + 1)), round(rng.uniform(-scale, scale), 3),
             round(rng.choice([0.0, 1.5, 2.5, scale / 7]), 3),
             round(rng.gauss(0, scale / 3), 3))
            for i in range(700)
        ]
        df = spark.createDataFrame(rows, "g string, a double, b double, c double")
        both_ways(
            caplog, "correlation.corr",
            lambda **kw: corr_matrix(df, ["a", "b", "c"], by=["g"], **kw),
            driver=seed < 3,
        )
    ranks = spark.createDataFrame(
        [(rng.randrange(5), rng.randrange(3), float(i % 7)) for i in range(300)],
        "a int, b int, c double",
    )
    both_ways(
        caplog, "correlation.rho",
        lambda **kw: spearman_matrix(ranks, ["a", "b", "c"], **kw),
    )


def test_outlier_stats_random(spark, caplog):
    # Percentile interpolation, NULL values and NULL group keys, gross
    # outliers, even/odd group sizes, MAD 0 (every deviation flags)
    rng = random.Random(13)
    rows = []
    for _ in range(3000):
        val = None if rng.random() < 0.05 else round(rng.gauss(100, 30), 3)
        if rng.random() < 0.01:
            val = round(rng.uniform(5000, 9000), 3)
        rows.append((rng.choice(["a", "b", "c", None]), val))
    rows.append(("allnull", None))
    frames = [(rows, 3.0)]
    for seed in range(4):
        rng = random.Random(40 + seed)
        frames.append((
            [
                ("g%d" % (i % (2 * seed + 1)),
                 rng.choice([5.0, 5.0, 5.0, 7.25]) if seed == 2
                 else round(rng.gauss(0, 10**seed), 4))
                for i in range(900)
            ],
            3.0,
        ))
    for rows, k in frames:
        df = spark.createDataFrame(rows, "g string, v double")
        both_ways(
            caplog, "audit.numeric_outlier_stats",
            lambda **kw: numeric_outlier_stats(df, "g", "v", k=k, **kw),
        )


def test_bpe_random(spark, caplog):
    # weighted pair counts, (cnt desc, a, b) ties, overlapping runs
    docs = [
        (1, "aaaa bb abab low low lower lowest"),
        (2, "newer newest wide wider widest aaaa"),
        (3, "ab ab ab ba ba cc ccc aaaa bb"),
    ]
    rng = random.Random(99)
    docs2 = [
        (i, " ".join(rng.choice(["aa", "aaa", "abab", "x,y", "zz zz"]) for _ in range(12)))
        for i in range(40)
    ]
    for rows, n in ((docs, 5), (docs2, 4)):
        df = spark.createDataFrame(rows, "doc_id int, text string")
        rows_fast, _ = both_ways(
            caplog, "bpe.bpe_train_merges",
            lambda **kw: bpe_train_merges(df, n_merges=n, **kw),
        )
        assert [r[0] for r in rows_fast] == list(range(n))
