"""Round-7 operators: bigram LM scoring, multi-touch attribution, k-core."""

from __future__ import annotations

from pyspark.sql import functions as F

from olake_spark.operators.attribution import multi_touch_attribution
from olake_spark.operators.graph import k_core
from olake_spark.operators.lm import bigram_counts, lm_coverage_score


def test_bigram_lm_counts_and_coverage(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the cat ran"),
            (3, "a dog ran"),
            (4, "zebra"),  # single token: no bigram, excluded from scores
        ],
        "doc_id long, text string",
    )
    lm = {(r.w1, r.w2): r.cnt for r in bigram_counts(docs).collect()}
    assert lm[("the", "cat")] == 2
    assert lm[("cat", "sat")] == 1
    assert ("zebra", None) not in lm

    scores = {
        r.doc_id: r
        for r in lm_coverage_score(docs, bigram_counts(docs), min_count=2).collect()
    }
    assert set(scores) == {1, 2, 3}  # doc 4 has no bigram
    # doc 1 bigrams: (the,cat) cnt2 known, (cat,sat) cnt1 unknown
    assert scores[1].n_bigrams == 2 and scores[1].n_known == 1
    assert scores[1].coverage == 0.5
    assert scores[1].avg_bigram_cnt == 1.5
    # doc 3: (a,dog) 1, (dog,ran) 1 — nothing known at min_count=2
    assert scores[3].n_known == 0 and scores[3].coverage == 0.0


def test_attribution_first_last_linear(spark):
    # user 1: view, click, purchase  -> first=view last=click, linear 1/2 each
    # user 2: click, purchase        -> first=last=click, linear 1 to click
    # user 3: purchase (no touch)    -> unattributed, excluded
    rows = [
        (1, 10, 1, "view"),
        (1, 20, 2, "click"),
        (1, 30, 3, "purchase"),
        (2, 10, 4, "click"),
        (2, 20, 5, "purchase"),
        (3, 10, 6, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "u long, t long, eid long, ch string")
    out = {
        r.channel: r
        for r in multi_touch_attribution(
            ev, "u", "t", "ch",
            channels=["view", "click"], conversion="purchase",
            tiebreak_col="eid",
        ).collect()
    }
    assert out["view"].first_touch == 1 and out["view"].last_touch == 0
    assert out["click"].first_touch == 1 and out["click"].last_touch == 2
    assert out["view"].linear_micro == 500_000
    assert out["click"].linear_micro == 500_000 + 1_000_000


def test_kcore_peels_tail_into_core(spark):
    # triangle a-b-c (2-core) + pendant chain c-d-e: peeling at k=2 removes
    # e (deg 1), then d (deg 1 after e) — cascade needs 2 rounds
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    one = {r.node for r in k_core(edges, k=2, rounds=1).collect()}
    assert one == {"a", "b", "c", "d"}  # e gone, d survives round 1
    core = {r.node: r.degree for r in k_core(edges, k=2, rounds=2).collect()}
    assert set(core) == {"a", "b", "c"}
    # degrees are measured over the round-1 survivors ({a,b,c,d}), per the
    # documented fixed-round contract — so c still counts its edge to d
    assert core == {"a": 2, "b": 2, "c": 3}
    # self-loops and duplicate edges don't inflate degrees
    noisy = edges.unionByName(
        spark.createDataFrame(
            [("a", "a"), ("b", "a")], "src string, dst string"
        )
    )
    core2 = {r.node: r.degree for r in k_core(noisy, k=2, rounds=2).collect()}
    assert core2 == core


def test_k_core_rejects_bad_rounds(spark):
    import pytest

    edges = spark.createDataFrame([(1, 2)], "src int, dst int")
    for bad in (0, -1, 2.0, True):
        with pytest.raises(ValueError, match="rounds"):
            k_core(edges, k=2, rounds=bad)
