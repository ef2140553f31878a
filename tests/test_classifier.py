"""Hashed bag-of-words linear classifier."""

from __future__ import annotations

import math

import pytest

from olake_spark.operators.classifier import (
    WEIGHT_SCALE,
    classify_quality,
    default_weights,
    hashed_bow_logits,
)


def test_default_weights_deterministic():
    assert default_weights(16) == default_weights(16)
    assert default_weights(16, seed=8) != default_weights(16)
    assert all(-WEIGHT_SCALE <= w <= WEIGHT_SCALE for w in default_weights(64))


def test_logit_is_exact_integer_sum(spark):
    # 1 bucket -> every token hits weight[0]; logit = n_tokens * w + bias
    df = spark.createDataFrame([(1, "a b c"), (2, ""), (3, "x")], ["doc_id", "text"])
    out = {r.doc_id: r for r in hashed_bow_logits(df, "doc_id", "text", [250], bias=7).collect()}
    assert out[1].logit_micro == 3 * 250 + 7 and out[1].n_tokens == 3
    assert out[2].logit_micro == 7 and out[2].n_tokens == 0  # empty doc scores bias
    assert out[3].logit_micro == 250 + 7


def test_logit_partitioning_invariant(spark):
    rows = [(i, f"tok{i} tok{i+1} shared words here") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    w = default_weights(32)
    a = {r.doc_id: r.logit_micro for r in hashed_bow_logits(df, "doc_id", "text", w).collect()}
    b = {
        r.doc_id: r.logit_micro
        for r in hashed_bow_logits(df.repartition(13), "doc_id", "text", w).collect()
    }
    assert a == b


def test_classify_sigmoid_and_threshold(spark):
    df = spark.createDataFrame([(1, "a a a"), (2, "")], ["doc_id", "text"])
    out = {r.doc_id: r for r in classify_quality(df, "doc_id", "text", [500_000]).collect()}
    z = 3 * 0.5
    assert out[1].score == round(1 / (1 + math.exp(-z)), 6)
    assert out[1].keep is True
    assert out[2].score == 0.5 and out[2].keep is True  # logit 0 sits on the boundary


def test_empty_weights_rejected(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        hashed_bow_logits(df, "doc_id", "text", [])


def test_broadcast_weight_path_at_65k_buckets(spark, no_codegen_fallback):
    """B=65,536 takes the broadcast-join path (an F.array literal that size
    is ~65k expression nodes — Janino/constant-pool blowup); with codegen
    fallback disabled this throws if the stage ever regresses out of
    codegen, and the result must equal the array-literal path's on a
    weight vector both paths can run."""
    from olake_spark.operators.classifier import ARRAY_LITERAL_MAX

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} shared words here") for i in range(20)],
        ["doc_id", "text"],
    )
    big = default_weights(65_536)
    out = {r.doc_id: r for r in classify_quality(df, "doc_id", "text", big).collect()}
    assert len(out) == 20 and all(r.n_tokens == 5 for r in out.values())

    # differential: same weights through both paths must agree bit-for-bit.
    # ARRAY_LITERAL_MAX-sized vector runs as a literal; replicating it to
    # 2×ARRAY_LITERAL_MAX with w[i % B] preserved forces the join path while
    # keeping hash(token) % B bucket→weight assignments identical.
    small = default_weights(ARRAY_LITERAL_MAX)
    doubled = small + small  # w[i] == w[i + B] → same weight per token
    a = {r.doc_id: r.logit_micro
         for r in hashed_bow_logits(df, "doc_id", "text", small).collect()}
    b = {r.doc_id: r.logit_micro
         for r in hashed_bow_logits(df, "doc_id", "text", doubled).collect()}
    assert a == b
