"""materialize(): one helper, three deployment profiles, same results."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olake_spark.materialize import materialize


def _probe(spark):
    return (
        spark.range(1000)
        .withColumn("g", F.col("id") % 7)
        .groupBy("g")
        .agg(F.sum("id").alias("s"))
    )


def _rows(df):
    return {(r.g, r.s) for r in df.collect()}


def test_local_profile_truncates_lineage_same_rows(spark, monkeypatch):
    monkeypatch.delenv("OLAKE_MATERIALIZE", raising=False)
    base = _probe(spark)
    mat = materialize(base)
    assert _rows(mat) == _rows(base)
    # lineage truncated: the materialized plan reads an RDD scan, and a
    # second consumer shares it (one plan, not a re-derivation)
    assert "ExistingRDD" in mat._jdf.queryExecution().executedPlan().toString()


def test_persist_profile_same_rows_and_storage(spark, monkeypatch):
    monkeypatch.setenv("OLAKE_MATERIALIZE", "persist")
    base = _probe(spark)
    mat = materialize(base)
    try:
        assert _rows(mat) == _rows(base)
        assert mat.storageLevel.useDisk and mat.storageLevel.useMemory
    finally:
        mat.unpersist()


def test_reliable_profile_checkpoints_to_dir(spark, monkeypatch, tmp_path):
    monkeypatch.setenv("OLAKE_MATERIALIZE", "reliable")
    monkeypatch.setenv("OLAKE_CHECKPOINT_DIR", str(tmp_path / "ck"))
    base = _probe(spark)
    mat = materialize(base, eager=True)
    assert _rows(mat) == _rows(base)
    # a reliable checkpoint actually landed in the configured dir
    assert any((tmp_path / "ck").rglob("*"))


def test_reliable_profile_without_dir_raises(spark, monkeypatch):
    if not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        pytest.skip("session already has a checkpoint dir")
    monkeypatch.setenv("OLAKE_MATERIALIZE", "reliable")
    monkeypatch.delenv("OLAKE_CHECKPOINT_DIR", raising=False)
    with pytest.raises(ValueError, match="OLAKE_CHECKPOINT_DIR"):
        materialize(_probe(spark))


def test_unknown_profile_raises(spark, monkeypatch):
    monkeypatch.setenv("OLAKE_MATERIALIZE", "sometimes")
    with pytest.raises(ValueError, match="OLAKE_MATERIALIZE"):
        materialize(_probe(spark))


@pytest.mark.parametrize("profile", ["local", "reliable", "persist"])
def test_range_partition_call_sites_pin_under_every_profile(
    spark, monkeypatch, tmp_path, profile
):
    """dense_ids and length_buckets read ONE repartitionByRange sampling
    from two consumers, so both request the pin (eager=True), and every
    profile honours it with a checkpoint: a persist whose evicted blocks
    recompute would re-sample the range boundaries."""
    from pyspark.sql import Window as W

    from olake_spark.operators import ids, packing

    monkeypatch.setenv("OLAKE_MATERIALIZE", profile)
    monkeypatch.setenv("OLAKE_CHECKPOINT_DIR", str(tmp_path / "ck"))
    pins = []

    def spy(df, eager=False):
        out = materialize(df, eager=eager)
        plan = out._jdf.queryExecution().executedPlan().toString()
        pins.append((eager, out.storageLevel.useMemory, "ExistingRDD" in plan))
        return out

    monkeypatch.setattr(ids, "materialize", spy)
    monkeypatch.setattr(packing, "materialize", spy)
    df = spark.createDataFrame(
        [(i, (i * 37) % 19 + 1) for i in range(103)], "doc_id long, n long"
    ).repartition(5)
    rids = ids.dense_ids(df, ["n", "doc_id"], id_col="rid", num_partitions=4)
    order = W.orderBy("n", "doc_id")
    want = {r.doc_id: r.rid for r in df.withColumn("rid", F.row_number().over(order)).collect()}
    assert {r.doc_id: r.rid for r in rids.collect()} == want
    got = packing.length_buckets(df, "doc_id", "n", 8)
    want = {r.doc_id: r.b for r in df.withColumn("b", F.ntile(8).over(order)).collect()}
    assert {r.doc_id: r.bucket for r in got.collect()} == want
    # (eager requested, persisted, lineage cut) for each call site
    assert pins == [(True, False, True), (True, False, True)]
