"""Streaming ingestion rollup: delta-commit path == batch recompute,
resume picks up only new files, crash-replayed batch ids are idempotent,
fresh-checkpoint reuse of a state_dir fails loudly, compaction prunes.
The state lives in a ManagedTable; assertions read its manifest."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from olake_spark.operators import incremental_agg as ia
from olake_spark.sinks.table import ManagedTable
from olake_spark.streaming.rollup import (
    BATCH_PROP,
    PENDING_PROP,
    _fold_batch,
    read_rollup,
    stream_rollup,
)

SCHEMA = T.StructType(
    [
        T.StructField("g", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("uid", T.IntegerType()),
    ]
)


def _rows(lo, hi):
    return [(f"g{i % 3}", float(i) / 7.0, i % 40) for i in range(lo, hi)]


def _drop(spark, src, name, lo, hi):
    spark.createDataFrame(_rows(lo, hi), SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, name))


def _state_rows(state):
    return sorted(
        (r.g, r.n, r.sum_micros, r.min_micros, r.max_micros, list(r.hll_regs))
        for r in state.collect()
    )


def _newest_group_rows(spark, state):
    """Rows in the file group the rollup table's last commit added."""
    m = ManagedTable(spark, state)._manifest()
    files = m["groups"][-1]["files"] if "groups" in m else m["files"]
    return spark.read.parquet(*files).count()


def _case_rollup_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _drop(spark, src, "a", 0, 200)
    _drop(spark, src, "b", 200, 350)
    stream_rollup(
        spark, f"{src}/*", SCHEMA, ["g"], "value", "uid", state, ckpt,
        max_files_per_trigger=1,
    )
    # two batches, compact_every=16 -> both committed as deltas
    t = ManagedTable(spark, state)
    assert t.properties()[PENDING_PROP] == 2
    assert len(t._manifest()["groups"]) == 2
    got = read_rollup(spark, state)
    full = ia.agg_state(
        spark.createDataFrame(_rows(0, 350), SCHEMA), ["g"], "value", "uid"
    )
    assert _state_rows(got) == _state_rows(full)

    # resume: only the new file folds in (one more delta)
    _drop(spark, src, "c", 350, 500)
    stream_rollup(spark, f"{src}/*", SCHEMA, ["g"], "value", "uid", state, ckpt)
    got2 = read_rollup(spark, state)
    full2 = ia.agg_state(
        spark.createDataFrame(_rows(0, 500), SCHEMA), ["g"], "value", "uid"
    )
    assert _state_rows(got2) == _state_rows(full2)


def _case_rollup_compaction_prunes_and_matches(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for i, name in enumerate(["a", "b", "c"]):
        _drop(spark, src, name, i * 100, (i + 1) * 100)
    stream_rollup(
        spark, f"{src}/*", SCHEMA, ["g"], "value", "uid", state, ckpt,
        max_files_per_trigger=1, compact_every=2,
    )
    # batches 0(delta) 1(compact->snapshot) 2(delta); superseded versions
    # and their files are gone
    t = ManagedTable(spark, state)
    assert t.versions() == [1, 2]
    assert t.properties()[PENDING_PROP] == 1
    groups = t._manifest()["groups"]
    assert len(groups) == 2
    data = os.path.join(state, "data")
    on_disk = {os.path.join(data, d) for d in os.listdir(data)}
    assert on_disk == {os.path.dirname(g["files"][0]) for g in groups}
    full = ia.agg_state(
        spark.createDataFrame(_rows(0, 300), SCHEMA), ["g"], "value", "uid"
    )
    assert _state_rows(read_rollup(spark, state)) == _state_rows(full)


def test_stream_rollup_delta_write_cost_tracks_batch_keys(spark, tmp_path):
    """The delta commit writes one row per key the BATCH touched — not
    per key in the total state (the MOR point of the delta path)."""
    state = str(tmp_path / "state")
    os.makedirs(state)
    wide = spark.createDataFrame(
        [(f"k{i}", 1.0, i) for i in range(50)], SCHEMA
    )
    narrow = spark.createDataFrame([("k0", 2.0, 7), ("k1", 3.0, 8)], SCHEMA)
    _fold_batch(wide, 0, state, ["g"], "value", "uid", "ck", 16)
    assert _newest_group_rows(spark, state) == 50
    _fold_batch(narrow, 1, state, ["g"], "value", "uid", "ck", 16)
    assert _newest_group_rows(spark, state) == 2
    merged = read_rollup(spark, state)
    full = ia.agg_state(wide.unionByName(narrow), ["g"], "value", "uid")
    assert _state_rows(merged) == _state_rows(full)


def test_stream_rollup_replayed_batch_is_skipped(spark, tmp_path):
    """Crash AFTER the state commit but BEFORE the checkpoint advanced:
    the engine re-delivers the same batch_id under the SAME checkpoint
    identity -> must be a no-op."""
    state = str(tmp_path / "state")
    os.makedirs(state)
    b0 = spark.createDataFrame(_rows(0, 100), SCHEMA)
    _fold_batch(b0, 0, state, ["g"], "value", "uid", "ck", 16)
    before = _state_rows(read_rollup(spark, state))
    t = ManagedTable(spark, state)
    applied = t.properties()[BATCH_PROP]

    _fold_batch(b0, 0, state, ["g"], "value", "uid", "ck", 16)  # replay
    assert t.versions() == [0]
    assert t.properties()[BATCH_PROP] == applied
    assert _state_rows(read_rollup(spark, state)) == before


def test_stream_rollup_fresh_checkpoint_fails_loudly(spark, tmp_path):
    """A different checkpoint's batch ids restart at 0 — folding them
    into an existing state_dir must raise, not silently skip."""
    state = str(tmp_path / "state")
    os.makedirs(state)
    b0 = spark.createDataFrame(_rows(0, 100), SCHEMA)
    _fold_batch(b0, 0, state, ["g"], "value", "uid", "ck-a", 16)
    with pytest.raises(ValueError, match="checkpoint"):
        _fold_batch(b0, 0, state, ["g"], "value", "uid", "ck-b", 16)
