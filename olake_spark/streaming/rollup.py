"""Streaming ingestion rollup — foreachBatch DELTA-commit of mergeable
aggregate state into a persisted rollup table (Druid-style ingestion
rollup on Structured Streaming, with a delta/compact cycle).

Each micro-batch builds its own tiny per-key state
(operators/incremental_agg.py: count / exact micro-unit sum / min / max /
HLL registers) and appends ONLY that partial state to a ``ManagedTable``
(sinks/table.py) as a new file group — per-batch write cost is
proportional to the keys the BATCH touched, not to the total key
cardinality. Readers resolve the table's groups through
``agg_state_merge`` (the states are associative/commutative, so merge
order is irrelevant); every ``compact_every`` deltas the fold overwrites
the table with one merged snapshot and expires every older version, which
deletes the superseded files — the read-amp bound the compaction-curve
evidence in SCALE_EVIDENCE.json justifies.

Exactly-once: the checkpoint makes batch delivery at-least-once with a
stable ``batch_id`` on replay; each commit records the latest applied
batch_id as a table property in the same atomic manifest as the state,
and replays are skipped (idempotent merge), so a crash between the state
commit and the checkpoint advance cannot double-count. The properties
also record the CHECKPOINT IDENTITY (the streaming query id persisted in
the checkpoint's metadata file): pointing a fresh checkpoint (whose batch
ids restart at 0) at an existing state_dir is a loud error, never a
silent skip-every-batch data loss.

Commits follow the table's rule: a write commits on the version it read
or raises ``CommitConflict``; a crash before the manifest link leaves only
orphan files, which ``ManagedTable.vacuum_orphans`` removes.

At 100 TB: per-batch delta is |batch keys| rows regardless of batch
volume; compaction merges ``compact_every`` |keys|-row frames, amortized
O(|keys|/compact_every) per batch. The expensive aggregation happens
once per event, map-side-combinable, inside the micro-batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from olake_spark.operators import incremental_agg as ia
from olake_spark.sinks.table import ManagedTable

__all__ = ["stream_rollup", "read_rollup"]

BATCH_PROP = "olake.rollup.batch_id"
CKPT_PROP = "olake.rollup.ckpt_id"
KEYS_PROP = "olake.rollup.keys"
PENDING_PROP = "olake.rollup.pending_deltas"


def _ckpt_identity(checkpoint_dir: str) -> str:
    """Stable identity of a checkpoint: the streaming query id Spark
    persists in ``<ckpt>/metadata`` (survives restarts of the same
    checkpoint; a fresh checkpoint gets a fresh id). Falls back to the
    absolute path before the metadata file exists."""
    meta = os.path.join(checkpoint_dir, "metadata")
    try:
        with open(meta) as fh:
            return json.load(fh)["id"]
    except (OSError, KeyError, ValueError):
        return os.path.abspath(checkpoint_dir)


def read_rollup(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The current committed rollup state: every file group of the rollup
    table resolved through ``agg_state_merge`` (None before the first
    commit)."""
    table = ManagedTable(spark, state_dir)
    props = table.properties()
    if not props:
        return None
    return ia.agg_state_merge(table.read(), props[KEYS_PROP])


def _fold_batch(
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    keys: list[str],
    value_col: str,
    distinct_col: str,
    ckpt_id: str,
    compact_every: int,
) -> None:
    """Commit one micro-batch's partial state (delta append, or compaction
    every ``compact_every`` deltas). Module-level so crash-replay and
    checkpoint-mismatch semantics are directly testable."""
    table = ManagedTable(batch.sparkSession, state_dir)
    props = table.properties()
    if props and props[CKPT_PROP] != ckpt_id:
        raise ValueError(
            f"stream_rollup: state_dir {state_dir!r} was written by checkpoint "
            f"{props[CKPT_PROP]!r} but this stream runs from {ckpt_id!r} — "
            "batch ids are incomparable across checkpoints; refusing to "
            "silently skip batches. Use the original checkpoint or a fresh "
            "state_dir."
        )
    if batch_id <= props.get(BATCH_PROP, -1):
        return  # replay after crash-before-checkpoint: already applied
    delta = ia.agg_state(batch, keys, value_col, distinct_col)
    pending = props.get(PENDING_PROP, 0) + 1
    commit = {BATCH_PROP: batch_id, CKPT_PROP: ckpt_id, KEYS_PROP: list(keys)}
    if pending < compact_every:
        table.append(delta, {**commit, PENDING_PROP: pending})
        return
    # compact: fold the state and this batch into one snapshot, then retire
    # every older version and the files only they referenced
    state = table.read().unionByName(delta) if props else delta
    table.overwrite(ia.agg_state_merge(state, keys), {**commit, PENDING_PROP: 0})
    table.expire_snapshots(keep_last=1)


def stream_rollup(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    keys: list[str],
    value_col: str,
    distinct_col: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    compact_every: int = 16,
):
    """Drain ``source_dir`` parquet drops once (availableNow), committing
    each micro-batch's partial state as a delta and compacting every
    ``compact_every`` commits. Pass a GLOB (``.../drops/*``) when drops
    land as subdirectories — the file stream source does not recurse on
    its own. Re-running with the same checkpoint picks up only new files;
    replayed batches are skipped by batch_id (idempotent); a DIFFERENT
    checkpoint against the same state_dir fails loudly. Returns the
    finished StreamingQuery."""

    def fold(batch: DataFrame, batch_id: int):
        _fold_batch(
            batch,
            batch_id,
            state_dir,
            keys,
            value_col,
            distinct_col,
            _ckpt_identity(checkpoint_dir),
            compact_every,
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    query = (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
