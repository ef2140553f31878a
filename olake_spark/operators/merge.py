"""MERGE / upsert semantics as declarative DataFrame plans.

The reference's only join-like operator is the Iceberg equality-delete upsert
executed row-by-row in its Java writer (BaseDeltaTaskWriter.java:51-68):
DELETE op → equality-delete on key; CREATE → plain write; else →
equality-delete + write (evict prior version). Replayed logs are idempotent
because the newest version of a key always wins.

Spark-first re-expression: both "apply a changelog" and "merge a batch into a
target" are **one window aggregation over the key** — a single shuffle,
map-side combinable, skew-handled by AQE. On a real cluster with Iceberg
available, `merge_upsert` is replaced by `MERGE INTO` (see sinks.iceberg);
the DataFrame form here is the engine-native fallback and the semantics
oracle.

Scale notes (100 TB): `latest_state` shuffles the changelog once on the key —
partial aggregation applies because row_number needs only (key, order) —
and `merge_upsert` shuffles target ∪ batch once. For huge targets with small
batches prefer the Iceberg MERGE path (no target rewrite); for bounded-drain
replay the changelog is naturally chunked by LSN so each batch shuffle is
bounded by `maxBytesPerTrigger`-style sizing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olake_spark.functions.olake_columns import OP_DELETE, OP_TYPE

__all__ = ["latest_state", "merge_upsert", "apply_changelog"]

_SRC = "_merge_src"
_RN = "_merge_rn"


def not_deleted(op_col: str = OP_TYPE) -> Column:
    """True unless the row is an explicit tombstone. NULL op (a target or MOR
    base written without the op column, null-filled by unionByName/schema
    alignment) is NOT a delete — treating it as one silently erases every
    such row from the merged snapshot."""
    return F.coalesce(F.col(op_col) != OP_DELETE, F.lit(True))


def latest_state(
    changelog: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = OP_TYPE,
    keep_tombstones: bool = False,
) -> DataFrame:
    """Collapse a changelog to the newest version of every key.

    ``order_cols`` is the monotone change order (LSN / binlog pos / resume
    token position / (cursor, tiebreak)). Deletes evict the key unless
    ``keep_tombstones`` (needed when the result is itself merged downstream).
    """
    w = W.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    out = changelog.withColumn(_RN, F.row_number().over(w)).filter(F.col(_RN) == 1).drop(_RN)
    if not keep_tombstones:
        out = out.filter(not_deleted(op_col))
    return out


def merge_upsert(
    target: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = OP_TYPE,
) -> DataFrame:
    """MERGE a change batch into a target snapshot; returns the new snapshot.

    Semantics parity with the reference's upsert writer:
    - batch row with op ``d`` and matching key  → row removed
    - batch row with any other op              → replaces / inserts the key
    - multiple ops for one key within the batch → newest (by order_cols) wins
    - target rows never carry op ``d`` (deletes are applied, not stored)

    Implementation: ``latest_state`` over target ∪ batch with the source
    (batch beats target) as the leading order column. One shuffle;
    idempotent under replay of the same batch.
    """
    combined = target.withColumn(_SRC, F.lit(0)).unionByName(
        batch.withColumn(_SRC, F.lit(1)), allowMissingColumns=True
    )
    return latest_state(combined, key_cols, [_SRC, *order_cols], op_col).drop(_SRC)


def apply_changelog(
    target: DataFrame,
    batches: list[DataFrame],
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = OP_TYPE,
) -> DataFrame:
    """Sequentially merge LSN-ordered batches — the bounded-drain loop body.

    Invariant (tested): for a changelog split into any batch boundaries,
    ``apply_changelog(empty, batches)`` equals
    ``latest_state(concat(batches))`` — replay granularity never changes the
    final table.
    """
    cur = target
    for b in batches:
        cur = merge_upsert(cur, b, key_cols, order_cols, op_col)
    return cur
