"""Sync orchestrator — the engine's ``sync`` verb.

Mirrors the reference lifecycle (protocol/sync.go:30-155, SURVEY.md §3.2):
classify selected streams by sync mode, full-refresh streams clear state +
destination first, then read → filter → project → normalize → stamp engine
columns → land in the destination table; incremental streams capture
MAX(cursor) up front, backfill below the threshold, then MERGE rows above the
saved cursor and advance it; state commits after the table does, with the 2PC
reconcile rule on startup.

This module drives *file* sources end-to-end (testable here). JDBC sources
plug into the same flow through ``sources.jdbc.JdbcSource`` — the per-stream
body only needs a DataFrame.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olake_spark.functions.olake_columns import OP_BACKFILL, OP_UPDATE, stamp_olake_columns
from olake_spark.functions.projection import apply_projection
from olake_spark.plans.state import SyncState, cursor_to_json
from olake_spark.plans.stream import Catalog, ConfiguredStream, SyncMode
from olake_spark.sinks.table import ManagedTable
from olake_spark.sources.files import flatten_complex, normalize_ns_timestamps, spread
from olake_spark.typesys.naming import reformat_all

__all__ = [
    "SyncResult",
    "sync_stream",
    "run_sync",
    "clear_streams",
    "verify_stream",
]

CURSOR_PROP = "olake.sync.cursor"


@dataclass
class SyncResult:
    stream: str
    mode: str
    rows: int
    cursor: object | None = None
    skipped: bool = False
    details: dict = field(default_factory=dict)


def _dest_table(spark: SparkSession, dest_dir: str, cs: ConfiguredStream) -> ManagedTable:
    """Destination resolution: an explicit catalog destination wins — its
    database maps to a directory level per ``:``-separated segment (the
    reference's ``prefix:namespace`` scheme) and the table names the leaf.
    Without one, the legacy flat ``namespace__name`` layout applies."""
    db, tbl = cs.stream.destination_database, cs.stream.destination_table
    if db or tbl:
        from olake_spark.typesys.naming import reformat_column_name

        parts = [p for p in db.split(":") if p] if db else []
        leaf = tbl or reformat_column_name(cs.stream.name)
        return ManagedTable(spark, os.path.join(dest_dir, *parts, leaf))
    name = f"{cs.stream.namespace + '__' if cs.stream.namespace else ''}{cs.stream.name}"
    return ManagedTable(spark, os.path.join(dest_dir, name))


def _prepare(df: DataFrame, cs: ConfiguredStream, op_type: str) -> DataFrame:
    """filter → projection → normalization → naming → engine columns."""
    meta = cs.metadata
    f = meta.stream_filter()
    if f.conditions:
        df = df.filter(f.to_column())
    df = apply_projection(df, meta.selected_columns, meta.sync_new_columns)
    pk = cs.stream.source_defined_primary_key
    if meta.normalization:
        df = flatten_complex(df)
    else:
        # raw mode: one JSON `data` column + engine columns (F3 shape,
        # destination/iceberg/iceberg.go:389-417)
        keep = df
        df = keep.select(F.to_json(F.struct(*[F.col(c) for c in keep.columns])).alias("data"))
        if pk:
            for c in pk:
                df = df.withColumn(c, keep[c])
    renames = reformat_all(df.columns, meta.use_source_column_names)
    df = df.toDF(*[renames[c] for c in df.columns])
    pk_renamed = [renames.get(c, c) for c in pk if renames.get(c, c) in df.columns]
    df = stamp_olake_columns(df, pk_renamed, op_type=op_type)
    if not meta.normalization and pk_renamed:
        df = df.drop(*pk_renamed)  # pk only fed _olake_id in raw mode
    return df


def sync_stream(
    spark: SparkSession,
    cs: ConfiguredStream,
    df: DataFrame,
    dest_dir: str,
    state: SyncState,
) -> SyncResult:
    mode = cs.stream.sync_mode
    table = _dest_table(spark, dest_dir, cs)
    name = cs.stream.name

    from pyspark.sql import Observation

    if mode == SyncMode.FULL_REFRESH.value or not cs.stream.available_cursor_fields:
        out = _prepare(spread(df, df.columns[0]), cs, OP_BACKFILL)
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
        table.drop()
        table.overwrite(out)
        # the count rode the write job — no post-write table scan
        return SyncResult(name, mode, int(obs.get["n"]))

    # incremental: cursor column = first available cursor field
    cursor_col = cs.stream.available_cursor_fields[0]
    # 2PC reconcile: a committed cursor in the table wins over local state
    committed = table.properties().get(CURSOR_PROP)
    state.reconcile(name, cursor_col, committed)
    last = state.get_cursor(name, cursor_col)

    inc = df if last is None else df.filter(F.col(cursor_col) > F.lit(last))
    # MAX(cursor) and the written-row count ride the write job itself via
    # Observations (same pattern as streaming/replay._apply_batch) — one pass
    # over the input instead of a pre-write max-scan plus a post-write
    # table-wide count, either of which is a full extra scan at 100 TB.
    cursor_obs = Observation()
    inc = inc.observe(cursor_obs, F.max(F.col(cursor_col)).alias("mx"))
    out = _prepare(inc, cs, OP_BACKFILL if last is None else OP_UPDATE)
    row_obs = Observation()
    out = out.observe(row_obs, F.count(F.lit(1)).alias("n"))
    got: dict = {}

    def props_fn() -> dict | None:
        mx = cursor_obs.get["mx"]  # blocks until the write action completes
        if mx is None:
            return None  # nothing above the cursor — abort the commit
        got["mx"] = cursor_to_json(mx)
        return {CURSOR_PROP: got["mx"]}

    if table.exists() and last is not None:
        table.upsert(out, ["_olake_id"], ["_olake_timestamp"], properties_fn=props_fn)
    else:
        table.overwrite(out, properties_fn=props_fn)
    if "mx" not in got:
        return SyncResult(name, mode, 0, cursor=last, skipped=True)
    new_cursor = got["mx"]
    state.set_cursor(name, cursor_col, new_cursor)
    return SyncResult(name, mode, int(row_obs.get["n"]), cursor=new_cursor)


def verify_stream(
    spark: SparkSession,
    cs: ConfiguredStream,
    df: DataFrame,
    dest_dir: str,
    chunk_size: int = 16_384,
    max_diff_rows: int = 1_000,
) -> dict:
    """Post-sync source↔destination reconciliation (the ``--verify``
    step; r6 verdict #5). The reference only reports RPS stats
    (utils/logger/stats.go:27-90) — this makes "destination == source"
    first-class: map-side row fingerprints on the columns both sides
    share (volatile engine columns excluded — ``_olake_timestamp`` is
    ingest wall-clock, ``_op_type`` differs backfill vs update), then

    1. with a single NUMERIC source PK: per-chunk bit_xor checksums on
       closed-form ``floor(pk/chunk_size)`` ranges (operators/
       reconcile.chunk_checksums) — the shuffle carries |chunks| rows,
       and only MISMATCHED chunk ranges are drilled to row level, so a
       clean 100 TB verify never shuffles a wide row;
    2. otherwise: direct thin (pk, fingerprint) full-outer diff
       (operators/reconcile.table_diff).

    Returns {"stream", "status": "ok"|"mismatch", "chunks_total",
    "chunks_mismatched": [{chunk_id, pk_lo, pk_hi, src_rows, dst_rows}],
    "row_diff": [{pk…, status}] (capped at ``max_diff_rows``)}."""
    from olake_spark.operators.reconcile import chunk_checksums, table_diff

    table = _dest_table(spark, dest_dir, cs)
    if not table.exists():
        return {"stream": cs.stream.name, "status": "missing_table"}
    dst = table.read()
    src = _prepare(spread(df, df.columns[0]), cs, OP_BACKFILL)

    volatile = {"_olake_timestamp", "_op_type", "_cdc_timestamp"}
    cmp_cols = [
        c for c in src.columns if c in set(dst.columns) and c not in volatile
    ]
    src_c, dst_c = src.select(*cmp_cols), dst.select(*cmp_cols)

    renames = reformat_all(df.columns, cs.metadata.use_source_column_names)
    pk = [
        renames.get(c, c)
        for c in cs.stream.source_defined_primary_key
        if renames.get(c, c) in cmp_cols
    ]
    integral = {"tinyint", "smallint", "int", "bigint"}
    numeric_pk = (
        len(pk) == 1 and dst_c.schema[pk[0]].dataType.simpleString() in integral
    )
    report: dict = {"stream": cs.stream.name, "chunk_size": chunk_size}

    if numeric_pk:
        key = pk[0]
        data_cols = [c for c in cmp_cols if c != key]
        sc = chunk_checksums(src_c, key, chunk_size, cols=data_cols)
        dc = chunk_checksums(dst_c, key, chunk_size, cols=data_cols)
        j = sc.alias("s").join(dc.alias("d"), "chunk_id", "full_outer").select(
            "chunk_id",
            F.col("s.n_rows").alias("src_rows"),
            F.col("d.n_rows").alias("dst_rows"),
            F.col("s.checksum").alias("src_sum"),
            F.col("d.checksum").alias("dst_sum"),
        )
        bad = j.filter(
            ~(
                F.col("src_rows").eqNullSafe(F.col("dst_rows"))
                & F.col("src_sum").eqNullSafe(F.col("dst_sum"))
            )
        ).collect()
        report["chunks_total"] = j.count()
        report["chunks_mismatched"] = [
            {
                "chunk_id": r.chunk_id,
                "pk_lo": r.chunk_id * chunk_size,
                "pk_hi": (r.chunk_id + 1) * chunk_size - 1,
                "src_rows": r.src_rows,
                "dst_rows": r.dst_rows,
            }
            for r in sorted(bad, key=lambda r: r.chunk_id)
        ]
        if bad:
            # drill ONLY the mismatched ranges to row level
            cond = None
            for r in bad:
                c = F.floor(F.col(key) / F.lit(chunk_size)) == F.lit(r.chunk_id)
                cond = c if cond is None else cond | c
            diff = table_diff(
                src_c.filter(cond), dst_c.filter(cond), [key], data_cols
            )
            report["row_diff"] = [
                row.asDict() for row in diff.limit(max_diff_rows).collect()
            ]
        else:
            report["row_diff"] = []
    else:
        key = pk or ["_olake_id"]
        data_cols = [c for c in cmp_cols if c not in key]
        diff = table_diff(src_c, dst_c, key, data_cols)
        report["row_diff"] = [
            row.asDict() for row in diff.limit(max_diff_rows).collect()
        ]
    report["status"] = (
        "mismatch"
        if (report.get("chunks_mismatched") or report["row_diff"])
        else "ok"
    )
    return report


def run_sync(
    spark: SparkSession,
    catalog: Catalog,
    source_dir: str,
    dest_dir: str,
    state_path: str,
    fmt: str = "parquet",
    verify: bool = False,
) -> list[SyncResult]:
    state = SyncState.load(state_path)
    results: list[SyncResult] = []
    selected = {
        (m.namespace, m.stream_name)
        for metas in catalog.selected_streams.values()
        for m in metas
    } or None
    for cs in catalog.streams:
        if selected is not None and (cs.stream.namespace, cs.stream.name) not in selected:
            continue
        path = os.path.join(source_dir, f"{cs.stream.name}.{fmt}")
        if not os.path.exists(path):
            path = os.path.join(source_dir, cs.stream.name)
        df = spark.read.option("recursiveFileLookup", "true").format(fmt).load(path)
        df = normalize_ns_timestamps(
            df, [f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"
                 and f.name in ("ts",)]
        )
        res = sync_stream(spark, cs, df, dest_dir, state)
        state.save(state_path)  # per-stream checkpoint (resumable)
        if verify:
            res.details["verify"] = verify_stream(spark, cs, df, dest_dir)
        results.append(res)
    return results


def clear_streams(
    spark: SparkSession, catalog: Catalog, dest_dir: str, state_path: str, names: list[str]
) -> list[str]:
    """The ``clear`` verb: drop destination tables + reset stream state."""
    state = SyncState.load(state_path)
    cleared = []
    for cs in catalog.streams:
        if cs.stream.name in names:
            _dest_table(spark, dest_dir, cs).drop()
            state.streams.pop(cs.stream.name, None)
            cleared.append(cs.stream.name)
    state.save(state_path)
    return cleared
