"""Registry entries for the ingestion dataflow: full-refresh scans, filters,
chunk planners, cursors, CDC decoders and replay, merge/SCD, sinks and
source-format readers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olake_spark.functions.olake_columns import olake_id_column
from olake_spark.operators import sketches as sk
from olake_spark.operators.merge import apply_changelog
from olake_spark.plans.chunks import split_numeric_range
from olake_spark.plans.filters import FilterCondition, StreamFilter, parse_legacy_filter
from olake_spark.queries.core import ORACLES, register, table
from olake_spark.queries.fragments import SCD2_INTERVALS_CTE, _SK_H


# ---------------------------------------------------------------------------
# Full-refresh dataflow (SURVEY §2.2-§2.4): scan → olake columns → sink shape
# ---------------------------------------------------------------------------

# lineitem has a composite PK (l_orderkey, l_linenumber) → _olake_id is
# md5 over values ordered by sorted column name (utils/utils.go:265-286).
_FULL_LOAD_ORACLE = """
SELECT
  l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
  l_discount, l_tax, l_returnflag, l_linestatus,
  strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate_day,
  md5(concat_ws('|', l_linenumber::VARCHAR, l_orderkey::VARCHAR)) AS _olake_id,
  'r' AS _op_type
FROM lineitem
"""


@register("full_load_lineitem", _FULL_LOAD_ORACLE)
def full_load_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill read of lineitem with engine identity/op columns stamped.

    The deterministic slice of `stamp_olake_columns` (wall-clock columns are
    checked by the smoke entry, not the oracle).
    """
    df = table(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("l_shipdate_day"),
        olake_id_column(["l_orderkey", "l_linenumber"]).alias("_olake_id"),
        F.lit("r").alias("_op_type"),
    )


@register(
    "projection_selected_columns",
    """
    SELECT c_custkey, c_name, c_acctbal, c_custkey::VARCHAR AS _olake_id
    FROM customer
    """,
)
def projection_selected_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`selected_columns` allowlist projection + single-PK identity
    (reference: types/stream_configured.go:52-159 — Catalyst prunes the
    parquet scan down to exactly these columns)."""
    df = table(spark, sf_dir, "customer")
    keep = ["c_custkey", "c_name", "c_acctbal"]
    return df.select(*keep).withColumn("_olake_id", olake_id_column(["c_custkey"]))


@register(
    "filter_structured_and",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
    """,
)
def filter_structured_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured 2-condition AND filter pushed into the scan
    (reference evaluates post-read: utils/typeutils/filter.go — we push)."""
    f = StreamFilter(
        (
            FilterCondition("o_totalprice", ">", 150000.0),
            FilterCondition("o_orderstatus", "=", "O"),
        ),
        "and",
    )
    return (
        table(spark, sf_dir, "orders")
        .filter(f.to_column())
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "filter_legacy_string",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type = 'click' OR value >= 400.0
    """,
)
def filter_legacy_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy string-grammar filter parsed then pushed
    (types/stream_configured.go:209-266)."""
    f = parse_legacy_filter("event_type = 'click' or value >= 400.0")
    return (
        table(spark, sf_dir, "events")
        .filter(f.to_column())
        .select("event_id", "user_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Incremental sync (SURVEY §2.5): cursor predicates + max-cursor fetch
# ---------------------------------------------------------------------------

_CURSOR = "2024-01-15 00:00:00"


@register(
    "incremental_cursor_scan",
    f"""
    SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
    FROM events
    WHERE ts > TIMESTAMP '{_CURSOR}'
       OR (ts IS NULL AND event_id > 5000)
    """,
)
def incremental_cursor_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor-predicate scan with secondary-cursor null fallback
    (pkg/jdbc/jdbc.go:1401-1451): primary > v OR (primary IS NULL AND
    secondary > v2)."""
    df = table(spark, sf_dir, "events")
    pred = (F.col("ts") > F.lit(_CURSOR).cast("timestamp")) | (
        F.col("ts").isNull() & (F.col("event_id") > 5000)
    )
    return df.filter(pred).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
    )


@register(
    "incremental_max_cursor",
    """
    SELECT epoch_ms(max(ts)) AS max_cursor_ms, count(*) AS n_rows
    FROM events
    """,
)
def incremental_max_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planning-time MAX(cursor) fetch (pkg/jdbc/jdbc.go:1453-1489) — the
    threshold captured before backfill so overlap rows dedup."""
    return table(spark, sf_dir, "events").agg(
        F.unix_millis(F.max("ts")).alias("max_cursor_ms"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Chunk planning (SURVEY §2.3): arithmetic split parity
# ---------------------------------------------------------------------------


@register(
    "chunk_plan_numeric",
    """
    WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders),
    sized AS (
      SELECT o_orderkey,
             CAST(floor((o_orderkey - b.lo) / ceil((b.hi - b.lo + 1) / 8.0)) AS BIGINT) AS chunk_id
      FROM orders, b
    )
    SELECT chunk_id, count(*) AS n_rows,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM sized GROUP BY chunk_id
    """,
)
def chunk_plan_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-PK arithmetic split: plan 8 chunks driver-side from MIN/MAX
    (exactly what feeds ``spark.read.jdbc(predicates=...)``), then verify the
    assignment covers every row exactly once by aggregating per chunk."""
    df = table(spark, sf_dir, "orders")
    lo, hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    chunks = split_numeric_range(int(lo), int(hi), 8)
    # build chunk_id CASE from the planned half-open ranges
    expr = F.lit(None).cast("long")
    for i in reversed(range(len(chunks))):
        ch = chunks[i]
        cond = F.col("o_orderkey") >= F.lit(ch.min)
        if ch.max is not None:
            cond = cond & (F.col("o_orderkey") < F.lit(ch.max))
        expr = F.when(cond, F.lit(i).cast("long")).otherwise(expr)
    return (
        df.withColumn("chunk_id", expr)
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# CDC replay (SURVEY §2.6/§2.9): changelog → MERGE latest-state semantics
# ---------------------------------------------------------------------------

_CDC_OP_SQL = """
  CASE WHEN event_type = 'signup' THEN 'c'
       WHEN event_type = 'error' THEN 'd'
       ELSE 'u' END
"""


@register(
    "cdc_merge_replay",
    f"""
    WITH changelog AS (
      SELECT event_id, user_id, value, epoch_us(ts) AS lsn, epoch_ms(ts) AS ts_ms,
             {_CDC_OP_SQL} AS op
      FROM events
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC, event_id DESC) AS rn
      FROM changelog
    )
    SELECT user_id::VARCHAR AS _olake_id, user_id, op AS _op_type, value, ts_ms
    FROM ranked WHERE rn = 1 AND op <> 'd'
    """,
)
def cdc_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-key upsert replay: interpret `events` as a change log keyed by
    user_id (signup→c, error→d, else→u), apply MERGE semantics — last writer
    wins by (lsn, event_id), deletes evict the row. This is the DataFrame
    form of the Iceberg equality-delete upsert
    (BaseDeltaTaskWriter.java:51-68) that `operators.merge` generalizes."""
    ev = table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    ch = ev.select(
        "event_id",
        "user_id",
        "value",
        F.unix_micros(F.col("ts")).alias("lsn"),
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        op.alias("op"),
    )
    w = W.partitionBy("user_id").orderBy(F.col("lsn").desc(), F.col("event_id").desc())
    return (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select(
            F.col("user_id").cast("string").alias("_olake_id"),
            "user_id",
            F.col("op").alias("_op_type"),
            "value",
            "ts_ms",
        )
    )


def _events_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events reinterpreted as an upsert changelog keyed by user_id."""
    ev = table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.unix_micros(F.col("ts")).alias("lsn"),
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        op.alias("_op_type"),
    )


@register(
    "cdc_upsert_batched",
    f"""
    WITH changelog AS (
      SELECT event_id, user_id, value, epoch_us(ts) AS lsn, epoch_ms(ts) AS ts_ms,
             {_CDC_OP_SQL} AS _op_type
      FROM events
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC, event_id DESC) AS rn
      FROM changelog
    )
    SELECT user_id, _op_type, value, ts_ms
    FROM ranked WHERE rn = 1 AND _op_type <> 'd'
    """,
)
def cdc_upsert_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE correctness: split the changelog into three
    LSN-ordered batches, apply them sequentially through
    ``operators.merge.merge_upsert`` (the engine's equality-delete upsert),
    and the final snapshot must equal the single-shot oracle — batch
    boundaries are invisible (the reference's resumable-sync invariant)."""
    ch = _events_changelog(spark, sf_dir)
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    c1 = int(lo) + (int(hi) - int(lo)) // 3
    c2 = int(lo) + 2 * (int(hi) - int(lo)) // 3
    batches = [
        ch.filter(F.col("lsn") <= c1),
        ch.filter((F.col("lsn") > c1) & (F.col("lsn") <= c2)),
        ch.filter(F.col("lsn") > c2),
    ]
    empty = ch.limit(0)
    final = apply_changelog(empty, batches, ["user_id"], ["lsn", "event_id"])
    return final.select("user_id", "_op_type", "value", "ts_ms")


@register("cdc_mor_replay", ORACLES["cdc_upsert_batched"])
def cdc_mor_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read upsert replay: the same 3-batch changelog lands as
    delta file groups on a real ManagedTable (O(|batch|) appends — the
    Iceberg equality-delete shape, BaseDeltaTaskWriter.java:51-68) and
    ``read()`` resolves latest-wins at scan time. Must equal the
    copy-on-write oracle exactly — the storage strategy is invisible."""
    import tempfile

    from olake_spark.sinks.table import ManagedTable
    from olake_spark.streaming.replay import replay_batches

    ch = _events_changelog(spark, sf_dir)
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    c1 = int(lo) + (int(hi) - int(lo)) // 3
    c2 = int(lo) + 2 * (int(hi) - int(lo)) // 3
    batches = [
        ch.filter(F.col("lsn") <= c1),
        ch.filter((F.col("lsn") > c1) & (F.col("lsn") <= c2)),
        ch.filter(F.col("lsn") > c2),
    ]
    t = ManagedTable(spark, tempfile.mkdtemp(prefix="olake_mor_"))
    replay_batches(t, batches, ["user_id"], "lsn", mor=True, order_cols=["lsn", "event_id"])
    return t.read().select("user_id", "_op_type", "value", "ts_ms")


_IVM_ORACLE = f"""
WITH changelog AS (
  SELECT event_id, user_id, value, epoch_us(ts) AS lsn,
         {_CDC_OP_SQL} AS _op_type
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY lsn DESC, event_id DESC) AS rn
  FROM changelog
), merged AS (
  SELECT user_id, value FROM ranked WHERE rn = 1 AND _op_type <> 'd'
), g AS (
  SELECT floor(value / 100.0)::BIGINT AS grp,
         round(value * 1000000)::BIGINT AS vm
  FROM merged
)
SELECT grp, count(*)::BIGINT AS n,
       round(sum(vm)::DOUBLE / 1000000, 4) AS sum_value,
       round(min(vm)::DOUBLE / 1000000, 4) AS min_value,
       round(max(vm)::DOUBLE / 1000000, 4) AS max_value,
       round(sum(vm)::DOUBLE / (count(*) * 1000000)::DOUBLE, 4) AS avg_value
FROM g GROUP BY grp
"""


@register("cdc_incremental_view", _IVM_ORACLE)
def cdc_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-aware incremental view maintenance (operators/ivm.py):
    a grouped aggregate view over the CDC-maintained table is refreshed
    from the change batch alone — net-op collapse, before-images fetched
    for touched PKs only, retract@old-group / insert@new-group deltas
    (the group key is VALUE-derived, so updates migrate rows between
    groups), null-safe full-outer fold, dirty-group-only min/max
    recompute. The oracle aggregates the single-shot merged table, so
    the gate proves refresh(view(A), A, B) ≡ view(merge(A, B)) — view
    maintenance is invisible, with cost ∝ batch, never base size."""
    from olake_spark.operators.ivm import (
        incremental_view_refresh,
        view_finalize,
        view_state,
    )
    from olake_spark.operators.merge import latest_state

    ch = _events_changelog(spark, sf_dir).withColumn(
        "grp", F.floor(F.col("value") / 100.0).cast("long")
    )
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    c1 = int(lo) + (int(hi) - int(lo)) // 2
    part1 = ch.filter(F.col("lsn") <= c1)
    part2 = ch.filter(F.col("lsn") > c1)
    base = latest_state(part1, ["user_id"], ["lsn", "event_id"])
    v0 = view_state(base, ["grp"], "value")
    v1 = incremental_view_refresh(
        v0, base, part2, ["user_id"], ["lsn", "event_id"], ["grp"], "value"
    )
    return view_finalize(v1, ["grp"])


_SCD2_ORACLE = f"""
WITH changelog AS (
  SELECT event_id, user_id, value, epoch_us(ts) AS lsn,
         {_CDC_OP_SQL} AS op
  FROM events
), {SCD2_INTERVALS_CTE}
SELECT user_id, value, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM intervals WHERE op <> 'd'
"""


@register("cdc_scd2_dimension", _SCD2_ORACLE)
def cdc_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension history from the CDC changelog: one row per
    VERSION of each key with half-open ``[valid_from, valid_to)`` intervals,
    no-op updates collapsed, deletes closing the chain and re-creates
    reopening it. The downstream-warehouse shape every consumer of the
    reference's upsert stream re-derives — here it is one operator
    (``operators.scd.scd2_history``): two window passes sharing a single
    hash exchange on the key."""
    from olake_spark.operators.scd import scd2_history

    ch = _events_changelog(spark, sf_dir)
    return scd2_history(
        ch,
        keys=["user_id"],
        tracked=["value"],
        order_cols=["lsn", "event_id"],
    ).select("user_id", "value", "valid_from", "valid_to", "is_current")


@register(
    "cdc_timetravel_read",
    f"""
    WITH changelog AS (
      SELECT event_id, user_id, value, epoch_us(ts) AS lsn, epoch_ms(ts) AS ts_ms,
             {_CDC_OP_SQL} AS _op_type
      FROM events
    ), bounds AS (
      SELECT min(lsn) AS lo, max(lsn) AS hi FROM changelog
    ), ranked AS (
      SELECT c.*, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC, event_id DESC) AS rn
      FROM changelog c, bounds b
      WHERE c.lsn <= b.lo + 2 * (b.hi - b.lo) // 3
    )
    SELECT user_id, _op_type, value, ts_ms
    FROM ranked WHERE rn = 1 AND _op_type <> 'd'
    """,
)
def cdc_timetravel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (Iceberg ``VERSION AS OF`` parity): land the
    3-batch changelog as MOR commits v0..v2, then read **version 1** — the
    table exactly as it stood after batch 2. Every ManagedTable commit is an
    immutable manifest and superseded files are never vacuumed eagerly, so
    an old snapshot is just an old manifest resolve — no data copy, same
    read plan. Oracle replays the changelog bounded at the batch-2 cutoff."""
    import tempfile

    from olake_spark.sinks.table import ManagedTable
    from olake_spark.streaming.replay import replay_batches

    ch = _events_changelog(spark, sf_dir)
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    c1 = int(lo) + (int(hi) - int(lo)) // 3
    c2 = int(lo) + 2 * (int(hi) - int(lo)) // 3
    batches = [
        ch.filter(F.col("lsn") <= c1),
        ch.filter((F.col("lsn") > c1) & (F.col("lsn") <= c2)),
        ch.filter(F.col("lsn") > c2),
    ]
    t = ManagedTable(spark, tempfile.mkdtemp(prefix="olake_tt_"))
    replay_batches(t, batches, ["user_id"], "lsn", mor=True, order_cols=["lsn", "event_id"])
    assert t.versions() == [0, 1, 2]
    return t.read(version=1).select("user_id", "_op_type", "value", "ts_ms")


_FILESKIP_ORACLE = """
WITH src AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
), b AS (
  SELECT min(ts_us) AS lo0, max(ts_us) AS hi0 FROM src
)
SELECT event_id, user_id, ts_us, value
FROM src, b
WHERE ts_us >= lo0 + (hi0 - lo0) * 3 // 10
  AND ts_us <= lo0 + (hi0 - lo0) * 4 // 10
"""


@register("scan_fileskip_prune", _FILESKIP_ORACLE)
def scan_fileskip_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping (Iceberg manifest-stats parity): land events
    range-clustered on ``ts_us`` into 16 parquet files, build the per-file
    min-max index in one scan (``operators.fileskip.minmax_index``), then
    answer a 10%-of-timespan range query by reading ONLY the files whose
    bounds intersect — the residual filter re-applied on the survivors.
    Must equal the oracle's full-scan filter exactly; the builder asserts
    real pruning happened (files_read < files_total), which holds because
    ``repartitionByRange`` gave the files disjoint ts ranges."""
    import tempfile

    from olake_spark.operators.fileskip import minmax_index, pruned_read

    src = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "value"
    )
    d = tempfile.mkdtemp(prefix="olake_fileskip_")
    src.repartitionByRange(16, "ts_us").write.mode("overwrite").parquet(d)

    idx = minmax_index(spark, d, ["ts_us"])
    lo0, hi0 = src.agg(F.min("ts_us"), F.max("ts_us")).first()
    lo = int(lo0) + (int(hi0) - int(lo0)) * 3 // 10
    hi = int(lo0) + (int(hi0) - int(lo0)) * 4 // 10
    out, audit = pruned_read(spark, idx, "ts_us", lo, hi)
    assert audit["files_read"] < audit["files_total"], audit
    return out.select("event_id", "user_id", "ts_us", "value")


# ---------------------------------------------------------------------------
# Value reformat family (SURVEY §2.8): per-type coercions, JVM-side
# ---------------------------------------------------------------------------

_REFORMAT_ORACLE = """
WITH src AS (
  SELECT o_orderkey AS k, o_orderdate, o_orderstatus,
    CASE o_orderkey % 4
      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
      WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')
      WHEN 2 THEN strftime(o_orderdate, '%Y-%m-%d')
      ELSE 'raw:' || o_orderkey END AS ts_str,
    CASE o_orderstatus WHEN 'O' THEN 'yes' WHEN 'F' THEN 'F' ELSE 'maybe' END AS bool_str,
    9000 + (o_orderkey % 2000) AS wy
  FROM orders)
SELECT k AS o_orderkey,
  epoch_ms(CASE WHEN regexp_matches(ts_str, '^\\d{4}-\\d{2}-\\d{2}')
    THEN coalesce(try_strptime(ts_str, '%Y-%m-%d %H:%M:%S'),
                  try_strptime(ts_str, '%Y-%m-%dT%H:%M:%S'),
                  try_strptime(ts_str, '%Y-%m-%d'),
                  TIMESTAMP '1970-01-01')
    ELSE TIMESTAMP '1970-01-01' END) AS ts_ms,
  coalesce(CAST(CASE WHEN bool_str IN ('1','t','T','true','TRUE','True','YES','Yes','yes') THEN true
       WHEN bool_str IN ('0','f','F','false','FALSE','False','NO','No','no') THEN false
       ELSE NULL END AS VARCHAR), 'invalid') AS b,
  CAST(CASE WHEN wy > 9999 THEN 9999 ELSE wy END AS INTEGER) AS clamp_y,
  strftime(o_orderdate, '%H:%M:%S') AS t_str
FROM src
"""


@register("reformat_values", _REFORMAT_ORACLE)
def reformat_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ReformatValue coercion family (utils/typeutils/reformat.go) driven
    over real data: multi-layout timestamp strings parse back (with the
    epoch fallback for non-date strings), the bool acceptance table maps
    strings, out-of-range years clamp to 9999, TIME renders as HH:mm:ss.
    All pure Column expressions — whole-stage codegen, no Python in the
    hot path."""
    from olake_spark.functions.reformat import (
        clamp_year,
        format_time,
        parse_timestamp_multi,
        to_bool,
    )

    df = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ts_str = (
        F.when(k % 4 == 0, F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .when(k % 4 == 1, F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(k % 4 == 2, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .otherwise(F.concat(F.lit("raw:"), k.cast("string")))
    )
    bool_str = (
        F.when(F.col("o_orderstatus") == "O", F.lit("yes"))
        .when(F.col("o_orderstatus") == "F", F.lit("F"))
        .otherwise(F.lit("maybe"))
    )
    wild = F.make_timestamp(
        (F.lit(9000) + k % 2000).cast("int"),
        F.lit(6), F.lit(15), F.lit(12), F.lit(30), F.lit(45).cast("decimal(8,6)"),
    )
    return df.select(
        k.alias("o_orderkey"),
        F.unix_millis(parse_timestamp_multi(ts_str)).alias("ts_ms"),
        # stringified so NULL (= rejected by the acceptance table) sorts
        # identically in both engines' comparators
        F.coalesce(to_bool(bool_str).cast("string"), F.lit("invalid")).alias("b"),
        F.year(clamp_year(wild)).alias("clamp_y"),
        format_time(F.col("o_orderdate")).alias("t_str"),
    )


# ---------------------------------------------------------------------------
# Schema evolution (SURVEY §2.10): widen-on-append through the LCA lattice
# ---------------------------------------------------------------------------

_EVOLVE_ORACLE = """
SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
       CAST(floor(l_quantity) AS INTEGER)::DOUBLE AS l_quantity,
       'NA' AS l_returnflag
FROM lineitem WHERE l_orderkey % 2 = 0
UNION ALL
SELECT l_orderkey, l_linenumber::BIGINT, l_quantity, l_returnflag
FROM lineitem WHERE l_orderkey % 2 = 1
"""


@register("schema_evolution_widen", _EVOLVE_ORACLE)
def schema_evolution_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two batches with drifted schemas land in one table: batch 1 writes
    (l_orderkey, l_linenumber int, l_quantity int); batch 2 arrives with
    l_linenumber long (int→long widen), l_quantity double (int→double via
    LCA) and a brand-new l_returnflag column. The evolved table reads back
    with per-group cast alignment — Iceberg's add-column/promote semantics
    (destination/iceberg/iceberg.go:42-57, IcebergTableOperator.java:112-130)
    on the ManagedTable snapshot log."""
    import tempfile

    from olake_spark.sinks.table import ManagedTable

    li = table(spark, sf_dir, "lineitem")
    b1 = li.filter(F.col("l_orderkey") % 2 == 0).select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        F.floor("l_quantity").cast("int").alias("l_quantity"),
    )
    b2 = li.filter(F.col("l_orderkey") % 2 == 1).select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("l_quantity").cast("double").alias("l_quantity"),
        "l_returnflag",
    )
    t = ManagedTable(spark, tempfile.mkdtemp(prefix="olake_evolve_"))
    t.append(b1)
    t.append(b2)
    out = t.read()
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.coalesce("l_returnflag", F.lit("NA")).alias("l_returnflag"),
    )


# ---------------------------------------------------------------------------
# Iceberg partition transforms (SURVEY §2.10): computed partition values
# ---------------------------------------------------------------------------

_TRANSFORM_ORACLE = """
SELECT o_orderkey,
  CAST(o_custkey - ((o_custkey % 100) + 100) % 100 AS BIGINT) AS trunc_cust,
  substr(o_orderpriority, 1, 2) AS trunc_prio,
  CAST(year(o_orderdate) - 1970 AS INTEGER) AS p_year,
  CAST((year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS INTEGER) AS p_month,
  CAST(date_diff('day', DATE '1970-01-01', o_orderdate::DATE) AS INTEGER) AS p_day,
  CAST(floor(epoch(o_orderdate) / 3600) AS INTEGER) AS p_hour,
  CAST(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::UBIGINT % 16 AS INTEGER) AS p_bucket
FROM orders
"""


@register("partition_transforms", _TRANSFORM_ORACLE)
def partition_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg partition-transform values computed as columns
    (arrow-writer/transforms.go:19-287): numeric/string truncate,
    epoch-relative year/month/day/hour ordinals, md5-derived bucket (the
    plain-parquet layout path; real Iceberg writes delegate bucketing to the
    catalog via ADD PARTITION FIELD)."""
    from olake_spark.sinks.iceberg import (
        IcebergPartitionField as PF,
        transform_column,
        truncate_string_column,
    )

    df = table(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        transform_column(PF("o_custkey", "truncate", 100)).cast("long").alias("trunc_cust"),
        truncate_string_column("o_orderpriority", 2).alias("trunc_prio"),
        transform_column(PF("o_orderdate", "year")).alias("p_year"),
        transform_column(PF("o_orderdate", "month")).alias("p_month"),
        transform_column(PF("o_orderdate", "day")).alias("p_day"),
        transform_column(PF("o_orderdate", "hour")).alias("p_hour"),
        transform_column(PF("o_orderkey", "bucket", 16)).alias("p_bucket"),
    )


# ---------------------------------------------------------------------------
# Time-series joins (beyond parity): as-of + range
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH r AS (
  SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
), rr AS (SELECT user_id, o_orderdate, o_orderkey, o_totalprice FROM r WHERE rn = 1)
SELECT e.event_id, e.user_id,
       rr.o_orderkey AS matched_order,
       round(rr.o_totalprice, 6) AS matched_price
FROM events e ASOF JOIN rr
  ON e.user_id = rr.user_id AND e.ts >= rr.o_orderdate
"""


@register("asof_join_last_order", _ASOF_ORACLE)
def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each event picks the user's newest order
    at-or-before the event time. Union + partitioned-window formulation —
    one shuffle on user_id, O(|L|+|R|) rows through the shuffle, no
    broadcast requirement (DuckDB's native ASOF JOIN is the oracle)."""
    from olake_spark.operators.joins import asof_join

    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    r = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
        )
    )
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    j = asof_join(ev, r, ["user_id"], "ts", "o_orderdate", ["o_orderkey", "o_totalprice"])
    return j.filter(F.col("o_orderkey").isNotNull()).select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("matched_order"),
        F.round("o_totalprice", 6).alias("matched_price"),
    )


_RANGE_ORACLE = """
SELECT o.o_orderkey,
       count(*) AS n_items,
       round(sum(l.l_extendedprice), 4) AS sum_price
FROM orders o JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY
GROUP BY o.o_orderkey
"""


@register("range_join_ship_window", _RANGE_ORACLE)
def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: line items shipped within 60 days of their order's date.
    The equality key keeps the plan a shuffled equi-join with a residual
    interval filter — never a nested-loop cross product."""
    from olake_spark.operators.joins import range_join

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = range_join(
        o,
        li,
        [("o_orderkey", "l_orderkey")],
        F.col("l_shipdate"),
        F.col("o_orderdate"),
        F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    return j.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Source/destination reconciliation (sync validation; the reference only
# tracks counts — utils/logger stats — this is the row-level check)
# ---------------------------------------------------------------------------

_LI_COLS = [
    ("l_orderkey", "BIGINT"),
    ("l_partkey", "BIGINT"),
    ("l_suppkey", "BIGINT"),
    ("l_linenumber", "INTEGER"),
    ("l_quantity", "DOUBLE"),
    ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"),
    ("l_tax", "DOUBLE"),
    ("l_returnflag", "VARCHAR"),
    ("l_linestatus", "VARCHAR"),
    ("l_shipdate", "TIMESTAMP"),
]


def _checksum_oracle() -> str:
    from olake_spark.operators.reconcile import fingerprint_sql

    return f"""
    SELECT CAST(floor(l_orderkey / 512) AS BIGINT) AS chunk_id,
           count(*) AS n_rows,
           bit_xor({fingerprint_sql(_LI_COLS)}) AS checksum
    FROM lineitem
    GROUP BY 1
    """


@register("sync_chunk_checksums", _checksum_oracle())
def sync_chunk_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free per-PK-chunk checksums for cheap source/destination
    comparison: one narrow codegen scan (concat_ws/md5/conv — zero
    Python), |chunks| rows through the shuffle. The canonical row
    rendering is engine-stable (micro-unit doubles, epoch-micros
    timestamps, chr(30) NULL sentinel), which this oracle proves by
    recomputing the identical 60-bit fingerprints in DuckDB."""
    from olake_spark.operators.reconcile import chunk_checksums

    li = table(spark, sf_dir, "lineitem")
    return chunk_checksums(li, "l_orderkey", 512, [n for n, _ in _LI_COLS])


_DIFF_ORACLE = """
WITH dst AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT -o_orderkey AS o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 83 = 0
)
SELECT coalesce(s.o_orderkey, d.o_orderkey) AS o_orderkey,
       CASE WHEN d.o_orderkey IS NULL THEN 'removed'
            WHEN s.o_orderkey IS NULL THEN 'added'
            WHEN s.o_totalprice <> d.o_totalprice
              OR s.o_orderstatus <> d.o_orderstatus THEN 'changed'
       END AS status
FROM orders s FULL OUTER JOIN dst d USING (o_orderkey)
WHERE (d.o_orderkey IS NULL OR s.o_orderkey IS NULL
       OR s.o_totalprice <> d.o_totalprice
       OR s.o_orderstatus <> d.o_orderstatus)
"""


@register("sync_table_diff", _DIFF_ORACLE)
def sync_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level drift report against a deterministically-perturbed copy
    (dropped keys → 'removed', price bumps → 'changed', negated new keys
    → 'added'). Both sides project to (pk, 60-bit fingerprint) map-side,
    so the full-outer join shuffles thin tuples regardless of row width;
    unchanged keys (the overwhelming majority) never leave the join."""
    from olake_spark.operators.reconcile import table_diff

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    dst = o.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderstatus",
    ).unionByName(
        o.where(F.col("o_orderkey") % 83 == 0).select(
            (-F.col("o_orderkey")).alias("o_orderkey"),
            "o_totalprice",
            "o_orderstatus",
        )
    )
    return table_diff(o, dst, ["o_orderkey"])


# ---------------------------------------------------------------------------
# Windowed event aggregation (beyond parity): tumbling event-time windows
# ---------------------------------------------------------------------------

_WINDOW_ORACLE = """
SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("events_windowed_agg", _WINDOW_ORACLE)
def events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type. The same
    expression runs under Structured Streaming with a watermark
    (streaming/windows.py — tested with an AvailableNow bounded drain)."""
    from olake_spark.streaming.windows import windowed_agg

    ev = table(spark, sf_dir, "events")
    return windowed_agg(ev, "ts", "1 hour", ["event_type"], value_col="value")


# ---------------------------------------------------------------------------
# Non-normalized raw mode (SURVEY §1.5): single JSON `data` column shape
# ---------------------------------------------------------------------------

_RAW_MODE_ORACLE = """
SELECT to_json(struct_pack(n_nationkey := n_nationkey,
                           n_name := n_name,
                           n_regionkey := n_regionkey))::VARCHAR AS data,
       n_nationkey::VARCHAR AS _olake_id,
       'r' AS _op_type
FROM nation
"""


@register("raw_mode_json", _RAW_MODE_ORACLE)
def raw_mode_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalization=false table shape (default for MongoDB/Kafka/S3 —
    types/catalog.go:92, destination/iceberg/iceberg.go:389-417): the whole
    record JSON-stringified into one `data` column, PK feeding _olake_id,
    engine op column alongside."""
    df = table(spark, sf_dir, "nation")
    return df.select(
        F.to_json(F.struct("n_nationkey", "n_name", "n_regionkey")).alias("data"),
        olake_id_column(["n_nationkey"]).alias("_olake_id"),
        F.lit("r").alias("_op_type"),
    )


# ---------------------------------------------------------------------------
# Skew-mitigated join (scale machinery): salted join ≡ plain join
# ---------------------------------------------------------------------------

_SALTED_ORACLE = """
SELECT o.o_orderpriority,
       count(*) AS n_items,
       round(sum(l.l_extendedprice), 2) AS sum_price
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


@register("skew_salted_join_agg", _SALTED_ORACLE)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (operators/skew.py): the big side carries a
    deterministic salt, the dim side is replicated per salt, the join key
    becomes (key, salt) — spreading any hot order key over 8 tasks. The
    oracle is the UNSALTED join: salting must be invisible in the result."""
    from olake_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_linenumber"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li, o, ["o_orderkey"], n=8, salt_from="l_linenumber")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Boundary-walk chunk planning (SURVEY §2.3): walk the real key distribution
# ---------------------------------------------------------------------------

_WALK_CHUNK_ROWS = 2000

_WALK_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderkey,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS rnk
  FROM orders
)
SELECT CAST(floor(rnk / {_WALK_CHUNK_ROWS}) AS BIGINT) AS chunk_id,
       count(*) AS n_rows,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM ranked GROUP BY 1
"""


@register("chunk_plan_boundary_walk", _WALK_ORACLE)
def chunk_plan_boundary_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-BY/LIMIT-OFFSET boundary walk (pkg/jdbc/jdbc.go:76-123): each
    driver-side probe asks for the key exactly chunk_size rows ahead, so
    chunks follow the REAL key distribution and key-space skew cannot
    produce a giant chunk. Probes here run as tiny Spark jobs standing in
    for the reference's `LIMIT 1 OFFSET n` source queries; the oracle
    verifies every chunk holds exactly chunk_size rows."""
    from olake_spark.plans.chunks import walk_boundaries

    df = table(spark, sf_dir, "orders").select("o_orderkey")
    first = df.agg(F.min("o_orderkey")).first()[0]

    def probe(cur):
        nxt = (
            df.filter(F.col("o_orderkey") > F.lit(cur))
            .sort("o_orderkey")
            .offset(_WALK_CHUNK_ROWS - 1)
            .limit(1)
            .first()
        )
        return None if nxt is None else nxt[0]

    chunks = walk_boundaries(int(first), probe)
    expr = F.lit(None).cast("long")
    for i in reversed(range(len(chunks))):
        ch = chunks[i]
        cond = F.col("o_orderkey") >= F.lit(ch.min)
        if ch.max is not None:
            cond = cond & (F.col("o_orderkey") < F.lit(ch.max))
        expr = F.when(cond, F.lit(i).cast("long")).otherwise(expr)
    return (
        df.withColumn("chunk_id", expr)
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# Discover (SURVEY §2.1/§2.2): schema inference parity across all streams
# ---------------------------------------------------------------------------

_ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_DISCOVER_ORACLE = """
SELECT table_name AS stream, column_name AS col,
  CASE
    WHEN data_type LIKE '%[]' THEN 'array'
    WHEN data_type = 'BIGINT' THEN 'integer'
    WHEN data_type = 'INTEGER' THEN 'integer_small'
    WHEN data_type = 'DOUBLE' THEN 'number'
    WHEN data_type IN ('REAL', 'FLOAT') THEN 'number_small'
    WHEN data_type = 'VARCHAR' THEN 'string'
    WHEN data_type = 'BOOLEAN' THEN 'boolean'
    WHEN data_type LIKE 'TIMESTAMP%' THEN 'timestamp_micro'
    ELSE 'unknown'
  END AS datatype
FROM information_schema.columns
WHERE table_name IN ('region','nation','customer','supplier','part',
                     'orders','lineitem','events','documents','embeddings')
"""


@register("discover_streams", _DISCOVER_ORACLE)
def discover_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `discover` verb's schema-inference surface: every stream's
    columns mapped through the engine type lattice (SURVEY §1.2's 14-type
    system) — one row per (stream, column, engine datatype). The oracle is
    DuckDB's own information_schema over the same parquet, mapped through
    the identical lattice names. Metadata-only: parquet footer reads, no
    data scan."""
    from olake_spark.typesys.lattice import from_spark_type

    rows = []
    for t in _ALL_TABLES:
        for f in table(spark, sf_dir, t).schema.fields:
            rows.append((t, f.name, from_spark_type(f.dataType).value))
    return spark.createDataFrame(rows, "stream string, col string, datatype string")


# ---------------------------------------------------------------------------
# CSV / JSONL parsers (SURVEY §2.2): inference roundtrip through file drops
# ---------------------------------------------------------------------------


@register(
    "csv_roundtrip_inference",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_roundtrip_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV parser parity (pkg/parser/csv.go): export nation as headered CSV,
    re-read with sample-based type inference, align inferred ints to the
    stream schema through the lattice (int32 sample → int64 stream). The
    oracle reads the original parquet — the CSV hop must be lossless."""
    import tempfile

    d = tempfile.mkdtemp(prefix="olake_csv_")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.coalesce(1).write.mode("overwrite").option("header", "true").csv(d)
    from olake_spark.sources.files import read_files

    back = read_files(spark, d, fmt="csv")
    return back.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    )


@register(
    "jsonl_roundtrip_inference",
    "SELECT r_regionkey, r_name FROM region",
)
def jsonl_roundtrip_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL parser parity (pkg/parser/json.go): region exported as JSON
    lines, re-read with schema inference (Spark JSON infers longs natively)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="olake_jsonl_")
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    r.coalesce(1).write.mode("overwrite").json(d)
    from olake_spark.sources.files import read_files

    back = read_files(spark, d, fmt="jsonl")
    return back.select("r_regionkey", "r_name")


# ---------------------------------------------------------------------------
# MongoDB source parity (SURVEY §2.3 splitVector/timestamp strategies, §2.6
# change streams): the chunk-boundary hex math and the change-stream decode,
# proven against arithmetic oracles
# ---------------------------------------------------------------------------

_MONGO_OID_ORACLE = """
WITH b AS (
  SELECT epoch(MIN(o_orderdate))::BIGINT - 600 AS start_secs,
         epoch(MAX(o_orderdate))::BIGINT + 600 AS last_secs
  FROM orders
), p AS (
  SELECT start_secs,
         10 * GREATEST(1, (last_secs - start_secs) // 21600) AS density
  FROM b
)
SELECT CAST((epoch(o_orderdate)::BIGINT - p.start_secs) // p.density AS BIGINT) AS chunk_idx,
       printf('%08x', p.start_secs
              + ((epoch(o_orderdate)::BIGINT - p.start_secs) // p.density) * p.density)
         || '0000000000000000' AS chunk_min_oid,
       COUNT(*) AS n
FROM orders, p
GROUP BY 1, 2
"""


@register("mongo_objectid_chunks", _MONGO_OID_ORACLE)
def mongo_objectid_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-sliced ObjectID chunk assignment (mongodb backfill.go:217-251).

    The planner (sources/mongo.timestamp_chunks) computes the boundary
    ObjectIDs driver-side; rows are assigned to their chunk with pure
    arithmetic on the embedded seconds (the slices are uniform), and each
    chunk's min boundary is re-synthesized as hex — proving the 4-byte-epoch
    + 8-zero-byte ObjectID math (backfill.go:383-390) against the oracle's
    printf. The boundary walk itself (pad, density) comes from the module,
    not re-derived inline.
    """
    import calendar

    from olake_spark.sources.mongo import objectid_timestamp, timestamp_chunks

    o = table(spark, sf_dir, "orders")
    first, last = o.agg(
        F.min("o_orderdate").cast("timestamp"), F.max("o_orderdate").cast("timestamp")
    ).first()
    chunks = timestamp_chunks(first, last)
    start = objectid_timestamp(chunks[0].min)
    density = int((objectid_timestamp(chunks[1].min) - start).total_seconds())
    start_secs = calendar.timegm(start.timetuple())
    secs = F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).cast("bigint")
    idx = F.floor((secs - F.lit(start_secs)) / F.lit(density)).cast("bigint")
    boundary = F.concat(
        F.format_string("%08x", (F.lit(start_secs) + idx * density).cast("bigint")),
        F.lit("0" * 16),
    )
    return (
        o.select(idx.alias("chunk_idx"), boundary.alias("chunk_min_oid"))
        .groupBy("chunk_idx", "chunk_min_oid")
        .agg(F.count("*").alias("n"))
    )


_CS_OP_SQL = """CASE event_id % 4 WHEN 0 THEN 'insert' WHEN 1 THEN 'update'
                WHEN 2 THEN 'replace' ELSE 'delete' END"""

_MONGO_CS_ORACLE = f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_ms(ts) // 1000 AS secs, epoch_ms(ts) AS ms,
         {_CS_OP_SQL} AS raw_op
  FROM events WHERE event_id % 7 = 0
)
SELECT CASE WHEN raw_op = 'insert' THEN 'c'
            WHEN raw_op = 'delete' THEN 'd' ELSE 'u' END AS _op_type,
       CASE WHEN raw_op = 'delete' AND event_id % 2 = 0 THEN event_id + 1000000
            WHEN raw_op IN ('update','replace') AND event_id % 5 = 0 THEN event_id + 2000000
            ELSE event_id END AS doc_event_id,
       CASE WHEN event_id % 3 <> 0 THEN ms
            ELSE secs * 1000 + event_id % 100 END AS cdc_ms,
       secs AS token_secs
FROM ev
"""


@register("mongo_change_stream_decode", _MONGO_CS_ORACLE)
def mongo_change_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-stream event decode (mongodb cdc.go:166-192, 280-323).

    Synthesizes raw change-stream JSON from events (op cycling through
    insert/update/replace/delete, wallTime present ⅔ of the time, some
    update/delete events with only a before-image or documentKey), runs
    ``streaming.mongo_cdc.decode_change_stream``, and extracts typed scalars:
    the op mapping (replace→update→"u"), the per-op document selection
    (delete prefers before-image over documentKey; update falls back to the
    before-image when the updateLookup found nothing), the wallTime-else-
    clusterTime timestamp rule, and the resume-token seconds decode.
    """
    from olake_spark.streaming.mongo_cdc import decode_change_stream

    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    secs = F.unix_timestamp("ts").cast("bigint")
    ms = F.unix_millis(F.col("ts"))
    eid = F.col("event_id")
    raw_op = (
        F.when(eid % 4 == 0, "insert")
        .when(eid % 4 == 1, "update")
        .when(eid % 4 == 2, "replace")
        .otherwise("delete")
    )
    doc = lambda id_col: F.to_json(F.struct(F.col("user_id"), id_col.alias("event_id")))  # noqa: E731
    is_delete = raw_op == "delete"
    is_update = raw_op.isin("update", "replace")
    event = F.struct(
        F.struct(F.format_string("82%08x%08x", secs, eid % 100).alias("_data")).alias("_id"),
        raw_op.alias("operationType"),
        F.struct(secs.alias("t"), (eid % 100).alias("i")).alias("clusterTime"),
        F.when(eid % 3 != 0, ms).alias("wallTime"),
        F.when(is_delete | (is_update & (eid % 5 == 0)), F.lit(None).cast("string"))
        .otherwise(doc(eid))
        .alias("fullDocument"),
        F.when(is_delete & (eid % 2 == 0), doc(eid + 1000000))
        .when(is_update & (eid % 5 == 0), doc(eid + 2000000))
        .alias("fullDocumentBeforeChange"),
        F.to_json(F.struct(eid.alias("event_id"))).alias("documentKey"),
    )
    raw = ev.select(F.to_json(event).alias("value"))
    decoded = decode_change_stream(raw)
    return decoded.select(
        "_op_type",
        F.get_json_object("data", "$.event_id").cast("bigint").alias("doc_event_id"),
        F.unix_millis(F.col("_cdc_timestamp")).alias("cdc_ms"),
        F.conv(F.substring("_cdc_resume_token", 3, 8), 16, 10).cast("bigint").alias("token_secs"),
    )


# ---------------------------------------------------------------------------
# MySQL binlog CDC parity (SURVEY §2.6): rows-event decode with after-image
# pairing, and the Debezium envelope flavor of the same log
# ---------------------------------------------------------------------------

_BINLOG_OP_SQL = """CASE o_orderkey % 6
  WHEN 0 THEN 'c' WHEN 1 THEN 'c' WHEN 2 THEN 'u'
  WHEN 3 THEN 'u' WHEN 4 THEN 'd' ELSE 'd' END"""

_BINLOG_ROWS_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_totalprice, o_orderdate,
         epoch(o_orderdate)::BIGINT AS secs
  FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 13 <> 0
), expected AS (
  SELECT {_BINLOG_OP_SQL} AS _op_type,
         o_orderkey AS okey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         CASE WHEN o_orderkey % 3 = 0
              THEN epoch_ms(o_orderdate::TIMESTAMP) + o_orderkey % 1000
              ELSE secs * 1000 END AS cdc_ms,
         (o_orderkey % 5 + 40) * 4294967296 + o_orderkey AS pos_key
  FROM o
  UNION ALL
  -- second row of the two-row WRITE_ROWS_EVENTv2 batches
  SELECT 'c', o_orderkey + 5000000,
         CAST(round(o_totalprice * 2 * 100) AS BIGINT),
         CASE WHEN o_orderkey % 3 = 0
              THEN epoch_ms(o_orderdate::TIMESTAMP) + o_orderkey % 1000
              ELSE secs * 1000 END,
         (o_orderkey % 5 + 40) * 4294967296 + o_orderkey
  FROM o WHERE o_orderkey % 6 = 1
)
SELECT * FROM expected
"""


@register("mysql_binlog_rows_decode", _BINLOG_ROWS_ORACLE)
def mysql_binlog_rows_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binlog RowsEvent decode (pkg/binlog/filter.go:52-130).

    Synthesizes go-mysql-shaped RowsEvents from orders — all six DML event
    type names (v1+v2), two-row insert batches, update events carrying
    interleaved (before, after) image pairs with a poisoned before-image,
    non-DML events that must vanish, and the GTID-vs-header timestamp rule —
    then runs ``streaming.binlog.decode_rows_events`` and extracts typed
    scalars. A surviving -1 price would mean a before-image leaked through.
    """
    from olake_spark.streaming.binlog import decode_rows_events

    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 11 == 0)
    )
    okey = F.col("o_orderkey")
    mod6 = okey % 6
    event_type = (
        F.when(okey % 13 == 0, "XID_EVENT")  # non-DML: must produce no rows
        .when(mod6 == 0, "WRITE_ROWS_EVENTv1")
        .when(mod6 == 1, "WRITE_ROWS_EVENTv2")
        .when(mod6 == 2, "UPDATE_ROWS_EVENTv1")
        .when(mod6 == 3, "UPDATE_ROWS_EVENTv2")
        .when(mod6 == 4, "DELETE_ROWS_EVENTv1")
        .otherwise("DELETE_ROWS_EVENTv2")
    )

    def row_json(key: Column, price: Column) -> Column:
        return F.to_json(F.struct(key.alias("okey"), price.alias("price")))

    price = F.col("o_totalprice")
    rows = (
        F.when(mod6.isin(2, 3), F.array(row_json(okey, F.lit(-1.0)), row_json(okey, price)))
        .when(mod6 == 1, F.array(row_json(okey, price), row_json(okey + 5000000, price * 2)))
        .otherwise(F.array(row_json(okey, price)))
    )
    secs = F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).cast("bigint")
    events = o.select(
        event_type.alias("event_type"),
        F.lit("db").alias("schema"),
        F.lit("orders").alias("table"),
        rows.alias("rows"),
        secs.alias("header_timestamp"),
        F.when(
            okey % 3 == 0,
            F.timestamp_millis(F.unix_millis(F.col("o_orderdate").cast("timestamp")) + okey % 1000),
        ).alias("gtid_timestamp"),
        F.format_string("mysql-bin.%06d", (okey % 5 + 40).cast("int")).alias("file"),
        okey.cast("long").alias("pos"),
    )
    decoded = decode_rows_events(events)
    return decoded.select(
        "_op_type",
        F.get_json_object("data", "$.okey").cast("bigint").alias("okey"),
        F.round(F.get_json_object("data", "$.price").cast("double") * 100).cast("bigint").alias("price_cents"),
        F.unix_millis(F.col("_cdc_timestamp")).alias("cdc_ms"),
        F.col("_cdc_pos_key").alias("pos_key"),
    )


_DBZ_ORACLE = """
SELECT CASE o_orderkey % 4 WHEN 0 THEN 'c' WHEN 1 THEN 'u'
            WHEN 2 THEN 'd' ELSE 'r' END AS _op_type,
       o_orderkey AS okey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
       epoch_ms(o_orderdate::TIMESTAMP) + o_orderkey % 997 AS cdc_ms,
       (o_orderkey % 7 + 100) * 4294967296 + o_orderkey AS pos_key
FROM orders WHERE o_orderkey % 17 = 0
"""


@register("mysql_debezium_decode", _DBZ_ORACLE)
def mysql_debezium_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium MySQL envelope decode (the Kafka-delegated binlog path).

    Envelopes alternate between schema-wrapped ``{payload: …}`` and bare
    forms (both public Debezium serializations); deletes carry only a
    before-image, everything else only an after-image with a poisoned
    before — proving the per-op image selection, op passthrough (incl. the
    snapshot ``r``), source ts_ms timestamp, and the binlog position key.
    """
    from olake_spark.streaming.binlog import decode_debezium

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 17 == 0)
    okey = F.col("o_orderkey")
    op = (
        F.when(okey % 4 == 0, "c")
        .when(okey % 4 == 1, "u")
        .when(okey % 4 == 2, "d")
        .otherwise("r")
    )
    doc = F.to_json(F.struct(okey.alias("okey"), F.col("o_totalprice").alias("price")))
    poisoned = F.to_json(F.struct(okey.alias("okey"), F.lit(-1.0).alias("price")))
    is_delete = okey % 4 == 2
    payload = F.struct(
        F.when(is_delete, doc).otherwise(poisoned).alias("before"),
        F.when(is_delete, F.lit(None).cast("string")).otherwise(doc).alias("after"),
        F.struct(
            F.format_string("mysql-bin.%06d", (okey % 7 + 100).cast("int")).alias("file"),
            okey.cast("long").alias("pos"),
            (F.unix_millis(F.col("o_orderdate").cast("timestamp")) + okey % 997).alias("ts_ms"),
            F.lit("db").alias("db"),
            F.lit("orders").alias("table"),
            F.lit(None).cast("string").alias("snapshot"),
        ).alias("source"),
        op.alias("op"),
        (F.unix_millis(F.col("o_orderdate").cast("timestamp")) + 1).alias("ts_ms"),
    )
    wrapped = F.when(okey % 2 == 0, F.to_json(F.struct(payload.alias("payload")))).otherwise(
        F.to_json(payload)
    )
    decoded = decode_debezium(o.select(wrapped.alias("value")))
    return decoded.select(
        "_op_type",
        F.get_json_object("data", "$.okey").cast("bigint").alias("okey"),
        F.round(F.get_json_object("data", "$.price").cast("double") * 100).cast("bigint").alias("price_cents"),
        F.unix_millis(F.col("_cdc_timestamp")).alias("cdc_ms"),
        F.col("_cdc_pos_key").alias("pos_key"),
    )


_PGOUT_ORACLE = """
SELECT CASE o_orderkey % 3 WHEN 0 THEN 'c' WHEN 1 THEN 'u' ELSE 'd' END AS _op_type,
       o_orderkey AS okey,
       CASE o_orderkey % 3 WHEN 1 THEN 'upd:' || o_orderstatus
            ELSE o_orderstatus END AS status,
       CASE o_orderkey % 3 WHEN 1 THEN 'toast:' || o_orderkey ELSE NULL END AS note,
       o_orderkey AS lsn,
       epoch_ms(o_orderdate::TIMESTAMP) AS ts_ms
FROM orders WHERE o_orderkey % 29 = 0
"""


@register("pgoutput_binary_decode", _PGOUT_ORACLE)
def pgoutput_binary_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pgoutput binary protocol decode (pkg/waljs/pgoutput.go:1-298) driven
    end-to-end and fully distributed: each partition of a deterministic
    orders subset is encoded into real pgoutput wire bytes inside
    ``mapPartitions`` (a Relation header first — every bounded protocol
    slice opens with one — then Begin + Insert/Update/Delete per row;
    updates carry an unchanged-TOAST column that must be recovered from the
    REPLICA IDENTITY FULL old tuple), decoded back via the partition-local
    relation cache, and compared typed. No driver-side loop, no collect."""
    from olake_spark.sources.files import spread
    from olake_spark.streaming.pgoutput import (
        decode_pgoutput_df,
        encode_begin,
        encode_delete,
        encode_insert,
        encode_relation,
        encode_update,
    )
    from olake_spark.streaming.wal2json import op_type_column

    src = spread(
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 29 == 0)
        .select("o_orderkey", "o_orderstatus", F.col("o_orderdate").cast("timestamp").alias("ts")),
        "o_orderkey",
    )

    def encode_part(part):
        started = False
        for r in part:
            if not started:
                yield (encode_relation(55, "public", "orders",
                                       [("id", 20), ("status", 25), ("note", 25)]),)
                started = True
            k, st = r["o_orderkey"], r["o_orderstatus"]
            yield (encode_begin(k, r["ts"]),)
            if k % 3 == 0:
                yield (encode_insert(55, [str(k), st, None]),)
            elif k % 3 == 1:
                yield (encode_update(
                    55,
                    new=[("t", str(k)), ("t", f"upd:{st}"), ("u", None)],
                    old=[("t", str(k)), ("t", st), ("t", f"toast:{k}")],
                ),)
            else:
                yield (encode_delete(55, [("t", str(k)), ("t", st), ("n", None)],
                                     key_only=False),)

    raw = spark.createDataFrame(src.rdd.mapPartitions(encode_part), "value binary")
    decoded = decode_pgoutput_df(raw)
    return decoded.select(
        op_type_column(F.col("op")).alias("_op_type"),
        F.col("data").getItem("id").cast("bigint").alias("okey"),
        F.col("data").getItem("status").alias("status"),
        F.col("data").getItem("note").alias("note"),
        F.col("lsn").alias("lsn"),
        F.unix_millis(F.col("commit_ts")).alias("ts_ms"),
    )


_WAL2JSON_ORACLE = """
SELECT CASE o_orderkey % 3 WHEN 0 THEN 'c' WHEN 1 THEN 'u' ELSE 'd' END AS _op_type,
       o_orderkey AS id,
       CASE WHEN o_orderkey % 3 = 2 THEN NULL ELSE o_orderstatus END AS status,
       '0/' || lpad(upper(to_hex(o_orderkey)), 8, '0') AS lsn,
       epoch_ms(o_orderdate::TIMESTAMP) AS ts_ms
FROM orders WHERE o_orderkey % 31 = 0
"""


@register("wal2json_decode", _WAL2JSON_ORACLE)
def wal2json_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wal2json CDC decode (pkg/waljs/types.go:41-57, filter.go:33-89)
    driven end-to-end and fully declarative: orders rows are rendered into
    real wal2json commit messages with ``to_json`` (insert/update/delete by
    key mod 3 — deletes carry only ``oldkeys``, like REPLICA IDENTITY — plus
    a non-DML ``truncate`` entry per commit that the decoder must drop),
    decoded via ``decode_wal2json`` (from_json + explode, zero Python), and
    typed through ``project_stream``. Delete rows surface only their key
    columns; the op map is the reference's insert→c / update→u / delete→d."""
    from pyspark.sql import types as T

    from olake_spark.sources.files import spread
    from olake_spark.streaming.wal2json import decode_wal2json, project_stream

    k = F.col("o_orderkey")
    st = F.col("o_orderstatus")
    m3 = k % 3
    kind = (
        F.when(m3 == 0, F.lit("insert"))
        .when(m3 == 1, F.lit("update"))
        .otherwise(F.lit("delete"))
    )
    dml = F.struct(
        kind.alias("kind"),
        F.lit("public").alias("schema"),
        F.lit("orders").alias("table"),
        F.when(m3 != 2, F.array(F.lit("id"), F.lit("status"))).alias("columnnames"),
        F.when(m3 != 2, F.array(F.lit("int8"), F.lit("text"))).alias("columntypes"),
        F.when(m3 != 2, F.array(k.cast("string"), st)).alias("columnvalues"),
        F.when(
            m3 == 2,
            F.struct(
                F.array(F.lit("id")).alias("keynames"),
                F.array(F.lit("int8")).alias("keytypes"),
                F.array(k.cast("string")).alias("keyvalues"),
            ),
        ).alias("oldkeys"),
    )
    _null_arr = F.lit(None).cast("array<string>")
    noise = F.struct(
        F.lit("truncate").alias("kind"),
        F.lit("public").alias("schema"),
        F.lit("orders").alias("table"),
        _null_arr.alias("columnnames"),
        _null_arr.alias("columntypes"),
        _null_arr.alias("columnvalues"),
        F.lit(None)
        .cast(
            "struct<keynames:array<string>,keytypes:array<string>,keyvalues:array<string>>"
        )
        .alias("oldkeys"),
    )
    msg = F.to_json(
        F.struct(
            F.concat(F.lit("0/"), F.lpad(F.hex(k), 8, "0")).alias("nextlsn"),
            F.date_format(F.col("o_orderdate").cast("timestamp"), "yyyy-MM-dd HH:mm:ss").alias(
                "timestamp"
            ),
            F.array(dml, noise).alias("change"),
        )
    )
    raw = spread(table(spark, sf_dir, "orders").filter(k % 31 == 0), "o_orderkey").select(
        msg.alias("value")
    )
    decoded = decode_wal2json(raw, tables=["orders"])
    typed = project_stream(
        decoded,
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("status", T.StringType())]
        ),
    )
    return typed.select(
        "_op_type",
        "id",
        "status",
        F.col("_cdc_lsn").alias("lsn"),
        F.unix_millis(F.col("_cdc_timestamp")).alias("ts_ms"),
    )


_GEO_ORACLE = """
SELECT o_orderkey AS okey,
       CASE WHEN o_orderkey % 5 = 0
              THEN '07' || lower(hex(o_orderkey::VARCHAR))
            WHEN o_orderkey % 2 = 0
              THEN 'POINT (' || (o_orderkey % 1000)::VARCHAR || ' '
                   || (o_orderkey % 100)::VARCHAR || '.5)'
            ELSE 'LINESTRING (' || (o_orderkey % 9)::VARCHAR || ' '
                 || (o_orderkey % 7)::VARCHAR || ', '
                 || (o_orderkey % 9 + 1)::VARCHAR || ' '
                 || (o_orderkey % 7 + 1)::VARCHAR || ')'
       END AS wkt
FROM orders WHERE o_orderkey % 19 = 0
"""


@register("geo_wkb_to_wkt", _GEO_ORACLE)
def geo_wkb_to_wkt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB→WKT geometry normalization (utils/typeutils/reformat.go:512-545
    ReformatGeoType) driven end-to-end: each partition encodes orders keys
    into real SRID-prefixed WKB (little-endian POINT with a fractional
    coordinate, big-endian LINESTRING for byte-order coverage, and an
    undecodable blob that must fall back to lowercase hex of the whole
    value), then ``geo_column`` (Arrow-batched pandas UDF) decodes. The
    oracle states the expected WKT directly — Go-style %v float rendering:
    integral coordinates print with no decimal part."""
    import struct as _struct

    from olake_spark.functions.geo import geo_column
    from olake_spark.sources.files import spread

    src = spread(
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 19 == 0)
        .select("o_orderkey"),
        "o_orderkey",
    )

    def encode_part(part):
        for r in part:
            k = int(r["o_orderkey"])
            if k % 5 == 0:
                blob = bytes([7]) + str(k).encode()  # undecodable → hex fallback
            elif k % 2 == 0:
                blob = _struct.pack("<i", 4326) + _struct.pack(
                    "<BIdd", 1, 1, float(k % 1000), k % 100 + 0.5
                )
            else:
                blob = _struct.pack("<i", 0) + _struct.pack(
                    ">BIIdddd", 0, 2, 2,
                    float(k % 9), float(k % 7), float(k % 9 + 1), float(k % 7 + 1),
                )
            yield (k, blob)

    raw = spark.createDataFrame(src.rdd.mapPartitions(encode_part), "okey long, wkb binary")
    return raw.select("okey", geo_column("wkb").alias("wkt"))


_AVRO_ORACLE = """
SELECT o_orderkey AS okey,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS status,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
       (o_orderkey % 7)::BIGINT AS n_tags
FROM orders WHERE o_orderkey % 23 = 0
"""


@register("kafka_avro_decode", _AVRO_ORACLE)
def kafka_avro_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent-framed Avro decode without spark-avro (the engine's no-jar
    fallback; wire split pkg/kafka/schema_registry.go:1-117, flattening
    utils/typeutils/avro.go:11-60): orders rows are Avro-binary-encoded
    driver-side (nullable union status, decimal-logical price, string
    array), framed with the 5-byte Confluent header, decoded via the
    Arrow-batched ``mapInPandas`` codec, and compared typed — union
    unwrap, zigzag varints, and decimal→float all on the hot path."""
    import json as _json

    from olake_spark.functions.avro_codec import AvroCodec, decode_confluent_df

    schema = {
        "type": "record",
        "name": "order",
        "fields": [
            {"name": "okey", "type": "long"},
            {"name": "status", "type": ["null", "string"]},
            {"name": "price", "type": {"type": "bytes", "logicalType": "decimal",
                                       "precision": 12, "scale": 2}},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
        ],
    }
    codec = AvroCodec(schema)
    rows = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 23 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .collect()
    )
    payloads = []
    for r in rows:
        k = r["o_orderkey"]
        rec = {
            "okey": k,
            "status": None if k % 5 == 0 else r["o_orderstatus"],
            "price": round(r["o_totalprice"], 2),
            "tags": [f"t{i}" for i in range(k % 7)],
        }
        payloads.append((b"\x00\x00\x00\x00\x07" + codec.encode(rec),))
    raw = spark.createDataFrame(payloads, "value binary")
    decoded = decode_confluent_df(raw, _json.dumps(schema))
    return decoded.select(
        F.get_json_object("data", "$.okey").cast("bigint").alias("okey"),
        F.get_json_object("data", "$.status").alias("status"),
        F.round(F.get_json_object("data", "$.price").cast("double") * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.json_array_length(F.get_json_object("data", "$.tags")).cast("bigint").alias("n_tags"),
    )


_BINLOG_WIRE_ORACLE = """
SELECT o_orderkey AS okey,
       CASE o_orderkey % 3 WHEN 0 THEN 'insert' WHEN 1 THEN 'update' ELSE 'delete' END AS op,
       CASE WHEN o_orderkey % 3 = 1 THEN o_orderstatus || '!' ELSE o_orderstatus END AS status,
       CAST(round(o_totalprice * 100) AS BIGINT)
         + CASE WHEN o_orderkey % 3 = 1 THEN 111 ELSE 0 END AS price_cents,
       epoch_ms(o_orderdate::TIMESTAMP + (o_orderkey % 1000) * INTERVAL 1 SECOND) AS ts_ms,
       '12345678-1234-5678-1234-567812345678:' || o_orderkey AS gtid,
       epoch_us(o_orderdate::TIMESTAMP + (o_orderkey % 1000) * INTERVAL 1 SECOND)
         + (o_orderkey % 1000) AS event_ts_us
FROM orders WHERE o_orderkey % 29 = 0
"""


@register("mysql_binlog_wire_decode", _BINLOG_WIRE_ORACLE)
def mysql_binlog_wire_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL binlog BINARY protocol decode (streaming/binlog_wire.py; the
    wire format the reference consumes through go-mysql —
    pkg/binlog/binlog.go:1-185, row conversion filter.go:52-373): orders
    rows are encoded driver-side as TABLE_MAP + WRITE/UPDATE/DELETE_ROWS
    events (v1 for odd keys, v2 for even — both header layouts on the hot
    path), with LONG / VARCHAR / packed-DATETIME2 / packed-NEWDECIMAL
    columns and COLUMN_NAME optional metadata; encoded AND decoded inside
    ``mapPartitions`` (each partition is a protocol slice opening with its
    TABLE_MAP, exactly how a bounded binlog batch arrives) and compared
    typed. Update events carry (before, after) image pairs and only the
    after image (status||'!', price+1.11) must survive. Each transaction
    opens with a GTID event carrying the MySQL ≥8.0.1 7-byte µs commit
    timestamps (binlog.go:121-126): odd keys use the flag-set form
    (original ≠ immediate — the original wins, filter.go:98-100), even
    keys flag-clear; the decoded event timestamp must be the µs-precision
    GTID time, not the header's seconds, and rows carry the GTID string."""
    import uuid as _uuid

    from olake_spark.sources.files import spread
    from olake_spark.streaming import binlog_wire as bw

    _sid = _uuid.UUID("12345678-1234-5678-1234-567812345678").bytes

    cols = [bw.TYPE_LONG, bw.TYPE_VARCHAR, bw.TYPE_NEWDECIMAL, bw.TYPE_DATETIME2]
    meta = [0, 64, (12 << 8) | 2, 0]
    names = ["id", "status", "price", "created"]
    src = spread(
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 29 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
        "o_orderkey",
    )
    import datetime as _dt

    def _price(cents: int) -> str:
        return f"{cents // 100}.{cents % 100:02d}"

    def encode_part(part):
        started = False
        for r in part:
            if not started:
                yield (bw.encode_table_map(42, "shop", "orders", cols, meta, names=names),)
                started = True
            k = r["o_orderkey"]
            cents = int(round(r["o_totalprice"] * 100))
            d = r["o_orderdate"]
            created = _dt.datetime(d.year, d.month, d.day) + _dt.timedelta(seconds=k % 1000)
            base = [k, r["o_orderstatus"], _price(cents), created]
            v2 = k % 2 == 0
            final_us = (
                created - _dt.datetime(1970, 1, 1)
            ) // _dt.timedelta(microseconds=1) + k % 1000
            if v2:  # flag-clear: original == immediate
                yield (bw.encode_gtid(_sid, k, immediate_us=final_us),)
            else:  # flag-set: distinct original must win over immediate
                yield (bw.encode_gtid(_sid, k, immediate_us=final_us + 7,
                                      original_us=final_us),)
            if k % 3 == 0:
                ev = bw.encode_rows_event(42, "insert", [base], cols, meta, v2=v2, log_pos=k)
            elif k % 3 == 1:
                after = [k, r["o_orderstatus"] + "!", _price(cents + 111), created]
                ev = bw.encode_rows_event(42, "update", [(base, after)], cols, meta, v2=v2, log_pos=k)
            else:
                ev = bw.encode_rows_event(42, "delete", [base], cols, meta, v2=v2, log_pos=k)
            yield (ev,)

    raw = spark.createDataFrame(src.rdd.mapPartitions(encode_part), "value binary")
    decoded = bw.decode_binlog_df(raw, file_name="binlog.000001")
    return decoded.select(
        F.col("data")["id"].cast("bigint").alias("okey"),
        F.col("op"),
        F.col("data")["status"].alias("status"),
        F.regexp_replace(F.col("data")["price"], r"\.", "").cast("bigint").alias("price_cents"),
        F.unix_millis(F.to_timestamp(F.col("data")["created"])).alias("ts_ms"),
        F.col("gtid"),
        F.unix_micros(F.col("ts")).alias("event_ts_us"),
    )


_REGISTRY_ORACLE = """
SELECT o_orderkey AS okey,
       o_orderstatus AS status,
       CASE WHEN o_orderkey % 2 = 1 THEN CAST(round(o_totalprice * 100) AS BIGINT) END AS price_cents,
       CASE WHEN o_orderkey % 2 = 1 THEN 9 ELSE 7 END AS sid
FROM orders WHERE o_orderkey % 19 = 0
"""


@register("kafka_registry_decode", _REGISTRY_ORACLE)
def kafka_registry_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-Registry-driven decode of a MIXED-schema-id topic
    (pkg/kafka/schema_registry.go:1-117): two writer schema versions coexist
    in one batch; the ids are discovered with one narrow aggregation, each id
    is fetched ONCE from a (stub) registry over authenticated HTTP on the
    driver, and the per-id codecs decode distributed — executors never talk
    HTTP. The stub server is shut down before the DataFrame returns, proving
    resolution is eager and the decode plan is self-contained."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from olake_spark.functions.avro_codec import AvroCodec
    from olake_spark.sources.schema_registry import (
        SchemaRegistryClient,
        resolve_and_decode,
    )

    v1 = {
        "type": "record",
        "name": "order",
        "fields": [
            {"name": "okey", "type": "long"},
            {"name": "status", "type": "string"},
        ],
    }
    v2 = {
        "type": "record",
        "name": "order",
        "fields": [
            {"name": "okey", "type": "long"},
            {"name": "status", "type": "string"},
            {"name": "price_cents", "type": "long"},
        ],
    }
    schemas = {7: v1, 9: v2}

    class _H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            sid = int(self.path.rsplit("/", 1)[1])
            self.send_response(200)
            self.end_headers()
            self.wfile.write(_json.dumps({"schema": _json.dumps(schemas[sid])}).encode())

    from olake_spark.materialize import materialize
    from olake_spark.sources.files import spread

    c1, c2 = AvroCodec(v1), AvroCodec(v2)
    src = spread(
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 19 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "o_orderkey",
    )

    def encode_part(part):
        for r in part:
            k = r["o_orderkey"]
            if k % 2 == 1:
                body = c2.encode(
                    {"okey": k, "status": r["o_orderstatus"],
                     "price_cents": int(round(r["o_totalprice"] * 100))}
                )
                yield (b"\x00\x00\x00\x00\x09" + body,)
            else:
                yield (b"\x00\x00\x00\x00\x07"
                       + c1.encode({"okey": k, "status": r["o_orderstatus"]}),)

    # materialized once: the registry's eager id-discovery agg AND the final
    # decode scan read the same blocks instead of re-running the Python
    # encode pass twice per execution (measured 1.41 -> 1.15s; the earlier
    # cache+unpersist shape released the blocks between the two consumers,
    # forcing a full re-encode for the decode scan)
    raw = materialize(
        spark.createDataFrame(src.rdd.mapPartitions(encode_part), "value binary")
    )

    srv = HTTPServer(("127.0.0.1", 0), _H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        decoded = resolve_and_decode(
            raw, SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        )
    finally:
        srv.shutdown()
    return decoded.select(
        F.get_json_object("data", "$.okey").cast("bigint").alias("okey"),
        F.get_json_object("data", "$.status").alias("status"),
        F.get_json_object("data", "$.price_cents").cast("bigint").alias("price_cents"),
        F.col("_schema_id").alias("sid"),
    )


# ---------------------------------------------------------------------------
# Point-in-time (temporal) join against the SCD2 dimension — feature-store /
# audit semantics: each fact sees the version valid at its own timestamp
# ---------------------------------------------------------------------------

_PIT_ORACLE = f"""
WITH changelog AS (
  SELECT event_id, user_id, value, epoch_us(ts) AS lsn,
         {_CDC_OP_SQL} AS op
  FROM events
), {SCD2_INTERVALS_CTE}, facts AS (
  SELECT user_id, event_id, epoch_us(ts) + 1 AS fact_lsn
  FROM events WHERE event_id % 3 = 0
)
SELECT f.user_id, f.fact_lsn, f.event_id,
       d.value AS dim_value,
       (d.user_id IS NOT NULL) AS matched
FROM facts f LEFT JOIN intervals d
  ON d.user_id = f.user_id AND d.op <> 'd'
     AND d.valid_from <= f.fact_lsn
     AND (d.valid_to IS NULL OR f.fact_lsn < d.valid_to)
"""


@register("scd2_point_in_time_join", _PIT_ORACLE)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators/scd.point_in_time_join): every third
    changelog event, shifted 1µs forward, asks "which dimension version
    was valid at my instant?" against the SCD2 history of the same
    stream. NOT an interval equi-join (that fans every fact out by its
    key's whole version chain) — versions and facts union into ONE
    window pass per key, carrying the latest version's (valid_to, attrs)
    struct forward and nulling carries whose interval closed before the
    fact (deletion gaps). One hash shuffle, zero fan-out."""
    from olake_spark.operators.scd import point_in_time_join, scd2_history

    ch = _events_changelog(spark, sf_dir)
    dim = scd2_history(
        ch, keys=["user_id"], tracked=["value"], order_cols=["lsn", "event_id"]
    )
    facts = (
        ch.filter(F.col("event_id") % 3 == 0)
        .select("user_id", "event_id", (F.col("lsn") + 1).alias("fact_lsn"))
    )
    out = point_in_time_join(
        facts, dim, keys=["user_id"], fact_time="fact_lsn", tracked=["value"]
    )
    return out.select(
        "user_id", "fact_lsn", "event_id",
        F.col("value").alias("dim_value"), "matched",
    )


# ---------------------------------------------------------------------------
# Composed feature-store snapshot: leakage-safe history features + PIT dim
# ---------------------------------------------------------------------------

_FEATURE_SNAPSHOT_ORACLE = f"""
WITH changelog AS (
  SELECT event_id, user_id, value, epoch_us(ts) AS lsn,
         round(value * 1000000)::BIGINT AS vmic,
         {_CDC_OP_SQL} AS op
  FROM events
), hist AS (
  SELECT *,
         count(*) OVER w AS n_seen,
         (sum(vmic) OVER w)::BIGINT AS sum_seen_micros
  FROM changelog
  WINDOW w AS (PARTITION BY user_id ORDER BY lsn, event_id
               ROWS UNBOUNDED PRECEDING)
), facts AS (
  SELECT user_id, event_id, lsn + 1 AS fact_lsn,
         n_seen, sum_seen_micros
  FROM hist WHERE event_id % 3 = 0
), {SCD2_INTERVALS_CTE}
SELECT f.user_id, f.fact_lsn, f.event_id,
       f.n_seen, f.sum_seen_micros,
       d.value AS dim_value,
       (d.user_id IS NOT NULL) AS matched
FROM facts f LEFT JOIN intervals d
  ON d.user_id = f.user_id AND d.op <> 'd'
     AND d.valid_from <= f.fact_lsn
     AND (d.valid_to IS NULL OR f.fact_lsn < d.valid_to)
"""


@register("feature_snapshot_pit", _FEATURE_SNAPSHOT_ORACLE)
def feature_snapshot_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-snapshot export — the feature-store flow end to
    end: (1) leakage-safe history features per entity (cumulative event
    count + exact micro-unit value sum over everything AT OR BEFORE the
    observation — never a future row), (2) the SCD2 dimension version
    valid at each observation instant via the point-in-time join. Window
    features and the PIT carry share the same user_id hash partitioning;
    nothing in the plan can read the future, which is the property that
    makes the exported snapshot trainable. One window pass for features,
    one union+LOCF pass for the dimension."""
    from olake_spark.operators.scd import point_in_time_join, scd2_history

    ch = _events_changelog(spark, sf_dir).withColumn(
        "vmic", F.round(F.col("value") * 1_000_000).cast("long")
    )
    wh = (
        W.partitionBy("user_id")
        .orderBy("lsn", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    hist = ch.select(
        "user_id",
        "event_id",
        "lsn",
        F.count(F.lit(1)).over(wh).alias("n_seen"),
        F.sum("vmic").over(wh).alias("sum_seen_micros"),
    )
    facts = hist.filter(F.col("event_id") % 3 == 0).select(
        "user_id",
        "event_id",
        (F.col("lsn") + 1).alias("fact_lsn"),
        "n_seen",
        "sum_seen_micros",
    )
    dim = scd2_history(
        ch, keys=["user_id"], tracked=["value"], order_cols=["lsn", "event_id"]
    )
    out = point_in_time_join(
        facts, dim, keys=["user_id"], fact_time="fact_lsn", tracked=["value"]
    )
    return out.select(
        "user_id", "fact_lsn", "event_id", "n_seen", "sum_seen_micros",
        F.col("value").alias("dim_value"), "matched",
    )


# ---------------------------------------------------------------------------
# Time-weighted average over SCD2 validity intervals
# ---------------------------------------------------------------------------

_TWA_ORACLE = f"""
WITH changelog AS (
  SELECT event_id, user_id, value, epoch_us(ts) AS lsn,
         {_CDC_OP_SQL} AS op
  FROM events
), bound AS (SELECT max(lsn) AS hi FROM changelog),
{SCD2_INTERVALS_CTE}, spans AS (
  SELECT i.user_id,
         round(i.value * 1000000)::BIGINT AS vm,
         (coalesce(i.valid_to, b.hi) - i.valid_from)::BIGINT AS dur
  FROM intervals i CROSS JOIN bound b
  WHERE i.op <> 'd' AND coalesce(i.valid_to, b.hi) > i.valid_from
)
SELECT user_id,
       sum(dur)::BIGINT AS observed_us,
       round(sum(vm::HUGEINT * dur)::DOUBLE / (sum(dur) * 1000000.0), 6)
         AS time_weighted_avg
FROM spans GROUP BY 1
"""


@register("scd2_time_weighted_avg", _TWA_ORACLE)
def scd2_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each key's tracked value over its SCD2
    validity intervals — the correct "average account balance" when
    versions live for unequal durations (a plain AVG over versions
    over-weights churn-heavy keys). Open intervals clamp to the stream's
    max LSN (lazy 1-row broadcast); weights and values multiply as exact
    BIGINT micro-units and divide once at the end. Zero-width burst
    versions carry zero weight and drop out — the same semantics the
    point-in-time join assigns them."""
    from olake_spark.operators.scd import scd2_history

    ch = _events_changelog(spark, sf_dir)
    hi = ch.agg(F.max("lsn").alias("_hi"))
    dim = scd2_history(
        ch, keys=["user_id"], tracked=["value"], order_cols=["lsn", "event_id"]
    )
    spans = (
        dim.crossJoin(F.broadcast(hi))
        .withColumn("_to", F.coalesce(F.col("valid_to"), F.col("_hi")))
        .filter(F.col("_to") > F.col("valid_from"))
        .select(
            "user_id",
            F.round(F.col("value") * 1_000_000).cast("long").alias("_vm"),
            (F.col("_to") - F.col("valid_from")).cast("long").alias("_dur"),
        )
    )
    # value·duration products overflow BIGINT (1e9 µ-units × 1e13 µs);
    # accumulate in DECIMAL(38,0) — exact, mergeable — divide once at the end
    prod = F.col("_vm").cast("decimal(38,0)") * F.col("_dur")
    return spans.groupBy("user_id").agg(
        F.sum("_dur").alias("observed_us"),
        F.round(
            F.sum(prod).cast("double")
            / (F.sum("_dur") * F.lit(1_000_000.0)),
            6,
        ).alias("time_weighted_avg"),
    )


# ---------------------------------------------------------------------------
# Distributed dense ids + hierarchical share rollup
# ---------------------------------------------------------------------------

_DENSE_IDS_ORACLE = """
SELECT doc_id, n_chars,
       row_number() OVER (ORDER BY n_chars, doc_id) AS row_id
FROM documents
"""


@register("documents_dense_ids", _DENSE_IDS_ORACLE)
def documents_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dense row ids WITHOUT a global sort (operators/ids.py
    dense_ids): range-partition on the order columns (each partition
    owns a contiguous key range), per-partition counts → driver prefix
    offsets (|partitions| tiny rows), then a PARALLEL per-partition
    row_number + offset. The oracle's row_number() OVER (ORDER BY …) is
    the single-partition trap this operator exists to avoid — identical
    output, distributed plan."""
    from olake_spark.operators.ids import dense_ids

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return dense_ids(docs, ["n_chars", "doc_id"], id_col="row_id")


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key
# ---------------------------------------------------------------------------


def _zorder_oracle(bits: int = 16) -> str:
    def q(expr: str, lo: float, hi: float) -> str:
        span = float(hi) - float(lo)
        top = float((1 << bits) - 1)
        return (
            f"floor(least(greatest(({expr}::DOUBLE - {float(lo)!r}) / {span!r} * {top!r},"
            f" 0.0), {top!r}))::BIGINT"
        )

    dims = [q("user_id", 0.0, 2000.0), q('"value"', 0.0, 500.0)]
    terms = []
    for d, v in enumerate(dims):
        for b in range(bits):
            # full parens per term: DuckDB's << binds looser than +, so an
            # unparenthesized sum of shifts chains into nested shifts
            terms.append(f"(((({v}) >> {b}) & 1) << {b * len(dims) + d})")
    z = " + ".join(terms)
    return f"""
    SELECT event_id, ({z})::BIGINT AS z
    FROM events
    """


@register("zorder_key_events", _zorder_oracle())
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column data-skipping layout (sinks/zorder.py zorder_key): the
    Morton interleave of 16-bit quantized (user_id, value) rank codes —
    the key write_zordered range-partitions and sorts on so predicates on
    EITHER column prune parquet row groups. Exact integer bit arithmetic,
    fully codegen'd."""
    from olake_spark.sinks.zorder import quantize_minmax, zorder_key

    ev = table(spark, sf_dir, "events")
    z = zorder_key(
        [
            quantize_minmax(F.col("user_id"), 0.0, 2000.0),
            quantize_minmax(F.col("value"), 0.0, 500.0),
        ]
    )
    return ev.select("event_id", z.alias("z"))


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (operators/incremental_agg.py)
# ---------------------------------------------------------------------------

_HLL_NUM2 = repr(sk.HLL_ALPHA * sk.HLL_M * sk.HLL_M * float(2**sk.RHO_SCALE))

_INC_ROLLUP_ORACLE = f"""
    WITH v AS (
      SELECT event_type, round(value * 1000000)::BIGINT AS vm, user_id
      FROM events
    ),
    basic AS (
      SELECT event_type, count(*)::BIGINT AS n, sum(vm)::BIGINT AS sum_micros,
             min(vm) AS min_micros, max(vm) AS max_micros
      FROM v GROUP BY 1
    ),
    h AS (SELECT event_type, {_SK_H} AS h FROM events),
    r AS (SELECT event_type, h % {sk.HLL_M} AS b, h // {sk.HLL_M} AS rest FROM h),
    rr AS (
      SELECT event_type, b,
             CASE WHEN rest = 0 THEN {sk.RHO_SCALE}
                  ELSE {sk.RHO_SCALE} - length(bin(rest)) END AS rho
      FROM r
    ),
    regs AS (SELECT event_type, b, max(rho) AS m FROM rr GROUP BY 1, 2),
    gridb AS (SELECT unnest(generate_series(0, {sk.HLL_M - 1})) AS b),
    keysd AS (SELECT DISTINCT event_type FROM regs),
    dense AS (
      SELECT k.event_type, g.b, coalesce(regs.m, 0) AS m
      FROM keysd k CROSS JOIN gridb g
      LEFT JOIN regs ON regs.event_type = k.event_type AND regs.b = g.b
    ),
    harm AS (
      SELECT event_type,
             sum((1::BIGINT << ({sk.RHO_SCALE} - m)))::BIGINT AS harmonic_scaled,
             sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_regs
      FROM dense GROUP BY 1
    )
    SELECT b.event_type, n, sum_micros, min_micros, max_micros,
           harmonic_scaled, n_zero_regs,
           round({_HLL_NUM2} / harmonic_scaled::DOUBLE, 4) AS est_distinct
    FROM basic b JOIN harm USING (event_type)
    """


@register("incremental_rollup_merge", _INC_ROLLUP_ORACLE)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup refresh WITHOUT rescanning history
    (operators/incremental_agg.py): events split disjointly (event_id %
    5), each half builds its own mergeable per-key state (count / exact
    micro-unit sum / min / max / HLL registers), the two states MERGE
    (sums + element-wise register max) and finalize. The oracle is the
    FULL recompute over all events - so the gate itself proves
    merge(state(A), state(B)) == state(A | B), the associativity
    contract a 1000-partition ingestion rollup rests on."""
    from olake_spark.operators import incremental_agg as ia

    ev = table(spark, sf_dir, "events").select("event_type", "value", "user_id",
                                               "event_id")
    old = ev.filter(F.col("event_id") % 5 != 0)
    delta = ev.filter(F.col("event_id") % 5 == 0)
    s_old = ia.agg_state(old, ["event_type"], "value", "user_id")
    s_new = ia.agg_state(delta, ["event_type"], "value", "user_id")
    merged = ia.agg_state_merge(s_old.unionByName(s_new), ["event_type"])
    return ia.agg_finalize(merged, ["event_type"])
