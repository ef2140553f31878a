"""SparkSession factory tuned for the olake_spark engine.

Defaults target local[N] testing but every knob is chosen to survive a
multi-executor cluster at 100 TB:

- AQE on (runtime coalesce, skew-join splitting) so shuffle partition counts
  self-correct at scale.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE coalesces from an intentionally-high initial number.
- Arrow enabled for every pandas-UDF boundary (the dedup/similarity operators
  use vectorized UDFs only off the hot path).
- UTC session timezone — the reference normalizes all timestamps to UTC
  (see /root/reference/utils/typeutils/reformat.go timestamp handling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def _default_driver_mem() -> str:
    """48g, or half of physical memory on a smaller host: a driver heap
    larger than the host lets one session grow until the kernel kills it."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(48 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "olake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local mode honors ``SPARK_GRAFT_CPUS`` (driver contract) for parallelism.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # sources may carry ns-precision timestamps (parquet TIMESTAMP(NANOS));
        # read them as epoch-nanos longs and normalize at the scan layer
        # (the reference collapses all four precisions to one sink type,
        # types/data_types.go:116-133 — we collapse to Spark micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # target ~128MiB input splits; at 100 TB this yields ~800k tasks which
        # a 1000-executor cluster drains comfortably; locally it just works.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # v2 task-commit: rename task output directly into place (one less
        # sequential job-commit rename pass). Transactional sinks don't
        # rely on FS-rename atomicity anyway — ManagedTable publishes via
        # its manifest link and Iceberg via its own catalog commit — and
        # the measured matrix (FULLLOAD_TUNE.json) has v2 ahead of the v1
        # default in every run
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", os.environ.get("OLAKE_SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("OLAKE_DRIVER_MEM", _default_driver_mem()))
        # InferFiltersFromGenerate duplicates the generator's input
        # expression into a `size(e) > 0` pre-filter that predicate
        # pushdown then sinks below repartitions — for our decode
        # pipelines (explode over from_json(to_json(...)) CDC messages)
        # that re-evaluates the ENTIRE render+parse, serially, in the
        # scan stage (measured: wal2json_decode 1.63s -> 0.24s with the
        # rule excluded; plan went from 3 from_json evaluations to 1).
        # Spark's own guard against inferring over JsonToStructs
        # (SPARK-33544) no longer matches in Spark 4 because from_json
        # is Invoke-based now. The rule only ever adds redundant
        # filters, so excluding it cannot change results — and at 100 TB
        # the duplicated parse would double the decode family's CPU.
        # Escape hatch: OLAKE_KEEP_INFER_FILTERS=1 restores the stock
        # rule set (used for A/B measurement).
        .config(
            "spark.sql.optimizer.excludedRules",
            ""
            if os.environ.get("OLAKE_KEEP_INFER_FILTERS") == "1"
            else "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
