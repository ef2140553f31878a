"""SyncStats observation counters."""

from __future__ import annotations

from pyspark.sql import functions as F

from olake_spark.stats import SyncStats


def test_observe_counts_without_extra_actions(spark, tmp_path):
    stats = SyncStats()
    df = spark.range(1000).withColumn("v", F.col("id") % 10)
    df = stats.observe(df, "read")
    df = df.filter(F.col("v") < 3)
    df = stats.observe(df, "written")
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))  # ONE action
    rep = stats.report()
    assert rep["records_read"] == 1000
    assert rep["records_written"] == 300
    assert rep["records_filtered"] == 700
    assert rep["elapsed_sec"] >= 0


def test_report_skips_unrun_points(spark):
    stats = SyncStats()
    stats.observe(spark.range(5), "read")  # never executed
    rep = stats.report()
    assert "records_read" not in rep

