"""Schema evolution on ManagedTable append — widen/add/LCA semantics.

Reference: destination/iceberg/iceberg.go:42-57 (valid transitions int→long,
float→double), iceberg.go:295-518 (batch-vs-table diff → EVOLVE_SCHEMA),
IcebergTableOperator.java:112-130 (applyFieldAddition).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olake_spark.sinks.table import ManagedTable
from olake_spark.typesys.lattice import merge_spark_schemas


@pytest.fixture
def tbl(spark, tmp_path):
    return ManagedTable(spark, str(tmp_path / "t"))


def test_int_to_long_widen(spark, tbl):
    tbl.append(spark.createDataFrame([(1, 10)], "k int, v int"))
    tbl.append(spark.createDataFrame([(2, 2**40)], "k int, v long"))
    df = tbl.read()
    assert dict(df.dtypes)["v"] == "bigint"
    assert {r["v"] for r in df.collect()} == {10, 2**40}


def test_new_column_null_filled(spark, tbl):
    tbl.append(spark.createDataFrame([(1,)], "k int"))
    tbl.append(spark.createDataFrame([(2, "x")], "k int, extra string"))
    rows = {r["k"]: r["extra"] for r in tbl.read().collect()}
    assert rows == {1: None, 2: "x"}


def test_float_to_double_widen(spark, tbl):
    tbl.append(
        spark.createDataFrame(
            [(1.5,)], T.StructType([T.StructField("v", T.FloatType())])
        )
    )
    tbl.append(spark.createDataFrame([(2.5,)], "v double"))
    df = tbl.read()
    assert dict(df.dtypes)["v"] == "double"
    assert {r["v"] for r in df.collect()} == {1.5, 2.5}


def test_conflict_folds_to_string(spark, tbl):
    # int vs timestamp has no numeric LCA — the lattice root is string
    tbl.append(spark.createDataFrame([(1, 5)], "k int, v int"))
    tbl.append(
        spark.createDataFrame([(2, "2024-01-01")], "k int, v string")
    )
    df = tbl.read()
    assert dict(df.dtypes)["v"] == "string"
    assert {r["v"] for r in df.collect()} == {"5", "2024-01-01"}


def test_same_schema_append_keeps_flat_manifest(spark, tbl):
    df = spark.createDataFrame([(1,)], "k int")
    tbl.append(df)
    tbl.append(spark.createDataFrame([(2,)], "k int"))
    assert {r["k"] for r in tbl.read().collect()} == {1, 2}


def test_nullability_is_no_type_conflict(spark, tbl):
    """Two appends whose array column differs only in element
    nullability keep the array type; it is not widened to string."""
    tbl.append(spark.range(1).select(F.array(F.lit(1)).alias("a")))
    tbl.append(spark.range(1).select(F.array(F.lit(None).cast("int")).alias("a")))
    df = tbl.read()
    assert dict(df.dtypes)["a"] == "array<int>"
    assert {tuple(r["a"]) for r in df.collect()} == {(1,), (None,)}


def test_merge_schemas_is_order_stable(spark):
    a = T.StructType([T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())])
    b = T.StructType([T.StructField("z", T.DoubleType()), T.StructField("x", T.LongType())])
    m = merge_spark_schemas(a, b)
    assert [f.name for f in m.fields] == ["x", "y", "z"]
    assert isinstance(m["x"].dataType, T.LongType)


def test_properties_survive_evolution(spark, tbl):
    tbl.append(spark.createDataFrame([(1,)], "k int"), properties={"cursor": "5"})
    tbl.append(spark.createDataFrame([(2, "x")], "k int, e string"), properties={"lsn": "9"})
    assert tbl.properties() == {"cursor": "5", "lsn": "9"}
