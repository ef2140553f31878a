"""Query registry: every implemented operator as a (Spark, DuckDB-oracle) pair.

This is the engine's correctness surface. Each entry is a named operator from
SURVEY.md §2 (or a beyond-parity training-data operator) expressed twice:

- a Spark builder ``(spark, sf_dir) -> DataFrame`` using the engine's
  operators, and
- an ANSI-SQL oracle string executed by DuckDB over the same parquet tables.

Column names are aliased identically on both sides (the driver's comparator
sorts columns by name before hashing). Determinism rules applied throughout:

- no wall-clock columns in compared output (``_olake_timestamp`` is excluded
  from correctness queries; ``entry()`` still stamps it),
- timestamps are compared as epoch-milliseconds or formatted strings (parquet
  ns-precision truncates differently across engines),
- doubles that pass through untouched are compared raw; doubles produced by
  aggregation are rounded to a fixed scale on both sides.

Layout: ``core`` holds the tables, ``register``/``table`` and the driver
window; one module per domain registers its entries on import; ``fragments``
holds the DuckDB SQL shared by several oracles.
"""

from olake_spark.queries import dedup, ingest, multimodal, stats, text, tpch_graph  # noqa: F401
from olake_spark.queries.core import (
    DRIVER_WINDOW,
    DRIVER_WINDOW_SIZE,
    ORACLES,
    QUERIES,
    ordered_oracles,
    ordered_queries,
    register,
    table,
)

__all__ = [
    "DRIVER_WINDOW",
    "DRIVER_WINDOW_SIZE",
    "ORACLES",
    "QUERIES",
    "ordered_oracles",
    "ordered_queries",
    "register",
    "table",
]
