"""Hybrid execution: finish a small working relation on the driver with a
numpy mirror of the operator's exact recurrence, else fall back to the
operator's unchanged distributed dataflow.

The contract (one bounded Arrow collect with declared proof obligations,
key tuples as Python values of each key's Spark type, a schema-pinned
``createDataFrame(pdf, schema)`` return, one ``olake_spark.hybrid`` log
record per call) and the operators using it are in README "Hybrid
execution".
"""

from __future__ import annotations

import logging
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

__all__ = ["Collected", "Fallback", "collect", "run"]

log = logging.getLogger(__name__)


class Fallback(Exception):
    """Hand the call to the distributed path; the message is the reason."""


class Collected:
    """One collected relation: ``pdf`` for the numeric work, ``table`` (the
    Arrow original) for exact key values."""

    def __init__(self, table) -> None:
        self.table = table
        # timestamps as objects: datetime64[ns] would overflow outside
        # 1677-2262 and drop the microsecond-exact Spark value
        self.pdf = table.to_pandas(timestamp_as_object=True)

    def __len__(self) -> int:
        return self.table.num_rows

    def groups(self, keys: Sequence[str]) -> Iterator[tuple[tuple, pd.DataFrame]]:
        """(key tuple, rows) per distinct key combination, NULL a real key.
        No keys → one ``((), pdf)`` pair, even for an empty relation.
        Floating keys fall back: Spark groups NaN with NaN and -0.0 with
        0.0, which Arrow's hash grouping does not."""
        if not keys:
            yield (), self.pdf
            return
        import pyarrow as pa

        keys = list(keys)
        for k in keys:
            if pa.types.is_floating(self.table.schema.field(k).type):
                raise Fallback(f"floating group key {k}")
        g = (
            self.table.select(keys)
            .append_column("_rows", pa.array(np.arange(len(self))))
            .group_by(keys, use_threads=False)
            .aggregate([("_rows", "list")])
        )
        idx = g.column("_rows_list").combine_chunks()
        for i, key in enumerate(g.select(keys).to_pylist()):
            yield tuple(key.values()), self.pdf.iloc[idx[i].values.to_numpy()]


def collect(
    df: DataFrame,
    cap: int,
    *,
    non_null: Sequence[str] = (),
    integer: Sequence[str] = (),
    max_rows: int | None = None,
) -> Collected:
    """Arrow-collect ``df`` if it has at most ``min(cap, max_rows)`` rows and
    meets the declared obligations; raise :class:`Fallback` otherwise.
    ``max_rows`` is a mirror's own headroom bound, independent of ``cap``."""
    if cap <= 0:
        raise Fallback("driver_collect_max <= 0")
    bound = cap if max_rows is None else min(cap, max_rows)
    got = Collected(df.limit(bound + 1).toArrow())
    if len(got) > bound:
        raise Fallback(f"more than {bound} rows")
    for c in non_null:
        if got.pdf[c].isna().any():
            raise Fallback(f"NULL in non-null column {c}")
    for c in integer:
        if not np.issubdtype(got.pdf[c].dtype, np.integer):
            raise Fallback(f"integer column {c} arrived as {got.pdf[c].dtype}")
    return got


def run(
    op: str,
    df: DataFrame,
    cap: int,
    driver: Callable[[Collected], object],
    schema: str,
    **obligations,
) -> DataFrame | None:
    """``driver(collect(df, cap, **obligations))`` as a DataFrame of the DDL
    ``schema``, or ``None`` when the collect or the driver raised
    :class:`Fallback`. ``driver`` returns a pandas frame or a list of rows
    in schema order (rows keep their Python values: object columns, no
    int→float promotion)."""
    try:
        got = collect(df, cap, **obligations)
        out = driver(got)
    except Fallback as fb:
        log.info("op=%s path=distributed reason=%s", op, fb)
        return None
    struct = StructType.fromDDL(schema)
    if not isinstance(out, pd.DataFrame):
        out = pd.DataFrame(list(out), columns=struct.names, dtype=object)
    log.info("op=%s path=driver reason=%d rows <= cap %d", op, len(got), cap)
    return df.sparkSession.createDataFrame(out, struct)
