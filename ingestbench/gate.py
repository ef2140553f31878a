"""Correctness gate: the destination against the generator's ground truth.

Expected results are computed with DuckDB straight from the generated files,
never through ``olake_spark``. Each check returns ``None`` when the destination
is right and a one-line description of the first difference otherwise.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _canonical(con, relation: str) -> list[str]:
    """Column expressions that read the same on both sides: timestamps as
    epoch micros (whatever physical type the writer chose), everything else
    cast to its source type."""
    out = []
    for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall():
        if typ.startswith("TIMESTAMP"):
            out.append(f"epoch_us({name})")
        else:
            out.append(f"CAST({name} AS {typ})")
    return out


def backfill_stream(src_dir: str, dest_files: list[str]) -> str | None:
    """Row count plus an order-insensitive checksum of the source columns."""
    con = _connect()
    src = f"read_parquet('{src_dir}/*.parquet')"
    cols = _canonical(con, src)
    names = [n for n, *_ in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    dst = "read_parquet([" + ", ".join(f"'{f}'" for f in dest_files) + "])"
    h = f"hash({', '.join(cols)})"
    q = "SELECT count(*), sum({h} % 1000000007), bit_xor({h}) FROM {rel}"
    want = con.execute(q.format(h=h, rel=src)).fetchone()
    dst_names = {n for n, *_ in con.execute(f"DESCRIBE SELECT * FROM {dst}").fetchall()}
    missing = [n for n in names if n not in dst_names]
    if missing:
        return f"destination lacks columns {missing}"
    got = con.execute(q.format(h=h, rel=dst)).fetchone()
    if got != want:
        return f"(rows, sum, xor) = {got}, expected {want}"
    return None


def _diff(con, actual: str, expected: str) -> str | None:
    con.execute(f"CREATE TEMP TABLE act AS {actual}")
    con.execute(f"CREATE TEMP TABLE exp AS {expected}")

    def count(sql: str) -> int:
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    n_act, n_exp = count("FROM act"), count("FROM exp")
    extra = count("FROM act EXCEPT ALL FROM exp")
    lost = count("FROM exp EXCEPT ALL FROM act")
    if n_act != n_exp or extra or lost:
        return f"{n_act} rows vs {n_exp} expected; {extra} unexpected, {lost} missing"
    return None


def cdc_snapshot(changelog: str, applied_lsn: int, snapshot: pa.Table) -> str | None:
    """The snapshot equals the latest version per key of the changes up to
    ``applied_lsn``, deletes dropped."""
    con = _connect()
    con.register("snap", snapshot)
    expected = f"""
        SELECT event_id, ts_us, user_id, event_type, value, props FROM (
          SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY lsn DESC) AS rn
          FROM read_parquet('{changelog}') WHERE lsn <= {applied_lsn})
        WHERE rn = 1 AND op <> 'd'"""
    actual = "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM snap"
    return _diff(con, actual, expected)


def incremental_snapshot(drops: list[str], snapshot: pa.Table) -> str | None:
    """The table equals the latest row (by ``ts``) per ``_olake_id``."""
    con = _connect()
    con.register("snap", snapshot)
    files = "[" + ", ".join(f"'{f}'" for f in drops) + "]"
    expected = f"""
        SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
               CAST(event_id AS VARCHAR) AS olake_id FROM (
          SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
          FROM read_parquet({files}))
        WHERE rn = 1"""
    actual = ("SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props, "
              "_olake_id AS olake_id FROM snap")
    return _diff(con, actual, expected)
