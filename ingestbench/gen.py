"""Seeded input generator for the ingestion benchmark.

Everything the program under test receives is built here from a seed: parquet
file drops for the file source and pgoutput wire bytes for the CDC decoder.
The generator also writes the ground truth each correctness gate compares
against (the changelog with its LSNs, the drop files themselves). Nothing in
this module imports ``olake_spark``; the pgoutput encoder follows the public
PostgreSQL "Logical Replication Message Formats" spec.

Tables follow the repository's sf0.1 fixture (``lineitem`` 600k rows,
``orders`` 150k, ``events`` 100k): the same column names and arrow types
(timestamps are tz-naive microseconds, which Spark reads as TIMESTAMP_NTZ),
the value ranges and distributions measured on the fixture (noted at each
generator), and its file layout: one snappy parquet file per table with one
row group and dictionary encoding.
"""

from __future__ import annotations

import datetime
import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00
D1995_US = 788_918_400_000_000  # 1995-01-01 00:00:00
DAY_US = 86_400_000_000
PG_EPOCH_OFFSET_US = 946_684_800_000_000  # Unix epoch -> 2000-01-01
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
TS_TYPE = pa.timestamp("us")
_EPOCH = datetime.datetime(1970, 1, 1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(TS_TYPE)


def write_table(table: pa.Table, path: str) -> None:
    """One parquet file with one row group, laid out as the fixture's files."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=table.num_rows or None, compression="snappy")


# -- tables -------------------------------------------------------------------

def orders_and_lineitem(rng: np.random.Generator, n_orders: int) -> tuple[pa.Table, pa.Table]:
    """As in the fixture: keys from 0, every other column drawn uniformly and
    independently (lines pick their order key at random, so an order has
    Poisson(4) lines and ``(l_orderkey, l_linenumber)`` repeats), dates at
    midnight, prices with two decimals."""
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_orders // 10, n_orders),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_orders), 2),
        "o_orderdate": _ts(D1995_US + rng.integers(0, 2405, n_orders) * DAY_US),
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_orders
        ),
    })
    n_lines = 4 * n_orders
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, 20_000, n_lines),
        "l_suppkey": rng.integers(0, 1_000, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n_lines),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_lines),
        "l_shipdate": _ts(D1995_US + rng.integers(1, 2500, n_lines) * DAY_US),
    })
    return orders, lineitem


def event_values(rng: np.random.Generator, n: int) -> np.ndarray:
    """``value`` as in the fixture: exponential with mean 50, two decimals."""
    return np.round(rng.exponential(50.0, n), 2)


def events(rng: np.random.Generator, ids: np.ndarray, ts_us: np.ndarray) -> pa.Table:
    """As in the fixture: ``user_id`` uniform in [0, 1500), five event types
    uniformly, ``props`` a JSON object with ``k`` uniform in [0, 100)."""
    n = len(ids)
    return pa.table({
        "event_id": ids.astype(np.int64),
        "ts": _ts(ts_us),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": event_values(rng, n),
        "props": np.char.add('{"k": ', np.char.add(rng.integers(0, 100, n).astype(str), "}")),
    })


def _sorted_ts(rng: np.random.Generator, n: int, lo_us: int, hi_us: int) -> np.ndarray:
    """n strictly increasing micro timestamps in (lo_us, hi_us]; the fixture's
    ``ts`` rises with ``event_id`` over January 2024."""
    step = (hi_us - lo_us) // n
    return lo_us + 1 + np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)


# -- backfill -----------------------------------------------------------------

BACKFILL_STREAMS = {
    # stream -> primary key, as a user's catalog would declare it
    "events": ["event_id"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
}


def backfill_inputs(seed: int, src: str, n_orders: int = 150_000,
                    n_events: int = 100_000) -> dict[str, int]:
    """Three file streams, ``src/<stream>/data.parquet``; returns rows per stream."""
    rng = np.random.default_rng(seed)
    orders, lineitem = orders_and_lineitem(rng, n_orders)
    ev = events(rng, np.arange(n_events), _sorted_ts(rng, n_events, T0_US, T0_US + 30 * DAY_US))
    tables = {"events": ev, "lineitem": lineitem, "orders": orders}
    for name, t in tables.items():
        write_table(t, os.path.join(src, name, "data.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# -- pgoutput wire encoding (PostgreSQL protocol docs) ------------------------

EVENTS_OID = 16_384
EVENTS_COLUMNS = [("event_id", 20), ("ts", 1114), ("user_id", 20),
                  ("event_type", 25), ("value", 701), ("props", 25)]


def _pg_us(unix_us: int) -> int:
    return unix_us - PG_EPOCH_OFFSET_US


def pg_relation(oid: int, ns: str, name: str, cols: list[tuple[str, int]]) -> bytes:
    out = b"R" + struct.pack(">I", oid) + ns.encode() + b"\0" + name.encode() + b"\0"
    out += b"d" + struct.pack(">H", len(cols))
    for i, (cname, typoid) in enumerate(cols):
        flags = 1 if i == 0 else 0  # column 0 is the replica-identity key
        out += struct.pack(">B", flags) + cname.encode() + b"\0" + struct.pack(">Ii", typoid, -1)
    return out


def pg_begin(lsn: int, unix_us: int, xid: int) -> bytes:
    return b"B" + struct.pack(">QqI", lsn, _pg_us(unix_us), xid)


def pg_commit(lsn: int, unix_us: int) -> bytes:
    return b"C" + struct.pack(">BQQq", 0, lsn, lsn + 1, _pg_us(unix_us))


def pg_tuple(values: list[str | None]) -> bytes:
    out = [struct.pack(">H", len(values))]
    for v in values:
        if v is None:
            out.append(b"n")
        else:
            b = v.encode()
            out.append(b"t" + struct.pack(">I", len(b)) + b)
    return b"".join(out)


def pg_row(tag: bytes, oid: int, values: list[str | None]) -> bytes:
    """Insert/Update carry a new tuple ('N'); Delete carries the key ('K')."""
    part = b"K" if tag == b"D" else b"N"
    return tag + struct.pack(">I", oid) + part + pg_tuple(values)


def _pg_ts_text(unix_us: int) -> str:
    """Postgres text output of a ``timestamp`` value."""
    return (_EPOCH + datetime.timedelta(microseconds=unix_us)).isoformat(" ")


# -- cdc_mor ------------------------------------------------------------------

@dataclass
class CdcInputs:
    base_dir: str           # parquet snapshot the table starts from (lsn 0)
    batch_paths: list[str]  # one parquet file of wire bytes per LSN batch
    batch_max_lsn: list[int]
    batch_rows: list[int]   # row events (I/U/D) per batch
    changelog: str          # ground truth: every row version with op + lsn


def cdc_inputs(seed: int, out: str, n_base: int = 100_000, n_batches: int = 30,
               rows_per_batch: int = 3_000) -> CdcInputs:
    """A seeded changelog over ``events`` cut into LSN-ordered pgoutput batches.

    Transactions hold 1-6 row events on distinct keys; the op mix is about
    30% insert, 55% update, 15% delete over the live key set. The seed picks
    the mix, keys, values and transaction cuts; every batch holds exactly
    ``rows_per_batch`` row events, so runs on different seeds do the same
    amount of work; with the Begin/Commit pair of each transaction, 3,000 row
    events are about 5,000 wire messages. Each batch file opens with the
    Relation message, as a bounded read from one slot does.
    """
    rng = np.random.default_rng(seed + 1)
    base_ts = _sorted_ts(rng, n_base, T0_US, T0_US + 30 * DAY_US)
    base = events(rng, np.arange(n_base), base_ts)
    os.makedirs(out, exist_ok=True)
    res = CdcInputs(os.path.join(out, "base"), [], [], [], os.path.join(out, "changelog.parquet"))
    write_table(base, os.path.join(res.base_dir, "data.parquet"))

    live = list(range(n_base))  # swap-remove list + position index
    pos = {k: i for i, k in enumerate(live)}
    next_id, lsn, xid, now_us = n_base, 1_000_000, 5_000, T0_US + 31 * DAY_US
    rel = pg_relation(EVENTS_OID, "public", "events", EVENTS_COLUMNS)
    log: list[tuple] = []  # (event_id, ts_us, user_id, event_type, value, props, op, lsn)
    for b in range(n_batches):
        target = rows_per_batch
        m = target + 6
        # random draws for the whole batch up front, consumed row by row
        op_r, pick = rng.random(m).tolist(), rng.random(m).tolist()
        uid = rng.integers(0, 1500, m).tolist()
        etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), m)].tolist()
        value = event_values(rng, m).tolist()
        props = rng.integers(0, 100, m).tolist()
        lag = rng.integers(0, 1_000_000, m).tolist()
        tx_size = rng.integers(1, 7, m).tolist()
        lsn_step = rng.integers(40, 400, m).tolist()
        us_step = rng.integers(1_000, 50_000, m).tolist()
        msgs = [rel]
        i = tx = 0
        while i < target:
            lsn += lsn_step[tx]
            xid += 1
            now_us += us_step[tx]
            msgs.append(pg_begin(lsn, now_us, xid))
            touched: set[int] = set()
            for _ in range(min(tx_size[tx], target - i)):
                r = op_r[i]
                if r < 0.30:
                    op, key = "c", next_id
                    next_id += 1
                else:
                    key = live[int(pick[i] * len(live))]
                    if key in touched:
                        continue
                    op = "u" if r < 0.85 else "d"
                touched.add(key)
                if op == "d":
                    j = pos.pop(key)
                    last = live.pop()
                    if last != key:
                        live[j], pos[last] = last, j
                    msgs.append(pg_row(b"D", EVENTS_OID, [str(key), None, None, None, None, None]))
                    log.append((key, None, None, None, None, None, op, lsn))
                else:
                    if op == "c":
                        pos[key] = len(live)
                        live.append(key)
                    ts_us = now_us - lag[i]
                    row = (key, ts_us, uid[i], etype[i], value[i], f'{{"k": {props[i]}}}')
                    text = [str(key), _pg_ts_text(ts_us), str(uid[i]), etype[i], repr(value[i]),
                            row[5]]
                    msgs.append(pg_row(b"I" if op == "c" else b"U", EVENTS_OID, text))
                    log.append((*row, op, lsn))
                i += 1
            tx += 1
            msgs.append(pg_commit(lsn, now_us))
        path = os.path.join(out, f"batch-{b:04d}.parquet")
        pq.write_table(pa.table({"value": pa.array(msgs, type=pa.binary())}), path,
                       use_dictionary=False)
        res.batch_paths.append(path)
        res.batch_max_lsn.append(lsn)
        res.batch_rows.append(i)
    names = ["event_id", "ts_us", "user_id", "event_type", "value", "props", "op", "lsn"]
    types = [pa.int64(), pa.int64(), pa.int64(), pa.string(), pa.float64(), pa.string(),
             pa.string(), pa.int64()]
    changes = pa.table([pa.array(col, t) for col, t in zip(zip(*log), types)], names=names)
    base_rows = pa.table({
        "event_id": base["event_id"], "ts_us": pa.array(base_ts), "user_id": base["user_id"],
        "event_type": base["event_type"], "value": base["value"], "props": base["props"],
        "op": pa.array(["r"] * n_base), "lsn": pa.array(np.zeros(n_base, dtype=np.int64)),
    })
    pq.write_table(pa.concat_tables([base_rows, changes]), res.changelog)
    return res


# -- incremental_sync -----------------------------------------------------------

@dataclass
class IncrementalInputs:
    base: str              # first drop: synced by a full load before the rounds
    drops: list[str]       # staged drops, moved into the source one per round
    drop_rows: list[int]


def incremental_inputs(seed: int, out: str, n_base: int = 80_000, n_rounds: int = 24,
                       new_rows: int = 2_000, reemit_share: float = 0.25) -> IncrementalInputs:
    """Drop files for ``events``. Drop r holds ``new_rows`` fresh ids plus a
    seeded share of earlier ids re-emitted with a changed value; every row of
    drop r has a ``ts`` above every row of the drops before it, so the cursor
    filter passes exactly the new drop."""
    rng = np.random.default_rng(seed + 2)
    hi = T0_US + 30 * DAY_US
    base = events(rng, np.arange(n_base), _sorted_ts(rng, n_base, T0_US, hi))
    os.makedirs(out, exist_ok=True)
    res = IncrementalInputs(os.path.join(out, "drop-base.parquet"), [], [])
    write_table(base, res.base)
    next_id = n_base
    for r in range(n_rounds):
        n_re = int(new_rows * reemit_share)
        re_ids = rng.choice(next_id, size=n_re, replace=False)
        ids = np.concatenate([np.arange(next_id, next_id + new_rows), re_ids])
        next_id += new_rows
        lo, hi = hi, hi + DAY_US
        ts = _sorted_ts(rng, len(ids), lo, hi)
        rng.shuffle(ts)
        drop = events(rng, ids, ts)
        path = os.path.join(out, f"drop-{r:04d}.parquet")
        write_table(drop, path)
        res.drops.append(path)
        res.drop_rows.append(drop.num_rows)
    return res
