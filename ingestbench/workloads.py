"""The three ingestion workloads.

Each workload generates its inputs from the seed, then repeats a *unit* of
work in the timed loop; the runner fixes the number of units from the run's
seconds and the workload's ``nominal_unit_s``, so every run times the same
units. The initial load of a destination happens off the
clock in ``prepare``; work that closes the run (``cdc_mor``'s compaction)
happens off the clock in ``after_loop``.

The program is driven only through its public API, always looked up through
the module (``sync.run_sync``, not a copied reference) so the traced run's
wrappers see every call.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import cpuclock
import gate
import gen
from pyspark.sql import functions as F

from olake_spark import sync
from olake_spark.plans.stream import SyncMode
from olake_spark.sinks.table import ManagedTable
from olake_spark.sources import discover
from olake_spark.streaming import pgoutput, replay

LAST_LSN_PROP = "olake.cdc.last_lsn"
cpu_s = cpuclock.CpuClock()


@dataclass
class Meter:
    """What the timed loop observed: CPU time (``cpu_s``) per commit and per
    read, which the metrics are built from, and the same in wall time."""

    commit_cpu: list[float] = field(default_factory=list)
    read_cpu: list[float] = field(default_factory=list)
    rate_cpu: list[float] = field(default_factory=list)  # rows committed / their CPU, per unit
    commit_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    unit_s: list[float] = field(default_factory=list)
    rate: list[float] = field(default_factory=list)  # rows committed / their wall, per unit
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one commit (or gate check); a wrong one is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def read_manifest(table_dir: str, version: int | None = None) -> tuple[dict, float]:
    """A table's manifest (default: the newest) and its mtime, the commit time.

    Read straight from the files (``_commits/v<version>.json``) so checks and
    counters do not go through the program's own reader."""
    commits = os.path.join(table_dir, "_commits")
    if version is None:
        name = max(f for f in os.listdir(commits) if f.startswith("v") and f.endswith(".json"))
    else:
        name = f"v{version:012d}.json"
    path = os.path.join(commits, name)
    with open(path) as fh:
        return json.load(fh), os.stat(path).st_mtime_ns / 1e9


def reader_query(spark, table_dir: str, meter: Meter) -> None:
    """The fixed reader query on the latest snapshot, metered."""
    c0, t0 = cpu_s(), time.perf_counter()
    (
        ManagedTable(spark, table_dir).read()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"), F.max("ts").alias("mx"))
        .collect()
    )
    meter.read_s.append(time.perf_counter() - t0)
    meter.read_cpu.append(cpu_s() - c0)


class Workload:
    name = ""
    warm_units = 1
    # wall of one timed unit on a 4-vCPU VM (two Spark task slots); the
    # runner times seconds / nominal_unit_s units
    nominal_unit_s = 1.0

    def __init__(self, work: str):
        """Subclasses take ``(work, seed)`` and generate their inputs there;
        ``spark`` is attached once the session is up."""
        self.spark = None
        self.work = work
        self.live_rows = 0  # rows in the destination after ``finish``

    def has_next(self) -> bool:
        """False once the generated inputs are used up."""
        return True

    def warm_up(self, meter: Meter) -> None:
        """Untimed units at full size, so the JIT and the codegen caches are
        warm for every plan the timed units run."""
        for _ in range(self.warm_units):
            self.prepare(meter)
            self.unit(meter)

    def prepare(self, meter: Meter) -> None:
        """Off-clock set-up before each unit."""

    def unit(self, meter: Meter) -> None:
        raise NotImplementedError

    def after_loop(self, meter: Meter) -> None:
        """Off-clock work that closes the run, after the timed window."""

    def finish(self, meter: Meter) -> None:
        """Off-clock correctness gate on the last unit's destination."""

    def table_dirs(self) -> list[str]:
        """Destination tables of the last unit (for stored bytes per row)."""
        raise NotImplementedError


class Backfill(Workload):
    """Full-refresh ``run_sync`` of three file streams (850k rows)."""

    name = "backfill"
    # one untimed unit: it takes about twice as long as the later ones; the
    # first timed unit is still ~20% slower, which the medians absorb
    warm_units = 1
    nominal_unit_s = 5.2

    def __init__(self, work, seed):
        super().__init__(work)
        self.src = os.path.join(work, "src")
        self.dest = os.path.join(work, "dest")
        self.state = os.path.join(work, "state.json")
        self.expected = gen.backfill_inputs(seed, self.src)

    def unit(self, meter: Meter) -> None:
        c0, t0, p0 = cpu_s(), time.time(), time.perf_counter()
        cat = discover.discover_directory(self.spark, self.src)
        for cs in cat.streams:
            cs.stream.sync_mode = SyncMode.FULL_REFRESH.value
            cs.stream.source_defined_primary_key = gen.BACKFILL_STREAMS[cs.stream.name]
        results = sync.run_sync(self.spark, cat, self.src, self.dest, self.state)
        sync_cpu, sync_s = cpu_s() - c0, time.perf_counter() - p0
        rows = 0
        for r in results:
            _, mtime = read_manifest(os.path.join(self.dest, r.stream))
            meter.commit_s.append(mtime - t0)
            meter.check(r.rows == self.expected[r.stream],
                        f"{r.stream}: wrote {r.rows} rows, expected {self.expected[r.stream]}")
            rows += r.rows
        meter.rows += rows
        # one run_sync lands the three streams: its CPU is the unit's one
        # commit sample; throughput is the sync's alone, and the reader query
        # that follows is the backfilled table's first read
        meter.commit_cpu.append(sync_cpu)
        meter.rate_cpu.append(rows / sync_cpu)
        meter.rate.append(rows / sync_s)
        reader_query(self.spark, os.path.join(self.dest, "events"), meter)

    def finish(self, meter: Meter) -> None:
        for stream in self.expected:
            files = read_manifest(os.path.join(self.dest, stream))[0]["files"]
            err = gate.backfill_stream(os.path.join(self.src, stream), files)
            meter.check(err is None, f"gate {stream}: {err}")
        self.live_rows = sum(self.expected.values())

    def table_dirs(self) -> list[str]:
        return [os.path.join(self.dest, s) for s in self.expected]


class CdcMor(Workload):
    """pgoutput batches decoded and applied merge-on-read, then one compact.

    The table loads the base snapshot once; each unit decodes the next LSN
    batch, applies it as a delta and runs the reader query on the new
    snapshot. Deltas pile up for the whole run, warm-up included, so every
    read resolves one more of them than the read before; ``compact()`` runs
    once, after the timed window."""

    name = "cdc_mor"
    # two untimed batches: after one, commits still fell by a third over
    # the next six; what trend remains is the same in every run, since
    # every run times the same batches
    warm_units = 2
    nominal_unit_s = 2.9

    def __init__(self, work, seed):
        super().__init__(work)
        self.inputs = gen.cdc_inputs(seed, os.path.join(work, "cdc"))
        self.table_dir = os.path.join(work, "table")
        self.next_batch = 0
        self.pre_compact_version = -1

    def has_next(self) -> bool:
        return self.next_batch < len(self.inputs.batch_paths)

    def _typed(self, decoded):
        d = F.col("data")
        return decoded.select(
            d["event_id"].cast("bigint").alias("event_id"),
            d["ts"].cast("timestamp_ntz").alias("ts"),
            d["user_id"].cast("bigint").alias("user_id"),
            d["event_type"].alias("event_type"),
            d["value"].cast("double").alias("value"),
            d["props"].alias("props"),
            F.when(F.col("op") == "update", "u")
            .when(F.col("op") == "delete", "d")
            .otherwise("c").alias("_op_type"),
            F.col("lsn"),
            F.col("commit_ts").alias("_cdc_timestamp"),
        )

    def prepare(self, meter: Meter) -> None:
        if os.path.isdir(self.table_dir):
            return
        base = (
            self.spark.read.parquet(self.inputs.base_dir)
            .withColumn("_op_type", F.lit("r"))
            .withColumn("lsn", F.lit(0).cast("bigint"))
            .withColumn("_cdc_timestamp", F.lit(None).cast("timestamp"))
        )
        replay.replay_batches(ManagedTable(self.spark, self.table_dir), [base],
                              ["event_id"], "lsn", mor=True)

    def unit(self, meter: Meter) -> None:
        p0 = time.perf_counter()
        b = self.next_batch
        self.next_batch += 1
        path, max_lsn = self.inputs.batch_paths[b], self.inputs.batch_max_lsn[b]
        c0, t_avail = cpu_s(), time.time()
        changes = self._typed(pgoutput.decode_pgoutput_df(self.spark.read.parquet(path)))
        replay.replay_batches(ManagedTable(self.spark, self.table_dir), [changes],
                              ["event_id"], "lsn", mor=True)
        manifest, mtime = read_manifest(self.table_dir)
        meter.commit_cpu.append(cpu_s() - c0)
        meter.commit_s.append(mtime - t_avail)
        got = manifest["properties"].get(LAST_LSN_PROP)
        meter.check(got is not None and int(got) == max_lsn,
                    f"batch {b}: committed lsn {got}, expected {max_lsn}")
        meter.rows += self.inputs.batch_rows[b]
        reader_query(self.spark, self.table_dir, meter)
        meter.rate_cpu.append(self.inputs.batch_rows[b] / (cpu_s() - c0))
        meter.rate.append(self.inputs.batch_rows[b] / (time.perf_counter() - p0))

    def after_loop(self, meter: Meter) -> None:
        self.pre_compact_version = read_manifest(self.table_dir)[0]["version"]
        ManagedTable(self.spark, self.table_dir).compact()

    def finish(self, meter: Meter) -> None:
        table = ManagedTable(self.spark, self.table_dir)
        applied = self.inputs.batch_max_lsn[self.next_batch - 1]
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        for label, version in (("before compact", self.pre_compact_version),
                               ("after compact", None)):
            snap = table.read(version).select(*cols).toArrow()
            err = gate.cdc_snapshot(self.inputs.changelog, applied, snap)
            meter.check(err is None, f"gate {label}: {err}")
        self.live_rows = snap.num_rows
        # retention as a deployment would run it: the stored bytes then cover
        # the compacted snapshot and the last merge-on-read one before it
        table.expire_snapshots(keep_last=2)

    def table_dirs(self) -> list[str]:
        return [self.table_dir]


class IncrementalSync(Workload):
    """File drops, each followed by an incremental (cursor + COW upsert) sync.

    The first drop is synced once as the initial load; each unit moves the
    next drop into the source, re-discovers, syncs and runs the reader query."""

    name = "incremental_sync"
    nominal_unit_s = 1.6

    def __init__(self, work, seed):
        super().__init__(work)
        self.inputs = gen.incremental_inputs(seed, os.path.join(work, "drops"))
        self.src = os.path.join(work, "src")
        self.dest = os.path.join(work, "dest")
        self.state = os.path.join(work, "state.json")
        self.next_drop = 0

    def has_next(self) -> bool:
        return self.next_drop < len(self.inputs.drops)

    def _sync(self):
        cat = discover.discover_directory(self.spark, self.src)
        (res,) = sync.run_sync(self.spark, cat, self.src, self.dest, self.state)
        return res

    def prepare(self, meter: Meter) -> None:
        if os.path.isdir(self.src):
            return
        os.makedirs(os.path.join(self.src, "events"))
        os.link(self.inputs.base, os.path.join(self.src, "events", "drop-base.parquet"))
        self._sync()

    def unit(self, meter: Meter) -> None:
        p0 = time.perf_counter()
        path, n = self.inputs.drops[self.next_drop], self.inputs.drop_rows[self.next_drop]
        self.next_drop += 1
        os.link(path, os.path.join(self.src, "events", os.path.basename(path)))
        c0, t_avail = cpu_s(), time.time()
        res = self._sync()
        _, mtime = read_manifest(self.table_dirs()[0])
        meter.commit_cpu.append(cpu_s() - c0)
        meter.commit_s.append(mtime - t_avail)
        meter.check(not res.skipped and res.rows == n,
                    f"drop {path}: synced {res.rows} rows (skipped={res.skipped}), expected {n}")
        meter.rows += res.rows
        reader_query(self.spark, self.table_dirs()[0], meter)
        meter.rate_cpu.append(res.rows / (cpu_s() - c0))
        meter.rate.append(res.rows / (time.perf_counter() - p0))

    def finish(self, meter: Meter) -> None:
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props", "_olake_id"]
        snap = ManagedTable(self.spark, self.table_dirs()[0]).read().select(*cols).toArrow()
        drops = [self.inputs.base, *self.inputs.drops[:self.next_drop]]
        err = gate.incremental_snapshot(drops, snap)
        meter.check(err is None, f"gate final table: {err}")
        self.live_rows = snap.num_rows

    def table_dirs(self) -> list[str]:
        return [os.path.join(self.dest, "events")]


WORKLOADS = {w.name: w for w in (Backfill, CdcMor, IncrementalSync)}
