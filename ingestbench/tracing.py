"""Per-layer tracing for the ingestion benchmark.

Two sources, both read only in the traced run (``--trace 1``):

- Spans from wrappers the benchmark installs around each layer's public
  functions (module attributes and ``ManagedTable`` methods are replaced,
  then restored). A span is (id, name, start, end, parent). Spans and
  counts are kept in memory and written out when the run ends. Wrappers
  record only while ``Tracer.enabled`` is set, which the runner sets for
  every second unit of the timed window.
- The Spark event log, enabled for the traced run only and parsed after the
  session stops; jobs submitted inside a traced window are attributed.

No code under ``olake_spark/`` changes: spans sit at the calls into each layer.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

# per-layer metrics: (name, unit), in the order BENCHMARK.json lists them
LAYER_METRICS = [
    ("sync.run_sync_s", "s"), ("sync.sync_stream_s", "s"), ("sync.streams", "count"),
    ("sources.discover_s", "s"), ("sources.input_bytes", "bytes"),
    ("plans.state_io_s", "s"), ("plans.state_saves", "count"),
    ("functions.stamp_build_s", "s"),
    ("streaming.apply_batch_s", "s"), ("streaming.decode_exec_s", "s"),
    ("streaming.batches", "count"),
    ("merge.build_s", "s"),
    ("sinks.write_s", "s"), ("sinks.read_s", "s"), ("sinks.compact_s", "s"),
    ("sinks.manifest_s", "s"), ("sinks.commits", "count"), ("sinks.files_written", "count"),
    ("sinks.bytes_written", "bytes"), ("sinks.manifest_bytes", "bytes"),
    ("sinks.delta_groups", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("spark.longest_task_s", "s"), ("spark.driver_gap_s", "s"), ("jvm.jit_cpu_s", "cpu_s"),
    ("sync.self_s", "s"), ("sources.self_s", "s"), ("plans.self_s", "s"),
    ("functions.self_s", "s"), ("streaming.self_s", "s"), ("merge.self_s", "s"),
    ("sinks.self_s", "s"), ("bench.self_s", "s"),
    ("trace.overhead_s", "s"),
]

# span name -> per-layer wall metric (outermost span of that name only)
SPAN_METRICS = {
    "sync.run_sync": "sync.run_sync_s", "sync.sync_stream": "sync.sync_stream_s",
    "sources.discover": "sources.discover_s", "plans.state_io": "plans.state_io_s",
    "functions.stamp_build": "functions.stamp_build_s",
    "streaming.apply_batch": "streaming.apply_batch_s", "merge.build": "merge.build_s",
    "sinks.write": "sinks.write_s", "sinks.read": "sinks.read_s",
    "sinks.compact": "sinks.compact_s", "sinks.manifest": "sinks.manifest_s",
}
LAYERS = ["sync", "sources", "plans", "functions", "streaming", "merge", "sinks", "bench"]


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.windows: list[tuple[float, float]] = []  # traced wall intervals (epoch s)
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------

    def open(self, name: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans), "name": name, "start": time.time(), "end": None,
            "parent": parent["id"] if parent else None,
            "nested": any(s["name"] == name for s in self._stack),
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper; ``after``
        (args, kwargs, result) updates counts once the call returned."""
        raw = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.close(span)
            if after is not None:
                after(args, kwargs, out)
            return out

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patches.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # -- results --------------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        out = {m: 0.0 for m in SPAN_METRICS.values()}
        self_s = {layer: 0.0 for layer in LAYERS}
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            dur = s["end"] - s["start"]
            if s["name"] in SPAN_METRICS and not s["nested"]:
                out[SPAN_METRICS[s["name"]]] += dur
            self_s[s["name"].split(".")[0]] += dur - child_s[s["id"]]
        out.update({f"{layer}.self_s": v for layer, v in self_s.items()})
        out.update(self.counts)
        return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def install(tracer: Tracer, bench_module) -> None:
    """Wrap the public functions of every layer the workloads reach, and
    ``bench_module.reader_query``."""
    from olake_spark import sync
    from olake_spark.functions import olake_columns
    from olake_spark.operators import merge
    from olake_spark.plans.state import SyncState
    from olake_spark.sinks import table as table_mod
    from olake_spark.sinks.table import ManagedTable
    from olake_spark.sources import discover
    from olake_spark.streaming import pgoutput, replay

    c = tracer.counts
    read_manifest = bench_module.read_manifest

    def data_files(table_dir: str, version: int) -> set[str]:
        if version < 0:
            return set()
        m = read_manifest(table_dir, version)[0]
        return set(m["files"]).union(*(g["files"] for g in m.get("groups") or []))

    def count_streams(_a, _k, out):
        c["sync.streams"] += len(out)

    def count_input(args, kwargs, _out):
        c["sources.input_bytes"] += dir_bytes(kwargs.get("directory") or args[1])

    def count_save(_a, _k, _out):
        c["plans.state_saves"] += 1

    def count_batches(args, kwargs, _out):
        c["streaming.batches"] += len(kwargs.get("batches") or args[1])

    def count_commit(args, _k, version):
        if version is None:
            return
        table_dir = args[0].path
        new = data_files(table_dir, version) - data_files(table_dir, version - 1)
        c["sinks.commits"] += 1
        c["sinks.files_written"] += len(new)
        c["sinks.bytes_written"] += sum(os.path.getsize(f) for f in new)
        c["sinks.manifest_bytes"] += len(json.dumps(read_manifest(table_dir, version)[0]))

    def count_deltas(args, kwargs, _out):
        version = kwargs.get("version", args[1] if len(args) > 1 else None)
        groups = read_manifest(args[0].path, version)[0].get("groups") or []
        c["sinks.delta_groups"] += sum(1 for g in groups if g.get("delta"))

    w = tracer.wrap
    w(sync, "run_sync", "sync.run_sync", count_streams)
    w(sync, "sync_stream", "sync.sync_stream")
    w(discover, "discover_directory", "sources.discover", count_input)
    w(SyncState, "load", "plans.state_io")
    w(SyncState, "save", "plans.state_io", count_save)
    w(sync, "stamp_olake_columns", "functions.stamp_build")
    w(olake_columns, "stamp_olake_columns", "functions.stamp_build")
    w(pgoutput, "decode_pgoutput_df", "streaming.decode_build")
    w(replay, "replay_batches", "streaming.apply_batch", count_batches)
    w(merge, "latest_state", "merge.build")
    w(merge, "merge_upsert", "merge.build")
    w(table_mod, "merge_upsert", "merge.build")
    for meth in ("overwrite", "append"):
        w(ManagedTable, meth, "sinks.write", count_commit)
    for meth in ("upsert", "upsert_mor"):
        w(ManagedTable, meth, "sinks.upsert")
    w(ManagedTable, "read", "sinks.read", count_deltas)
    w(ManagedTable, "compact", "sinks.compact")
    for meth in ("exists", "properties", "versions"):
        w(ManagedTable, meth, "sinks.manifest")
    w(bench_module, "reader_query", "bench.reader")


# -- Spark event log --------------------------------------------------------------

def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def event_log_metrics(log_dir: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Aggregate the jobs submitted inside ``windows`` (epoch seconds)."""
    (name,) = os.listdir(log_dir)
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, int] = {}
    python_stages: set[int] = set()
    tasks: list[dict] = []
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3, "end": None}
                for sid in ev["Stage IDs"]:
                    stage_jobs[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if any("PythonRDD" in r.get("Name", "") for r in info.get("RDD Info", [])):
                    python_stages.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)

    def traced(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in windows)

    sel = {j for j, v in jobs.items() if traced(v["start"]) and v["end"] is not None}
    out = defaultdict(float)
    out["spark.jobs"] = len(sel)
    longest = 0.0
    for ev in tasks:
        if stage_jobs.get(ev["Stage ID"]) not in sel:
            continue
        m = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        run_s = m.get("Executor Run Time", 0) / 1e3
        out["spark.tasks"] += 1
        out["spark.executor_run_s"] += run_s
        out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["spark.shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics", {})
        out["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0)
        out["spark.output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        longest = max(longest, (info["Finish Time"] - info["Launch Time"]) / 1e3)
        if ev["Stage ID"] in python_stages:
            out["streaming.decode_exec_s"] += run_s
    out["spark.longest_task_s"] = longest
    busy = []
    for j in sel:
        for lo, hi in windows:
            a, b = max(jobs[j]["start"], lo), min(jobs[j]["end"], hi)
            if a < b:
                busy.append((a, b))
    out["spark.driver_gap_s"] = sum(hi - lo for lo, hi in windows) - _union_len(busy)
    return dict(out)
