"""Certify the registry TAIL — the queries past the external driver's
50-entry verification window — with the same driver-mirror gate the first
50 get externally (bare session, exact value hash vs DuckDB).

With this in the suite, ``pytest tests/`` alone certifies every registry
entry: the driver covers the window, this test covers the rest. It runs the
gate in subprocesses because the mirror intentionally builds its own
vanilla SparkSession (no engine confs), which must not contaminate (or be
contaminated by) the shared test session.

The tail is split across CONCURRENT shard subprocesses (each with its own
JVM + DuckDB): the fixture queries are latency-bound, not CPU-bound, so
overlapping three sessions cuts the gate's wall time ~2-3× and keeps the
whole pytest run near its pre-91-query duration as the registry grows.
"""

import json
import os
import subprocess
import sys
import time

from concurrency import child_jvm_slots, join

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"
# tail has grown past 140 queries and each shard is latency-bound (JVM
# spawn + cold-JIT per query family); measured sweep at 142 tail queries
# on 32 cores: 8x4=94s, 12x3=83s, 16x2=97s (2 threads starve the
# queries), 10x4=81s. A smaller host gets half its child JVM slots (the
# suite shards take the rest).
N_SHARDS = min(10, max(1, child_jvm_slots() // 2))


def _balanced_shards(tail: list[str]) -> list[list[str]]:
    """LPT bin-packing by recorded per-query gate cost (GATE_BUDGET.json):
    the wall of the whole gate is the SLOWEST shard, and round-robin used
    to deal several multi-second dedup/similarity queries into one shard
    (r8 measured: 163 s round-robin vs ~sum/8 balanced). Queries missing
    from the budget table (just added this round) assume the median cost;
    no table at all falls back to round-robin."""
    try:
        with open(os.path.join(REPO, "GATE_BUDGET.json")) as fh:
            rows = json.load(fh)["queries"]
        cost = {r["query"]: float(r["total_s"]) for r in rows}
    except (OSError, KeyError, json.JSONDecodeError):
        return [tail[i::N_SHARDS] for i in range(N_SHARDS)]
    known = sorted(cost.values())
    median = known[len(known) // 2] if known else 1.0
    shards: list[list[str]] = [[] for _ in range(N_SHARDS)]
    loads = [0.0] * N_SHARDS
    for name in sorted(tail, key=lambda n: -cost.get(n, median)):
        i = loads.index(min(loads))
        shards[i].append(name)
        loads[i] += cost.get(name, median)
    return shards


# populated by launch_shards() when conftest fires it at collection time
# (overlapping the whole shard fan-out with the rest of the suite); the
# test falls back to a synchronous launch when run standalone
_LAUNCHED: dict | None = None


def _tail_names() -> list[str]:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from olake_spark.queries import DRIVER_WINDOW_SIZE

    names = list(entry.queries())
    return names[DRIVER_WINDOW_SIZE:]


def launch_shards() -> dict:
    """Spawn the shard subprocesses and return {procs, tail}. Called from
    conftest at COLLECTION time so the ~2-minute latency-bound child-JVM
    fan-out runs concurrently with the entire rest of the suite instead
    of serializing at this test's position; the test then only joins and
    asserts. Safe to call twice (idempotent via _LAUNCHED)."""
    global _LAUNCHED
    if _LAUNCHED is not None:
        return _LAUNCHED
    tail = _tail_names()
    shards = _balanced_shards(tail)
    # cap each vanilla JVM at 4 threads: 10 shards x 4 = 40 threads
    # oversubscribe 32 cores ~1.25x (fine, latency-bound); fewer threads
    # per JVM starves individual queries (16x2 measured slower)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    procs = [
        subprocess.Popen(
            [
                sys.executable,
                f"{REPO}/tools/check_correctness.py",
                "--vanilla",
                "--exact",
                SF_DIR,
                *shard,
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
            env=env,
            cwd=REPO,
        )
        for shard in shards
        if shard
    ]
    _LAUNCHED = {"procs": procs, "tail": tail, "at": time.monotonic()}
    return _LAUNCHED


def test_registry_tail_passes_driver_mirror_gate():
    state = launch_shards()
    tail, procs = state["tail"], state["procs"]
    assert tail, "registry fits the driver window; nothing to certify"
    outs = []
    for proc in procs:
        out = join(proc, state["at"])
        outs.append((proc.returncode, out))
    failed = [out[-4000:] for rc, out in outs if rc != 0]
    assert not failed, "registry tail gate failed:\n" + "\n---\n".join(failed)
    # every tail query must actually have been exercised (a typo'd name
    # would silently verify nothing)
    checked = sum(out.count("PASS ") + out.count("FAIL ") for _, out in outs)
    assert checked == len(tail), (
        f"expected {len(tail)} checks, saw {checked}:\n"
        + "\n---\n".join(out[-1500:] for _, out in outs)
    )
