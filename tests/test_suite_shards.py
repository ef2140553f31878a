"""Suite-wall sharding (VERDICT r9 ask #2): the ~100 sequential test
modules sharing one Spark session are the remaining pytest wall after the
tail gate went concurrent. The same recipe applies: at COLLECTION time
conftest moves the heaviest Spark-bound modules (recorded per-module cost
in tools/suite_shards.json, LPT-packed) into concurrent child pytest
processes — each with its own session-scoped JVM — and deselects them from
the parent run; this joiner test waits for the children and fails loudly
with their output if any test failed.

Guard rails:
- fires ONLY for a full-suite run (this joiner collected + >60 modules in
  the collection + not already inside a child, env OLAKE_SUITE_SHARD);
  `pytest tests/test_foo.py` and -k runs execute everything in-process
  exactly as before;
- children run with a smaller local[] so parent + children + tail-gate
  shards oversubscribe the 32 cores only mildly (all latency-bound);
- the number of children follows the host's cores and memory
  (tests/concurrency.py ``child_jvm_slots``), so a small host is not run
  out of memory;
- a missing/renamed module in the map is ignored (falls back to the
  parent run) — the map is a cache, never a correctness input.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

from concurrency import SHARD_DRIVER_MEM, child_jvm_slots, join

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# at most 6 children; a smaller host gets what its child JVM slots leave
# beside the registry-tail gate
N_SHARDS = min(6, max(1, child_jvm_slots() - child_jvm_slots() // 2))
# modules this machinery itself lives in must never be sharded out
NEVER_SHARD = {
    "test_suite_shards.py",
    "test_registry_tail.py",
    "test_gate_budget.py",  # fresh-measures the budget — needs the idle-est box
}
# minimum recorded module cost worth exporting to a child JVM: below this
# the JVM startup + import overhead exceeds the win
MIN_MODULE_S = 6.0
# hypothesis/property modules run hundreds of tiny Spark actions, so they
# amplify worst under multi-JVM contention (measured 2.6× on the 4-shard
# run where recorded-serial LPT packed rank_stats + r10_fuzz together and
# that child became the 11-minute critical path). Weight them so the LPT
# spreads them across different children.
CONTENTION_WEIGHT = 2.5
_AMPLIFIED = ("fuzz", "rank_stats", "hypothesis")

_LAUNCHED: dict | None = None


def _weight(module: str, cost: float) -> float:
    if any(tag in module for tag in _AMPLIFIED):
        return cost * CONTENTION_WEIGHT
    return cost


def _shard_plan() -> list[list[str]]:
    """LPT-pack the recorded heavy modules into N_SHARDS groups."""
    path = os.path.join(REPO, "tools", "suite_shards.json")
    try:
        with open(path) as fh:
            cost = json.load(fh)["modules"]
    except (OSError, KeyError, json.JSONDecodeError):
        return []
    heavy = sorted(
        (
            (m, _weight(m, s))
            for m, s in cost.items()
            if s >= MIN_MODULE_S
            and m not in NEVER_SHARD
            and os.path.exists(os.path.join(REPO, "tests", m))
        ),
        key=lambda kv: -kv[1],
    )
    if not heavy:
        return []
    shards: list[list[str]] = [[] for _ in range(N_SHARDS)]
    loads = [0.0] * N_SHARDS
    for m, s in heavy:
        i = loads.index(min(loads))
        shards[i].append(m)
        loads[i] += s
    return [s for s in shards if s]


def launch(modules_by_shard: list[list[str]]) -> dict:
    global _LAUNCHED
    if _LAUNCHED is not None:
        return _LAUNCHED
    # a pathless child would collect the ENTIRE tests tree — refuse
    modules_by_shard = [shard for shard in modules_by_shard if shard]
    env = dict(
        os.environ,
        OLAKE_SUITE_SHARD="1",
        # child JVMs: 6 threads each — parent(8) + 6×6 + tail 10×4 peaks
        # ~84 nominal threads on 32 cores, all latency-bound fixture work
        # (measured: 4 shards 13:11, the children were the critical path)
        OLAKE_TEST_SPARK_MASTER="local[6]",
        # the session default driver heap is 48g (sized for the sf0.1
        # bench); concurrent suite JVMs at -Xmx48g would let lazy GC
        # balloon aggregate RSS past the box and stall everyone on
        # reclaim — unit fixtures keep ~0.6 GB live; the child memory
        # budget in tests/concurrency.py was measured at this heap
        OLAKE_DRIVER_MEM=os.environ.get("OLAKE_SHARD_DRIVER_MEM", SHARD_DRIVER_MEM),
    )
    procs = [
        subprocess.Popen(
            [
                sys.executable, "-m", "pytest", "-q",
                "-p", "no:cacheprovider",
                *[f"tests/{m}" for m in shard],
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
            env=env,
            cwd=REPO,
        )
        for shard in modules_by_shard
    ]
    _LAUNCHED = {"procs": procs, "shards": modules_by_shard, "at": time.monotonic()}
    return _LAUNCHED


def test_suite_shards_all_green():
    if os.environ.get("OLAKE_SUITE_SHARD"):
        import pytest

        pytest.skip("inside a shard child")
    state = _LAUNCHED
    if state is None:
        import pytest

        pytest.skip("sharding not armed (partial run or no shard map)")
    import re

    bad = []
    walls = []
    for shard, proc in zip(state["shards"], state["procs"]):
        out = join(proc, state["at"])
        m = re.search(r"in (\d+\.\d+)s", out)
        walls.append(f"{shard[0]}+{len(shard) - 1}: {m.group(1)}s" if m else "?")
        # exit 0 = green, 5 = no tests collected (stale map entry → the
        # module's tests ran nowhere — that IS a failure)
        if proc.returncode != 0 or " passed" not in out:
            bad.append((shard, proc.returncode, out[-4000:]))
    line = "suite-shard walls: " + "; ".join(walls)
    print("\n" + line)  # captured by pytest; the file is the artifact
    # outside the checkout: a test run must not dirty tracked files
    try:
        with open(os.path.join(tempfile.gettempdir(), "suite_shards_last_walls.txt"), "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass
    assert not bad, "suite shards failed:\n" + "\n===\n".join(
        f"shard {s} rc={rc}\n{o}" for s, rc, o in bad
    )


def test_child_jvm_slots_follow_cores_and_memory(monkeypatch):
    """A 4-core / 16 GB host gets 2 tail + 2 shard children instead of
    the 10 + 6 sized for a 32-core box; a large host keeps those caps."""
    import concurrency

    def slots(cores: int, avail_gb: float) -> int:
        monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: set(range(cores)))
        monkeypatch.setattr(concurrency, "_mem_available_gb", lambda: avail_gb)
        concurrency.child_jvm_slots.cache_clear()
        return concurrency.child_jvm_slots()

    try:
        assert slots(4, 15.2) == 4  # memory-bound: 2 pairs, (15.2 - 4) // 5
        assert slots(4, 12.0) == 2  # one pair beside the parent
        assert slots(4, 64.0) == 8  # core-bound: two per core
        assert slots(1, 2.0) == 2  # never below one tail + one shard child
        assert slots(32, 250.0) >= 16  # the 10 + 6 fan-out still fits
    finally:
        concurrency.child_jvm_slots.cache_clear()


def test_join_kills_a_child_past_the_deadline(monkeypatch):
    import concurrency

    monkeypatch.setattr(concurrency, "FANOUT_DEADLINE_S", 1)
    proc = subprocess.Popen(
        [sys.executable, "-c", "import time; print('up', flush=True); time.sleep(60)"],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    out = concurrency.join(proc, time.monotonic())
    assert proc.returncode != 0
    assert out.startswith("up\n") and "killed: still running 1 s" in out
