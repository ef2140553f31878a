"""Concurrent-check helper for heavyweight Spark test modules.

A SparkSession schedules jobs from many driver threads safely, and most of
this suite's expensive tests are independent small jobs whose wall time is
scheduling latency, not CPU. Running a module's independent checks through
one ThreadPool cuts its wall 2-4x while keeping per-check failure identity
(each failure is reported with its check name + full traceback).

The pattern (first used by tests/test_plans.py, consolidated per the r5
verdict's suite-wall ask): convert `test_x` functions to `_check_x` and add
one `test_<module>_concurrent` that calls `run_concurrently`. Checks that
mutate session state (conf flips, temp views with fixed names) must stay
sequential — do not route them through here.

``child_jvm_slots`` sizes the full-suite fan-out of child JVMs (the
registry-tail gate and the suite shards) to the host; ``join`` waits for
one of them no longer than the run's deadline.
"""

from __future__ import annotations

import functools
import os
import subprocess
import time
import traceback
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

__all__ = ["child_jvm_slots", "join", "run_concurrently"]

# memory one registry-tail child and one suite-shard child hold together
# (each a JVM, its Python driver and pyspark.daemon workers), and the
# parent session's share (a 3g heap; it runs tests too). In two full runs
# on a 4-core host with 15 GB available, 2 + 2 children with the shard
# children at a SHARD_DRIVER_MEM heap, MemAvailable bottomed out at
# 2.0-2.4 GB. In the second, the summed PSS of parent and children
# peaked at 13.4 GB, under PARENT_GB + 2 * PAIR_GB; a child's own peak
# PSS was higher than its share (tail 2.4-2.7 GB, shard 3.9-4.4 GB, of
# which the JVM held 2.2-2.8 GB), but the peaks do not coincide. With a
# 3g shard heap the same fan-out bottomed out near 0.5 GB, and in one
# run the kernel killed a shard child's JVM.
PAIR_GB = 5.0
PARENT_GB = 4.0
SHARD_DRIVER_MEM = "2g"


def _mem_available_gb() -> float:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / 2**20
    except OSError:
        pass
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


@functools.cache
def child_jvm_slots() -> int:
    """How many child JVMs a full suite run may hold at once: two per usable
    core (the fixture work is latency-bound), and no more tail + shard
    pairs than fit in the memory left beside the parent session. Beyond
    that the kernel kills JVMs mid-run and every test left in one fails
    with ConnectionRefusedError. The figure is even, half for each
    fan-out; cached so the two fan-outs split one figure."""
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    else:
        cores = os.cpu_count() or 1
    pairs = int((_mem_available_gb() - PARENT_GB) // PAIR_GB)
    return 2 * max(1, min(cores, pairs))


# a full run must end inside the Tier-1 command's `timeout 2670` (ROADMAP
# "Tier-1 verify"): killed there, pytest reports nothing at all. Children
# still running this long after their launch are killed instead, which
# fails their joiner and leaves the parent's later tests ~4 minutes.
FANOUT_DEADLINE_S = 2400


def join(proc: subprocess.Popen, launched_at: float) -> str:
    """The output of a fan-out child launched at ``launched_at``
    (``time.monotonic()``); one still running FANOUT_DEADLINE_S after that
    is killed and ends with a nonzero returncode."""
    left = launched_at + FANOUT_DEADLINE_S - time.monotonic()
    try:
        return proc.communicate(timeout=max(1.0, left))[0]
    except subprocess.TimeoutExpired:
        proc.kill()
        out = proc.communicate()[0]
        return f"{out}\nkilled: still running {FANOUT_DEADLINE_S} s after launch\n"


def run_concurrently(
    checks: dict[str, Callable[[], None]], max_workers: int | None = None
) -> None:
    def run(item):
        name, fn = item
        try:
            fn()
            return None
        except Exception:
            return f"--- {name} ---\n{traceback.format_exc()}"

    workers = max_workers or min(8, len(checks)) or 1
    with ThreadPoolExecutor(max_workers=workers) as pool:
        failures = [f for f in pool.map(run, checks.items()) if f]
    assert not failures, "\n".join(failures)
