#!/usr/bin/env python3
"""Ingestion benchmark for olake_spark.

    python3 ingestbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Run from the repository root. One run = generate the seeded inputs, start
and warm the Spark session, warm the workload with untimed units, time as
many whole units as fill ``--seconds`` at the workload's nominal unit wall
(a count fixed by ``--seconds``), do the workload's closing work off the
clock, check the destination against the generator's ground truth, and
print as the last stdout line
``{"correct", "attempted", "failed", "metrics"}``. The line before it is a
JSON stamp of the run (machine, load, seed, sample counts).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
second unit and the closing work (layer wrappers on; the Spark event log is
on for the whole session) and reports their per-layer metrics plus
``trace.overhead_s``.

Every file the run creates lives under ``.ingestbench_work/`` (removed at
exit) and ``.ingestbench_out/`` (one JSON record per run, spans included
for traced runs) in the directory the command runs from.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".ingestbench_work")
OUT_ROOT = os.path.join(ROOT, ".ingestbench_out")
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile
TAIL_PCTS = (99, 95, 90, 75)  # tail candidates, highest first; p75 is the fallback


def process_start_epoch() -> float:
    """Wall-clock time this process was started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def raise_priority() -> int:
    """Give this process, and every process it starts, the highest CPU
    priority it may take (nice -20 where permitted), so other work on the
    machine delays the benchmark as little as it can. Returns the nice value
    in effect."""
    try:
        os.setpriority(os.PRIO_PROCESS, 0, -20)
    except OSError:
        pass
    return os.getpriority(os.PRIO_PROCESS, 0)


def spark_cpus(nproc: int) -> int:
    """Spark task slots: half the CPUs. Task threads, their Python workers,
    the JVM's compiler and GC threads and the driver then fit on the CPUs
    together; with a slot per CPU they queue for them, and latencies swung
    with whatever else ran on the machine."""
    return max(1, nproc // 2)


def pin_env(work: str, nproc: int) -> dict[str, str]:
    """Pin the environment the driver, the JVM and the Python workers inherit."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(spark_cpus(nproc)),
        # the package default (48g) exceeds small hosts' RAM
        "OLAKE_DRIVER_MEM": f"{min(2048, phys_mb // 4)}m",
        # Python workers import olake_spark whatever the working directory
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d)
    os.environ.update(env)
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return env


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot, summed
    over CPUs: its growth during a run shows the host's share of a slow run."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its JVM child."""
    def hwm(pid: int) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    me = os.getpid()
    total = hwm(me)
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)
            comm = fields[0].split("(", 1)[1]
            if int(fields[1].split()[1]) == me and comm == "java":
                total += hwm(int(pid))
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / 1024


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) at the highest of p99, p95 and
    p90 that has ``TAIL_BEYOND`` samples beyond it, else at p75.

    Nearest rank: the p-th percentile of n sorted samples is the
    ceil(p * n / 100)-th."""
    s = sorted(samples)
    n = len(s)
    for p in TAIL_PCTS:
        rank = math.ceil(p * n / 100)
        if n - rank >= TAIL_BEYOND or p == TAIL_PCTS[-1]:
            return s[rank - 1], p, n - rank


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM, and with it the Python workers,
    has exited (the JVM exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def first_line(e: Exception) -> str:
    return f"{type(e).__name__}: " + (str(e).strip().splitlines() or [""])[0]


SLOW_STOP = 3  # a loop stops early once it has used this many times its seconds


def unit_count(wl, seconds: float) -> int:
    """Units a run times: as many as fill ``seconds`` at the workload's
    nominal unit wall, at least two. The count depends on ``seconds`` alone,
    so every run of a workload times the same units whatever the host's
    speed during it; a slow stretch cannot cut a run short, which for
    ``cdc_mor`` would also change how many deltas its reads resolve."""
    return max(2, math.ceil(seconds / wl.nominal_unit_s))


def jit_cpu_s() -> float:
    """CPU time of the JVM's JIT compiler threads so far."""
    import workloads

    return workloads.cpu_s.read()[1]


def timed_loop(wl, meter, units: int, seconds: float, tracer=None) -> float:
    """``units`` whole units, or fewer if the generated inputs run out or
    the timed wall passes ``SLOW_STOP`` times ``seconds``; returns the timed
    wall. A unit that raises counts as a failed commit and ends the loop.

    With a ``tracer``, every second unit is traced, so traced and untraced
    units sample the same stretch of the run."""
    wall = 0.0
    while len(meter.unit_s) < units and wall < SLOW_STOP * seconds and wl.has_next():
        wl.prepare(meter)
        t0, e0 = time.perf_counter(), time.time()
        span = None
        if tracer is not None:
            tracer.enabled = len(meter.unit_s) % 2 == 1
            if tracer.enabled:
                j0, span = jit_cpu_s(), tracer.open("bench.unit")
        try:
            wl.unit(meter)
        except Exception as e:
            traceback.print_exc()
            meter.check(False, f"unit raised {first_line(e)}")
            break
        finally:
            if span is not None:
                tracer.close(span)
                tracer.windows.append((e0, time.time()))
                tracer.counts["jvm.jit_cpu_s"] += jit_cpu_s() - j0
                tracer.enabled = False
            meter.unit_s.append(time.perf_counter() - t0)
            wall += meter.unit_s[-1]
    return wall


def after_loop(wl, meter, tracer=None) -> None:
    """The workload's off-clock closing work, traced whole in a traced run."""
    e0, j0 = time.time(), jit_cpu_s()
    if tracer is not None:
        tracer.enabled = True
    try:
        wl.after_loop(meter)
    except Exception as e:
        traceback.print_exc()
        meter.check(False, f"closing work raised {first_line(e)}")
    finally:
        if tracer is not None:
            tracer.enabled = False
            tracer.windows.append((e0, time.time()))
            tracer.counts["jvm.jit_cpu_s"] += jit_cpu_s() - j0


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap (initial = max), touched whole at start-up, keeps the
        # JVM's footprint from depending on when G1 decides to grow it, and
        # keeps page faults on fresh heap memory, whose cost varied from run
        # to run, out of the timed units
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['OLAKE_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            # GC and JIT threads sized to the task slots, not to the machine
            f"-XX:ParallelGCThreads={os.environ['SPARK_GRAFT_CPUS']} -XX:ConcGCThreads=1 "
            f"-XX:CICompilerCount=2 -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def run(args, work: str, host: dict, t_proc: float) -> tuple[dict, dict, dict]:
    """One benchmark run; returns (stamp, metrics, record extras)."""
    nproc = host["nproc"]
    env = pin_env(work, nproc)
    import tracing
    import workloads
    from olake_spark.session import get_spark

    t_gen = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
    gen_s = time.perf_counter() - t_gen

    spark = get_spark(app_name="ingestbench", extra_conf=spark_conf(work, args.trace == 1))
    try:
        spark.range(1).count()
        spark.sparkContext.parallelize(range(nproc), nproc).map(abs).count()  # Python workers
        setup_s = time.time() - t_proc - gen_s
        wl.spark = spark

        phases = {"gen_s": gen_s, "setup_s": setup_s}
        t_phase = time.perf_counter()
        warm = workloads.Meter()
        wl.warm_up(warm)
        phases["warm_s"] = time.perf_counter() - t_phase
        meter = workloads.Meter(attempted=warm.attempted, failed=warm.failed,
                                errors=warm.errors)
        tracer = tracing.Tracer() if args.trace else None
        if tracer is not None:
            tracing.install(tracer, workloads)
        try:
            jit0 = jit_cpu_s()
            wall = timed_loop(wl, meter, unit_count(wl, args.seconds), args.seconds, tracer)
            jit_s = jit_cpu_s() - jit0
            phases["loop_s"] = time.perf_counter() - t_phase - phases["warm_s"]
            t_phase = time.perf_counter()
            after_loop(wl, meter, tracer)
            phases["after_loop_s"] = time.perf_counter() - t_phase
        finally:
            if tracer is not None:
                tracer.uninstall()
        t_phase = time.perf_counter()
        try:
            wl.finish(meter)
        except Exception as e:
            traceback.print_exc()
            meter.check(False, f"gate raised {first_line(e)}")
        rss_mb = peak_rss_mb()
        stored = sum(tracing.dir_bytes(d) for d in wl.table_dirs())
        phases["gate_s"] = time.perf_counter() - t_phase
    finally:
        t_phase = time.perf_counter()
        stop_session(spark)
    phases["stop_s"] = time.perf_counter() - t_phase

    c = meter.commit_cpu
    tail_v, tail_p, tail_k = tail(c)
    wall_tail = tail(meter.commit_s)
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, **host,
        "driver_mem": env["OLAKE_DRIVER_MEM"], "phases": phases,
        "units_planned": unit_count(wl, args.seconds), "units": len(meter.unit_s),
        "timed_s": wall, "rows": meter.rows,
        # the tail is recorded, not gated: no run has a percentile with ten
        # samples beyond it (see README)
        "commit_samples": len(c), "commit_cpu_tail_s": tail_v, "commit_tail_pct": tail_p,
        "commit_tail_beyond": tail_k,
        "read_samples": len(meter.read_s), "live_rows": wl.live_rows,
        "attempted": meter.attempted, "failed": meter.failed,
        "ops_failed_ratio": meter.failed / meter.attempted, "errors": meter.errors[:5],
        # the timed loop's JIT compiler CPU, which the CPU metrics leave out
        "jit_cpu_s": jit_s,
        # the same figures in wall time: informative, not gated (see README)
        "wall": {
            "rows_per_s": statistics.median(meter.rate),
            "commit_p50_s": statistics.median(meter.commit_s),
            "commit_tail_s": wall_tail[0], "commit_tail_pct": wall_tail[1],
            "commit_samples": len(meter.commit_s),
            "read_p50_s": statistics.median(meter.read_s),
        },
    }
    if args.trace:
        layer = tracer.layer_metrics()
        layer.update(tracing.event_log_metrics(os.path.join(work, "eventlog"), tracer.windows))
        traced, untraced = meter.unit_s[1::2], meter.unit_s[0::2]
        # traced minus untraced wall over the traced units (0 with one unit)
        layer["trace.overhead_s"] = (
            sum(traced) - statistics.mean(untraced) * len(traced) if traced else 0.0)
        metrics = {name: {"value": layer.get(name, 0.0), "unit": unit}
                   for name, unit in tracing.LAYER_METRICS}
        return stamp, metrics, {"spans": tracer.spans, "counts": dict(tracer.counts)}
    values = {
        "setup_s": (setup_s, "s"),
        "rows_per_cpu_s": (statistics.median(meter.rate_cpu), "rows/cpu_s"),
        "commit_cpu_p50_s": (statistics.median(c), "cpu_s"),
        "read_cpu_p50_s": (statistics.median(meter.read_cpu), "cpu_s"),
        "stored_bytes_per_row": (stored / max(wl.live_rows, 1), "bytes"),
        "driver_rss_peak_mb": (rss_mb, "MB"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    return stamp, metrics, {"commit_cpu": c, "read_cpu": meter.read_cpu,
                            "rate_cpu": meter.rate_cpu, "commit_s": meter.commit_s,
                            "read_s": meter.read_s, "unit_s": meter.unit_s, "rate": meter.rate}


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("backfill", "cdc_mor", "incremental_sync"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load_1m, _, load_15m = os.getloadavg()
    nproc = len(os.sched_getaffinity(0))
    host = {"nproc": nproc, "spark_cpus": spark_cpus(nproc), "nice": raise_priority(),
            "load_1m": load_1m, "load_15m": load_15m}
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=WORK_ROOT)
    try:
        steal0 = steal_s()
        stamp, metrics, extras = run(args, work, host, t_proc)
        stamp["steal_s"] = steal_s() - steal0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(OUT_ROOT, exist_ok=True)
    out = os.path.join(OUT_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump({**stamp, **extras, "metrics": metrics}, fh)
    print(json.dumps(stamp))
    print(json.dumps({"correct": stamp["failed"] == 0, "attempted": stamp["attempted"],
                      "failed": stamp["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
