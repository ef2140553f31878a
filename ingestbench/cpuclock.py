"""CPU time of the program under test, for the benchmark's timing metrics.

The clock sums user + system CPU time of this process and every process
below it: the driver, its JVM and the JVM's Python workers (children that
already exited are included through their parent's reaped-children time).
It leaves out HotSpot's JIT compiler threads, whose work runs on their own
schedule, after the code it compiles has run; it is reported on its own.
Time spent waiting for a CPU is not CPU time, and time the hypervisor
steals from a virtual machine is not charged to any process, so the clock
does not count the time the benchmark waits behind other work, which wall
time on a shared host does. It still reads higher when the host runs the
CPUs it gives the machine slower.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")  # thread names, cut to 15 bytes


def _process_cpu_s(pid: int) -> float | None:
    """CPU time of a live process, all its threads (exited ones too), in ns
    resolution: its CPU-time clock, the clock ``clock_getcpuclockid``
    names (``~pid << 3 | CPUCLOCK_SCHED``)."""
    try:
        return time.clock_gettime((~pid << 3) | 2)
    except OSError:  # exited since it was listed
        return None


def _thread_cpu_s(stat_dir: str) -> float:
    """CPU time of one thread of another process, in ns resolution."""
    try:
        with open(f"{stat_dir}/schedstat") as fh:
            return int(fh.read().split()[0]) / 1e9
    except OSError:
        return 0.0


def _stat(path: str) -> list[bytes] | None:
    """Fields of a /proc stat file after the command name (field 3 first)."""
    try:
        with open(path, "rb") as fh:
            return fh.read().rsplit(b")", 1)[1].split()
    except OSError:  # exited since it was listed
        return None


def _comm(path: str) -> bytes:
    try:
        with open(path, "rb") as fh:
            return fh.read().strip()
    except OSError:
        return b""


class CpuClock:
    def __init__(self) -> None:
        self.root = os.getpid()
        self._jvm: int | None = None
        self._jit_dirs: list[str] = []  # /proc dirs of the JVM's compiler threads

    def _find_jit(self, jvm: int) -> None:
        """The compiler threads live as long as the JVM (a fixed count of
        them: ``-XX:-UseDynamicNumberOfCompilerThreads``), so look once."""
        task = f"/proc/{jvm}/task"
        self._jvm = jvm
        self._jit_dirs = [
            f"{task}/{tid}" for tid in os.listdir(task)
            if _comm(f"{task}/{tid}/comm") in JIT_THREADS
        ]

    def read(self) -> tuple[float, float]:
        """(CPU seconds of the process tree without the JIT threads, CPU
        seconds of the JIT threads), both since the processes started."""
        parent, reaped = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            rest = _stat(f"/proc/{name}/stat")
            if rest is None:
                continue
            pid = int(name)
            parent[pid] = int(rest[1])
            # cutime, cstime (fields 16-17): children that exited, in ticks
            reaped[pid] = (int(rest[13]) + int(rest[14])) / CLK_TCK
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        total, todo, jvm = 0.0, [self.root], None
        while todo:
            pid = todo.pop()
            total += (_process_cpu_s(pid) or 0.0) + reaped.get(pid, 0.0)
            kids = children.get(pid, ())
            if pid == self.root:
                jvm = next((k for k in kids if _comm(f"/proc/{k}/comm") == b"java"), None)
            todo.extend(kids)
        jit = 0.0
        if jvm is not None:
            if jvm != self._jvm:
                self._find_jit(jvm)
            jit = sum(_thread_cpu_s(d) for d in self._jit_dirs)
        return total - jit, jit

    def __call__(self) -> float:
        return self.read()[0]
