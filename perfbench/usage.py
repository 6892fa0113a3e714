"""Resource use of the driver's process tree: the Python driver, the JVM
it launched and Spark's Python workers.

CPU seconds are what the timed work is gated on. On the shared 4-vCPU
machine the benchmark was sized on, host CPU steal of 1-14% moved the
wall time of the same run by up to 50%, because a Spark stage waits for
its slowest task and every vCPU the host takes away stalls one. Time the
host takes is not charged to the process, so the CPU seconds of the same
work moved by a third to a half as much. Wall times are still measured
and reported.

The gated CPU seconds are the program's own: they leave out the JVM's
JIT compiler and garbage collector threads (see :class:`CpuClock`). The
compiler used 20-25 of an ``elt_hourly`` timed region's 45-50 CPU
seconds, and how much of its compiling falls inside the timed region
rather than before it depends on how fast the host ran the warm-up. The
collector's threads used under 1 s in most runs and up to 19 s in
others, for the same work. Both are reported on their own
(``jit_cpu_s`` and ``gc_cpu_s`` in each run's report,
``process.jit_cpu_s`` and ``process.gc_cpu_s`` in traced runs).

Memory is gated on what the driver still holds after a full collection:
the JVM's peak resident set is set by when G1 chose to grow its heap (2.0
GB in most runs of one workload, 2.9 GB in another, for the same
queries), while the retained heap is set by the program: cached plans,
pinned RDDs, status-store retention and generated classes.
"""

from __future__ import annotations

import os


def descendants(pid: int) -> list[int]:
    parents = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _jvm_kind(name: str) -> str | None:
    """"jit" for HotSpot's compiler threads and code sweeper, "gc" for its
    collector and VM threads, None for the rest. The kernel keeps the
    first 15 characters of a thread's name."""
    if "CompilerThre" in name or name.startswith("Sweeper thread"):
        return "jit"
    if name.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return None


class CpuClock:
    """User and system CPU seconds used by this process and every process
    it started, including exited ones their parents have reaped, split
    into the program's work and the JVM's JIT compiler and collector
    threads.

    ``read()`` returns ``(work, jit, gc)`` seconds since the clock was
    made. The JVM's threads are told apart by name and followed by thread
    id. By default HotSpot stops an idle compiler thread, and the seconds
    it used since its last read would then count as work; ``run.py``
    keeps them alive (``-XX:-UseDynamicNumberOfCompilerThreads``).
    """

    def __init__(self):
        self._kind: dict[tuple[int, str], str | None] = {}
        self._ticks: dict[tuple[int, str], int] = {}  # JIT and GC threads
        self._start = self._sample()

    def _sample(self) -> tuple[int, int, int]:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue  # exited between the listing and the read
            total += sum(int(x) for x in fields[11:15])
            for tid in tids:
                key = (pid, tid)
                try:
                    if key not in self._kind:
                        with open(f"/proc/{pid}/task/{tid}/comm") as f:
                            self._kind[key] = _jvm_kind(f.read().strip())
                    if self._kind[key] is not None:
                        with open(f"/proc/{pid}/task/{tid}/stat") as f:
                            fields = f.read().rsplit(")", 1)[1].split()
                        self._ticks[key] = int(fields[11]) + int(fields[12])
                except OSError:
                    continue  # the thread ended; its last read stands
        by_kind = {"jit": 0, "gc": 0}
        for key, ticks in self._ticks.items():
            by_kind[self._kind[key]] += ticks
        return total, by_kind["jit"], by_kind["gc"]

    def read(self) -> tuple[float, float, float]:
        total, jit, gc = (now - then for now, then in zip(self._sample(), self._start))
        hz = os.sysconf("SC_CLK_TCK")
        return (total - jit - gc) / hz, jit / hz, gc / hz


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and every
    process it started: the JVM and Spark's Python workers."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def thread_cpu() -> dict[tuple[int, str], tuple[str, int]]:
    """(pid, tid) -> (thread name with digits as #, CPU ticks) over the
    process tree, for :func:`cpu_by_thread`."""
    out = {}
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    name = "".join("#" if c.isdigit() else c for c in f.read().strip())
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[pid, tid] = (name, int(fields[11]) + int(fields[12]))
    return out


def cpu_by_thread(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds between two :func:`thread_cpu` reads, summed by thread
    name, largest first. Threads that ended in between are missing."""
    hz = os.sysconf("SC_CLK_TCK")
    out: dict[str, float] = {}
    for key, (name, ticks) in after.items():
        out[name] = out.get(name, 0.0) + (ticks - before.get(key, (name, 0))[1]) / hz
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def full_gc(spark) -> None:
    """Collect the driver JVM's heap in full. Also run at the end of
    set-up, so that every timed region starts from the same heap state."""
    jvm = spark._jvm
    # Twice, with finalization between: objects whose finalizers ran in
    # the first collection are freed by the second.
    jvm.java.lang.System.gc()
    jvm.java.lang.System.runFinalization()
    jvm.java.lang.System.gc()


def retained_mb(spark) -> float:
    """JVM heap and non-heap in use after a full collection, plus the
    Python driver's resident set, in MB."""
    full_gc(spark)
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    with open(f"/proc/{os.getpid()}/status") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return used / 2**20 + rss_kb / 1024.0
