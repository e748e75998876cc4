"""Host facts the benchmark needs: the core count, other Spark JVMs,
the load/steal window around a workload, and the resident memory of
this process tree (Python driver, its JVM, and the JVM's Python
workers). Everything is read from /proc; nothing is installed."""

from __future__ import annotations

import os
import threading
import time

SPARK_JVM_MARKERS = ("org.apache.spark.deploy.SparkSubmit", "pyspark-shell")


def nproc() -> int:
    """Cores this process may run on (what `nproc` prints without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:
        return None


def live_spark_jvms() -> list[int]:
    """Pids of running Spark driver JVMs (spark-submit / pyspark
    gateways) on this host."""
    out = []
    for pid in _pids():
        cmd = _read(f"/proc/{pid}/cmdline")
        if cmd and any(m in cmd for m in SPARK_JVM_MARKERS):
            out.append(pid)
    return out


def _ppid(pid: int) -> int | None:
    stat = _read(f"/proc/{pid}/stat")
    if not stat:
        return None
    # the command name may hold spaces and ')' — fields start after the
    # last ')'
    return int(stat.rsplit(")", 1)[1].split()[1])


def descendants(root: int) -> list[int]:
    """`root` and every process below it."""
    children: dict[int, list[int]] = {}
    for pid in _pids():
        pp = _ppid(pid)
        if pp is not None:
            children.setdefault(pp, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of `root`'s process tree. Each process counts its
    proportional share (Pss) of the pages it shares, so the Python
    workers forked from one daemon do not count their common pages
    once per worker."""
    total = 0
    for pid in descendants(root):
        rollup = _read(f"/proc/{pid}/smaps_rollup") or ""
        for line in rollup.splitlines():
            if line.startswith("Pss:"):
                total += int(line.split()[1]) * 1024
                break
    return total


class RssSampler:
    """Peak resident memory of this process tree, sampled every
    `interval` seconds on a daemon thread while the context is open."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    fields = (_read("/proc/stat") or "cpu 0").splitlines()[0].split()[1:]
    ticks = [int(x) for x in fields]
    # guest time is already counted in user/nice
    total = sum(ticks[:8])
    steal = ticks[7] if len(ticks) > 7 else 0
    return total, steal


def busy_seconds() -> float:
    """CPU seconds this machine has spent running anything (user, nice,
    system, irq and softirq time, summed over its CPUs), from the
    aggregate cpu line of /proc/stat. Time stolen by the hypervisor and
    idle time are not counted."""
    fields = (_read("/proc/stat") or "cpu 0").splitlines()[0].split()[1:]
    ticks = [int(x) for x in fields]
    busy = ticks[0] + ticks[1] + ticks[2] + sum(ticks[5:7])
    return busy / os.sysconf("SC_CLK_TCK")


class Window:
    """Load average and CPU steal around a measured interval."""

    def __enter__(self) -> "Window":
        self.load_before = os.getloadavg()
        self._t0, self._s0 = _cpu_ticks()
        self._w0 = time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        self.load_after = os.getloadavg()
        t1, s1 = _cpu_ticks()
        self.steal_pct = 100.0 * (s1 - self._s0) / max(t1 - self._t0, 1)
        self.wall_s = time.monotonic() - self._w0

    def as_dict(self) -> dict:
        return {
            "loadavg_1m_before": self.load_before[0],
            "loadavg_1m_after": self.load_after[0],
            "steal_pct": round(self.steal_pct, 3),
            "wall_s": round(self.wall_s, 3),
        }
