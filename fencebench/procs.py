"""Process-tree bookkeeping: peak RSS of the Python process, its Spark
JVM and the Python workers, and a shutdown that waits for all of them
to end."""

from __future__ import annotations

import os
import subprocess
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def spark_processes(pid: int) -> list[int]:
    """The JVM ``pid`` launched and the PySpark daemon and workers under
    it.  Short-lived helpers the JVM spawns (shell commands of the local
    file system) are left out: until they exec, they report the JVM's
    own peak RSS."""
    kids = _children()
    jvms = [c for c in kids.get(pid, []) if "SparkSubmit" in _cmdline(c)]
    out, todo = list(jvms), list(jvms)
    while todo:
        for c in kids.get(todo.pop(), []):
            if "pyspark.daemon" in _cmdline(c):
                out.append(c)
                todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])


def engine_cpu_s() -> float:
    """CPU seconds used so far by the engine: the Spark JVM, the Python
    workers under it, and this process's main thread (a benchmark's
    sampler threads are left out).  Time the host takes from the VM
    (steal) is not counted, so a difference of two readings is far
    steadier than wall time on a shared host."""
    me = os.getpid()
    ticks = sum(_cpu_ticks(p) for p in spark_processes(me))
    return ticks / _TICK + time.thread_time()


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssMonitor:
    """Samples the process tree every ``period`` seconds.  The peak is
    the largest sum, over processes alive at one sample, of each one's
    own peak RSS (VmHWM)."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.peak_detail: dict[int, int] = {}  # pid -> VmHWM kB at the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        detail = {p: _hwm_kb(p) for p in [me] + spark_processes(me)}
        total = sum(detail.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_detail = total, detail

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, then wait until every
    process the JVM started (Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    left = descendants(proc.pid)
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for pid in left:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie waiting to be reaped has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"
