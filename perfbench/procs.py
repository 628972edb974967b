"""Process-tree bookkeeping for the benchmark: machine load, peak resident
memory of this process and its descendants (driver, JVM, Python workers),
and a teardown that waits until every descendant has exited.  Reads /proc
directly; nothing here imports Spark."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    """pid -> parent pid of every live (non-zombie) process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                # comm (field 2) may contain spaces: split after its ')'
                state, ppid = fh.read().rsplit(b")", 1)[1].split()[:2]
        except (OSError, IndexError, ValueError):
            continue
        if state != b"Z":
            out[int(name)] = int(ppid)
    return out


def descendants(root: int | None = None) -> set[int]:
    """Live descendants of ``root`` (default: this process), excluding it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out: set[int] = set()
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot from /proc/stat: time the
    hypervisor gave this machine's CPUs to other guests, and all time."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def machine_load() -> dict:
    """Load average plus Spark JVMs and pyspark workers that are NOT ours,
    so a run slowed by a neighbour can be told apart from a regression."""
    la1, la5, la15 = os.getloadavg()
    ours = descendants() | {os.getpid()}
    jvms = workers = 0
    for pid in _ppids():
        if pid in ours:
            continue
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            workers += 1
        elif "java" in cmd and "org.apache.spark" in cmd:
            jvms += 1
    return {
        "loadavg_1m": la1,
        "loadavg_5m": la5,
        "loadavg_15m": la15,
        "other_spark_jvms": jvms,
        "other_pyspark_workers": workers,
    }


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed resident set of the process tree every
    ``interval`` seconds on a background thread; ``peak_mb`` is the largest
    sum seen.  The descendant set is re-listed once a second (a full /proc
    walk); in between only the known pids' statm files are read."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        pids: set[int] = set()
        n = 0
        while not self._stop.is_set():
            if n % max(1, int(1 / self.interval)) == 0:
                pids = descendants(me)
            n += 1
            total = _rss_bytes(me) + sum(_rss_bytes(p) for p in pids)
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both: the
    gateway JVM exits when its stdin closes (pyspark's contract)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap(timeout: float = 30.0) -> set[int]:
    """Wait for every descendant to exit; kill those still alive after
    ``timeout`` seconds.  Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    left = descendants()
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = descendants()
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants() & left and time.monotonic() < deadline:
        time.sleep(0.05)
    return left
