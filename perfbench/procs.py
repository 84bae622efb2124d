"""Process bookkeeping: peak resident memory of the benchmark, its
driver JVM and the JVM's Python workers, and an orderly stop that
waits for every one of them to exit."""

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
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """One background thread summing the RSS of this process and all of
    its descendants (the driver JVM and its Python workers), keeping
    the peak since the last ``reset``."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kib = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kib(p) for p in [me, *descendants(me)])
        with self._lock:
            self.peak_kib = max(self.peak_kib, total)

    def reset(self) -> None:
        """Start a new peak from the current footprint."""
        with self._lock:
            self.peak_kib = 0
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the gateway, and wait until the JVM and
    every process it started have exited (killing stragglers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    pending = [p for p in tree if _alive(p)]
    while pending and time.monotonic() < deadline:
        time.sleep(0.1)
        pending = [p for p in pending if _alive(p)]
    for p in pending:
        try:
            os.kill(p, 9)
        except OSError:
            pass
