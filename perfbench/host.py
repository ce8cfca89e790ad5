"""Host fitting and process-tree probes for the benchmark.

Everything the benchmark writes goes under one work directory inside
the checkout: Spark's local dirs, the JVM's and Python's temp files,
the warehouse dir and the event log.
"""

from __future__ import annotations

import os
import statistics
import threading
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 8192


def fit_environment(root: str, work: str) -> None:
    """Environment for a run: driver heap sized to a quarter of physical
    RAM (at most 4 GB) and every scratch path inside ``work``. Must run
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    env = {
        "KGFLOW_DRIVER_MEM": f"{max(1024, min(4096, mem_total_mb() // 4))}m",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Spark's Python workers import kgflow from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)


def _tree(root_pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            try:
                with open(f"/proc/{ent}/stat") as f:
                    parent[int(ent)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants (the Spark
    JVM and its Python workers are descendants of the benchmark)."""
    total_kb = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssPeak:
    """Samples the process tree's RSS every ``interval`` seconds in a
    background thread; ``stop()`` returns the peak in MB."""

    def __init__(self, interval: float = 0.5):
        self._interval = interval
        self._stop = threading.Event()
        self._peak = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self._peak = max(self._peak, tree_rss_mb(pid))
            self._stop.wait(self._interval)

    def start(self) -> "RssPeak":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return max(self._peak, tree_rss_mb(os.getpid()))


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM gateway process, and wait for
    it to exit (its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def elapsed(t0: float) -> float:
    return time.monotonic() - t0
