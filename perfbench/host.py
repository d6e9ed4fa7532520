"""Facts about the host and the run's processes, recorded in every result."""

from __future__ import annotations

import glob
import hashlib
import os
import statistics
import subprocess
import time


def calibration_s() -> float:
    """Median of three timings of a fixed pure-Python work quantum."""
    def quantum() -> float:
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        return time.perf_counter() - t
    return statistics.median(quantum() for _ in range(3))


def source_id(root: str) -> dict:
    """git SHA when the tree is a checkout, and a hash of the engine's
    sources either way (the benchmark may run from an exported tree)."""
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True,
                                 timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            sha = None
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(root, "spark_shp", "**", "*.py"),
                              recursive=True)):
        with open(p, "rb") as f:
            h.update(f.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


def facts(root: str) -> dict:
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": list(os.getloadavg()),
            "calibration_s": calibration_s(),
            "pyspark": pyspark.__version__, **source_id(root)}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies since boot, all CPUs: on a shared VM the
    hypervisor's steal share explains run-to-run spread."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def _status(pid: int) -> dict:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def _children(pid: int) -> list[int]:
    kids = []
    for p in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(p) as f:
                kids += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return kids


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(JVM VmHWM, largest VmHWM among the Python workers it runs), in MB."""
    def hwm(pid):
        v = _status(pid).get("VmHWM", "0 kB").split()[0]
        return int(v) / 1024.0

    workers, todo = [], _children(jvm_pid)
    while todo:
        pid = todo.pop()
        todo += _children(pid)
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    workers.append(pid)
        except OSError:
            pass
    return hwm(jvm_pid), max((hwm(p) for p in workers), default=0.0)
