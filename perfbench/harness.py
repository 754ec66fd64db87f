"""Measurement plumbing shared by the workloads: the Spark session
lifecycle, Spark's own job counters, memory high-water marks and the
host fingerprint.

Layers are timed here, in the benchmark, around calls into the package;
the package itself carries no instrumentation.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time
from dataclasses import dataclass, field

MB = 1024 * 1024


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    if lo == pos or v[lo] == v[lo + 1]:
        return v[lo]
    return v[lo] + (v[lo + 1] - v[lo]) * (pos - lo)


@dataclass
class Trace:
    """Whether this is the traced run. The traced run tags Spark jobs with
    job groups so JobCounter can attribute them; ``self_s`` accumulates
    the time that tagging takes, the only trace-only work on a measured
    path, so the traced run can report its own overhead."""

    enabled: bool
    self_s: float = 0.0

    def job_group(self, sc, group: str) -> None:
        """Tag the calling thread's next Spark jobs with ``group`` (traced
        runs only)."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sc.setJobGroup(group, group)
        self.self_s += time.perf_counter() - t0


@dataclass
class Outcome:
    """What a workload returns: counts, the end-to-end values with their
    sample counts, the per-layer values it measured, and the named
    metrics of its report (name, value, unit, sample count)."""

    attempted: int
    failed: int
    e2e: dict[str, tuple[float, int]]
    layers: dict[str, float] = field(default_factory=dict)
    report: list[tuple[str, float, str, int]] = field(default_factory=list)


class JobCounter:
    """Jobs, stages and tasks of a job group, read from Spark's status
    tracker. The caller tags work with ``sc.setJobGroup`` first."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()

    def count(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numTasks:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat. Steal is time
    a virtual machine's CPUs waited for the hypervisor."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def git_head(root: str) -> str:
    """HEAD commit of the checkout, or "unknown" outside a git tree."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def fingerprint(root: str) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": loadavg(),
        "cpu_ticks_start": cpu_ticks(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_head": git_head(root),
    }


class Session:
    """The engine's SparkSession for one run: built through the package's
    ``get_spark``, timed from process start to the first finished job,
    and torn down with its JVM waited for."""

    def __init__(self, process_start: float):
        from ex_aws_firehose_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark()
        t1 = time.perf_counter()
        self.spark.range(1).collect()
        t2 = time.perf_counter()
        self.get_spark_s = t1 - t0
        self.first_job_s = t2 - t1
        self.setup_s = time.time() - process_start

    def hwm_mb(self) -> tuple[float, float]:
        """VmHWM of this process and of the JVM it launched, in MB."""
        return vm_hwm_mb(), vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid)


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched; the JVM
    exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


LOG_START = time.time()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since LOG_START."""
    print(f"[{time.time() - LOG_START:.1f} s] {msg}", file=sys.stderr, flush=True)
