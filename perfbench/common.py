"""Shared pieces of the workloads: the engine session, memory, timing
statistics and the run's pass/fail accounting."""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

APP = "perfbench"


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Tally:
    """Calls attempted and failed (exceptions plus wrong results)."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def call(self, ok: bool = True, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.fail(why)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.problems.append(why)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Session:
    """Registry import plus one ``get_spark`` (JVM launch, SparkContext,
    Python worker warm-up): the set-up every entry point pays.

    It runs once per run: more builds in the same process would add a
    SparkContext start (2-3 s on local[4]) per build to every run, which
    the benchmark's time budget does not allow; ``setup_s`` is therefore
    steadied by the median over runs, not within one."""

    def __init__(self):
        t0 = time.perf_counter()
        import __spark_entry__  # noqa: F401  (the whole query registry)
        from _data_engineering_pipeline_project_spark.session import get_spark

        self.import_s = time.perf_counter() - t0
        from pyspark import SparkContext

        self.spark = None
        try:
            t0 = time.perf_counter()
            self.spark = get_spark(APP)
            self.build_s = time.perf_counter() - t0
        finally:
            self._proc = getattr(SparkContext._gateway, "proc", None)
            if self.spark is None:
                self.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False

    @property
    def setup_s(self) -> float:
        return self.import_s + self.build_s

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of the JVM plus this process."""
        jvm = _vm_hwm_mb(self._proc.pid) if self._proc is not None else 0.0
        return jvm + _vm_hwm_mb("self")

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        proc = self._proc
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def session_metrics(sess: Session) -> dict[str, tuple[float, str]]:
    return {
        "session.import_s": (sess.import_s, "s"),
        "session.build_s": (sess.build_s, "s"),
        "peak_rss_mb": (sess.peak_rss_mb(), "MB"),
    }


def spark_metrics(counters: dict, plan_s: float) -> dict[str, tuple[float, str]]:
    return {
        "spark.jobs": (counters["jobs"], "count"),
        "spark.stages": (counters["stages"], "count"),
        "spark.tasks": (counters["tasks"], "count"),
        "spark.executor_run_s": (counters["executor_run_s"], "s"),
        "spark.executor_cpu_s": (counters["executor_cpu_s"], "s"),
        "spark.exec_s": (counters["exec_s"], "s"),
        "spark.plan_s": (plan_s, "s"),
        "spark.shuffle_write_bytes": (counters["shuffle_write_bytes"], "bytes"),
        "spark.shuffle_read_bytes": (counters["shuffle_read_bytes"], "bytes"),
        "spark.spill_bytes": (counters["spill_bytes"], "bytes"),
    }


def plan_seconds(build, reps: int = 5) -> float:
    """Analysis, optimisation and physical planning time of a served
    query, from the ``QueryPlanningTracker`` of the JVM Dataset that
    ``build()`` returns; the median over ``reps`` fresh builds.

    It is a re-plan: PySpark does not expose the query execution that
    ``toJSON().collect()`` or a ``noop`` write plans and runs, so the
    traced runs build each served query again after the timed loop and
    force its physical plan."""
    times = []
    for _ in range(reps):
        qe = build().queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0
        for name in ("analysis", "optimization", "planning"):
            ph = phases.get(name)
            if ph.isDefined():
                total += ph.get().durationMs()
        times.append(total / 1e3)
    return statistics.median(times)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, f))
    return n_bytes, n_files
