"""Measurement helpers: layer spans with Spark job-group tagging, Spark
counters from the status store, Hadoop file-system write counters, and
a peak-RSS sampler over the benchmark's process tree.

Spans are recorded only in the benchmark's own files, around calls into
the engine's public functions; the engine itself is not instrumented.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class NullTracer:
    """Span/count sink used for untraced jobs: records nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    def count(self, name: str, n: float) -> None:
        pass


class Tracer(NullTracer):
    """Records wall time per span name and tags every Spark job started
    inside a span with that span's job group, so jobs are attributed to
    the innermost layer that launched them."""

    enabled = True
    #: shared by every tracer: Spark job groups are global to the app
    _seq = itertools.count()

    def __init__(self, sc):
        self.sc = sc
        self.values: dict[str, float] = defaultdict(float)
        self._groups: list[tuple[str, str]] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        gid = f"{name}#{next(self._seq)}"
        self._stack.append(gid)
        self.sc.setJobGroup(gid, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.values[f"{name}_s"] += time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1].split("#")[0])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._groups.append((name, gid))

    def count(self, name: str, n: float) -> None:
        self.values[name] += n

    def job_ids(self) -> dict[str, list[int]]:
        """Spark job ids started inside each span name, innermost span only."""
        tracker = self.sc.statusTracker()
        out: dict[str, list[int]] = defaultdict(list)
        for name, gid in self._groups:
            out[name].extend(tracker.getJobIdsForGroup(gid))
        return out


def wait_for_listeners(sc) -> None:
    """Let the status store catch up with every finished task."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def executor_totals(sc) -> dict[str, float]:
    """Cumulative task counters of the local-mode executor."""
    s = sc._jsc.sc().statusStore().executorSummary("driver")
    return {
        "spark.tasks": s.totalTasks(),
        "spark.input_bytes": s.totalInputBytes(),
        "spark.shuffle_write_bytes": s.totalShuffleWrite(),
        "spark.gc_s": s.totalGCTime() / 1000.0,
        "spark.executor_run_s": s.totalDuration() / 1000.0,
    }


def stage_counters(sc, job_ids) -> dict[str, float]:
    """Stage count and spilled bytes over the given jobs."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stages = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    spill = 0
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage has no attempt record
            continue
        spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return {"spark.stages": len(stages), "spark.spill_bytes": spill}


def fs_bytes_written(sc) -> int:
    """Bytes written so far through Hadoop's local file system: every
    sink, ledger and staging file the engine writes, not shuffle files."""
    stats = sc._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
    return sum(s.getBytesWritten() for s in stats if s.getScheme() == "file")


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:  # removed by a concurrent swap
                pass
    return total


def _rss_kb(pids) -> int:
    """Resident KiB summed over ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except FileNotFoundError:  # the process has exited
            pass
    return total


class RssSampler:
    """Background sampler of the peak summed resident memory of ``pids``
    (the Python driver and the driver JVM)."""

    def __init__(self, pids, interval_s: float = 0.05):
        self.pids = list(pids)
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _rss_kb(self.pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
