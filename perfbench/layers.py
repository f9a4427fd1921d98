"""Per-layer spans and Spark counters, read from outside the program.

Each call the benchmark makes into a layer runs under its own Spark job
group, so the jobs it launches can be listed afterwards from the status
tracker.  Stage metrics (run time, CPU time, shuffle, spill) come from the
status store Spark keeps anyway, and micro-batch progress from a streaming
listener.  Nothing here runs in an untraced pass: it sets no job group and
reads no counter.
"""

from __future__ import annotations

import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# Per-layer metrics in report order, with units.  A span named ``x.y``
# accumulates ``x.y_s`` (self time: its duration minus the part covered by
# spans opened inside it) and ``x.y_jobs`` (jobs launched under its group).
METRICS = {
    'engine.build_s': 's', 'engine.build_jobs': 'count',
    'engine.fallback_exprs': 'count',
    'api.collect_s': 's', 'api.collect_rows': 'count',
    'csv.read_s': 's', 'csv.read_jobs': 'count',
    'csv.write_s': 's', 'csv.write_jobs': 'count',
    'csv.in_mb': 'MB', 'csv.out_mb': 'MB',
    'ops.build_s': 's', 'ops.build_jobs': 'count',
    'streaming.batches': 'count', 'streaming.batch_ms_p50': 'ms',
    'streaming.state_rows': 'count',
    'spark.exec_s': 's', 'spark.jobs': 'count', 'spark.stages': 'count',
    'spark.tasks': 'count', 'spark.run_s': 's', 'spark.cpu_s': 's',
    'spark.offcpu_s': 's', 'spark.shuffle_write_mb': 'MB',
    'spark.spill_mb': 'MB',
    'trace.overhead_frac': 'ratio',
}

# Counters that must repeat exactly across two traced runs of one seed.
EXACT = ('spark.jobs', 'spark.stages', 'spark.tasks', 'engine.build_jobs',
         'csv.read_jobs')

_MB = 1024.0 * 1024.0


class _ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress; events arrive on another thread."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[tuple[str, float, int]] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        rows = sum(op.numRowsTotal for op in p.stateOperators)
        with self.lock:
            self.progress.append(
                (str(p.runId), float(p.durationMs.get('triggerExecution', 0)),
                 int(rows)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))

    def take(self, timeout_s: float = 10.0):
        """Wait until every started query has reported termination, then
        return and forget the runs and progress collected so far."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    break
            time.sleep(0.02)
        with self.lock:
            runs, progress = set(self.started), list(self.progress)
            self.started.clear()
            self.terminated.clear()
            self.progress.clear()
        return runs, progress


class Tracer:
    """Accumulates per-layer metrics over the ops of traced passes."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)
        self.totals: dict[str, float] = defaultdict(float)
        self.batch_ms: list[float] = []
        self._groups: list[tuple[str, str]] = []    # (job group, span) per op
        self._stack: list[list] = []                # [group, span, child time]
        self._spans = 0

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer and tag the jobs it launches."""
        self._spans += 1
        group = 'perfbench-{}'.format(self._spans)
        self._groups.append((group, name))
        self.sc.setJobGroup(group, name)
        frame = [group, name, 0.0]
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            took = time.perf_counter() - t0
            self._stack.pop()
            self.totals[name + '_s'] += took - frame[2]
            if self._stack:
                outer = self._stack[-1]
                outer[2] += took
                self.sc.setJobGroup(outer[0], outer[1])
            else:
                self.sc.setLocalProperty('spark.jobGroup.id', None)

    def add(self, name: str, value: float) -> None:
        self.totals[name] += value

    def end_op(self) -> None:
        """Read the counters of every job the finished op launched."""
        runs, progress = self.listener.take()
        jobs: set[int] = set()
        for group, name in self._groups:
            ids = set(self.tracker.getJobIdsForGroup(group))
            jobs |= ids
            self.totals[name + '_jobs'] += len(ids)
        for run in runs:      # micro-batch jobs run under the query's run id
            jobs |= set(self.tracker.getJobIdsForGroup(run))
        self._groups = []
        self.totals['spark.jobs'] += len(jobs)
        stages = set()
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            stages |= set(info.stageIds if info else ())
        for sid in stages:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:   # a skipped stage has no attempt
                continue
            if st.numCompleteTasks() == 0:
                continue
            self.totals['spark.stages'] += 1
            self.totals['spark.tasks'] += st.numCompleteTasks()
            self.totals['spark.run_s'] += st.executorRunTime() / 1e3
            self.totals['spark.cpu_s'] += st.executorCpuTime() / 1e9
            self.totals['spark.shuffle_write_mb'] += st.shuffleWriteBytes() / _MB
            self.totals['spark.spill_mb'] += (st.memoryBytesSpilled()
                                              + st.diskBytesSpilled()) / _MB
        final_state: dict[str, int] = {}
        for run, ms, rows in progress:
            self.batch_ms.append(ms)
            final_state[run] = rows
        self.totals['streaming.batches'] += len(progress)
        self.totals['streaming.state_rows'] += sum(final_state.values())

    def metrics(self, overhead_frac: float) -> dict:
        t = self.totals
        derived = {
            'trace.overhead_frac': overhead_frac,
            'streaming.batch_ms_p50': (statistics.median(self.batch_ms)
                                       if self.batch_ms else 0.0),
            'spark.offcpu_s': t['spark.run_s'] - t['spark.cpu_s'],
        }
        return {name: {'value': round(float(derived.get(name, t[name])), 6),
                       'unit': unit}
                for name, unit in METRICS.items()}
