"""Spark counters for one operation, read from the in-process status
stores by job group.

The Spark UI is disabled in the engine's session, but its status
stores still record every job, stage and SQL execution:

- ``sc._jsc.sc().statusStore()`` (``AppStatusStore``): jobs, stages and
  their task metrics;
- ``spark._jsparkSession.sharedState().statusStore()``
  (``SQLAppStatusStore``): SQL executions, their final (post-AQE) plan
  graphs and per-operator metrics.

Both stores evict past ``spark.ui.retainedJobs`` /
``spark.sql.ui.retainedExecutions``, so the benchmark reads them after
every operation, outside every timed region. The listener bus fills
both stores asynchronously: an action can return before its last
task, stage, job and SQL-execution end events are applied, so a read
first waits until the bus is empty. Each read, that wait included, is
timed and reported as the reader's own overhead.
"""

from __future__ import annotations

import time

# Stage fields summed per operation: (output key, StageData getter, scale)
_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("task_run_s", "executorRunTime", 1e-3),
    ("task_cpu_s", "executorCpuTime", 1e-9),
    ("input_bytes", "inputBytes", 1),
    ("output_bytes", "outputBytes", 1),
    ("output_records", "outputRecords", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("memory_spill_bytes", "memoryBytesSpilled", 1),
    ("disk_spill_bytes", "diskBytesSpilled", 1),
)

_SCAN_ROWS = "number of output rows"


def _seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class CounterReader:
    """Reads the counters of one job group after its operation ends."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._bus = self._sc._jsc.sc().listenerBus()
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec_id = -1
        self.mark()

    def mark(self) -> None:
        """Forget every SQL execution so far; call right before an
        operation starts (the client runs one operation at a time, so
        every execution after the mark is that operation's). Waits for
        the listener bus first, so no earlier execution lands after it."""
        self._bus.waitUntilEmpty()
        n = self._sql.executionsCount()
        if n:
            self._last_exec_id = _seq(self._sql.executionsList(n - 1, 1))[0].executionId()

    def read(self, group: str, t_start: float, t_end: float) -> dict:
        """Counters of every job tagged ``group``; ``t_start``/``t_end``
        are the operation's wall-clock bounds (``time.time()``)."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        out = {k: 0.0 for k, _, _ in _STAGE_FIELDS}
        out.update(jobs=0, stages=0, exchanges=0, scan_rows=0)
        intervals = []
        job_ids = set(self._sc.statusTracker().getJobIdsForGroup(group))
        for jid in job_ids:
            job = self._store.job(jid)
            out["jobs"] += 1
            a, b = _ms(job.submissionTime()), _ms(job.completionTime())
            if a is not None:
                intervals.append((a, b if b is not None else t_end))
            for sid in _seq(job.stageIds()):
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, getter, scale in _STAGE_FIELDS:
                    out[key] += getattr(st, getter)() * scale
        out["job_gap_s"] = max(0.0, (t_end - t_start) - _covered(intervals, t_start, t_end))
        self._read_sql(out)
        out["read_s"] = time.perf_counter() - t0
        return out

    def _read_sql(self, out: dict) -> None:
        """Exchanges and scan rows from the final plans of the SQL
        executions since the last ``mark``."""
        n = self._sql.executionsCount()
        fresh = []
        # executions are listed in id order; scan back to the last one seen
        k = 1
        while k <= n:
            execs = _seq(self._sql.executionsList(n - k, 1))
            if not execs or execs[0].executionId() <= self._last_exec_id:
                break
            fresh.append(execs[0])
            k += 1
        for e in fresh:
            graph = self._sql.planGraph(e.executionId())
            values = None
            for node in _seq(graph.allNodes()):
                name = node.name()
                if name in ("Exchange", "BroadcastExchange"):
                    out["exchanges"] += 1
                elif name.startswith("Scan "):
                    for m in _seq(node.metrics()):
                        if m.name() == _SCAN_ROWS:
                            if values is None:
                                values = self._sql.executionMetrics(e.executionId())
                            v = values.get(m.accumulatorId())
                            if v.isDefined():
                                out["scan_rows"] += int(v.get().replace(",", "") or 0)
