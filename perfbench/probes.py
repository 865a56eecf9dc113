"""Readers of Spark's own public status surfaces, used by the traced run,
plus the host-side probes every run takes (peak RSS, floor probe).

Nothing here instruments the engine: the numbers come from Spark's
status tracker (jobs, stages, tasks per job group), the session's SQL
status store (per-execution SQL metrics) and streaming progress events.
"""

from __future__ import annotations

import re
import statistics
import time

try:
    from pyspark.sql.streaming import StreamingQueryListener
except ImportError:  # pragma: no cover - present in every supported PySpark
    StreamingQueryListener = object  # type: ignore[assignment,misc]

# SQL metric name -> per-layer metric it feeds (values summed over every
# node of every execution the operation ran).
SQL_METRICS = {
    "size of files read": "spark.scan_bytes",
    "shuffle bytes written": "spark.shuffle_bytes",
    "spill size": "spark.spill_bytes",
    "time to collect": "spark.broadcast_collect_s",
}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric string. Multi-task metrics read
    ``"total (min, med, max ...)\\n<total> (<min>, ...)"``; the total is
    the first figure of the last line."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*(-?[\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python driver plus the Spark JVM."""

    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return hwm("self") + hwm(spark.sparkContext._gateway.proc.pid)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat. Steal is time the
    hypervisor ran someone else while this guest had work to do."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def floor_probe_s(spark, repeats: int = 5) -> float:
    """Median wall time of a 1-row noop write: the host's current job floor."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class SqlStatus:
    """Per-operation view of the session's SQL status store and status
    tracker. Call :meth:`mark` before an operation and :meth:`collect`
    after it; executions started in between belong to the operation
    (the benchmark has one client thread)."""

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.tracker = spark.sparkContext.statusTracker()
        self._mark = -1

    def _executions(self) -> list:
        lst = self.store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def mark(self) -> None:
        self._mark = max((e.executionId() for e in self._executions()), default=-1)

    def collect(self, timeout_s: float = 30.0) -> dict[str, float]:
        """Sum the SQL metrics of every execution since :meth:`mark`,
        waiting until the listener bus has recorded each one's end (the
        bus is asynchronous; the newest entry may still be running)."""
        deadline = time.monotonic() + timeout_s
        while True:
            self.bus.waitUntilEmpty(int(timeout_s * 1000))
            new = [e for e in self._executions() if e.executionId() > self._mark]
            if all(e.completionTime().isDefined() for e in new) or time.monotonic() > deadline:
                break
            time.sleep(0.005)
        out = dict.fromkeys(SQL_METRICS.values(), 0.0)
        for e in new:
            values = self.store.executionMetrics(e.executionId())
            seen = set()
            it = e.metrics().iterator()
            while it.hasNext():
                m = it.next()
                key = SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        return out

    def job_counts(self, group: str) -> dict[str, int]:
        """Jobs, stages and tasks Spark ran under one job group."""
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = [s for j in jobs for s in (self.tracker.getJobInfo(j).stageIds or [])]
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            tasks += info.numTasks if info is not None else 0
        return {"spark.jobs": len(jobs), "spark.stages": len(stages), "spark.tasks": tasks}


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event (batch id, input rows,
    ``durationMs`` phases) and each query's run id."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API name)
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def data_batches(self, run_id: str, expected: int, timeout_s: float = 30.0) -> list[dict]:
        """Data-carrying batches of one run, waiting up to ``timeout_s``
        for ``expected`` of them (progress events arrive asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while True:
            got = [p for p in self.progress if p["run_id"] == run_id and p["rows"] > 0]
            if len(got) >= expected or time.monotonic() > deadline:
                return sorted(got, key=lambda p: p["batch_id"])
            time.sleep(0.01)
