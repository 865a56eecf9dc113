"""The benchmark's workloads. Each takes a :class:`Run` (session, seed,
scratch dirs) and returns its metrics plus correctness counts; run.py
owns the environment, the session and the printed result.

- ``headline_sf0.1``: the 14 headline queries, closed loop, one client.
- ``cloudtrail_replay``: the reference pipeline over seeded CloudTrail logs.
"""

from __future__ import annotations

import gzip
import json
import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import probes
from bench import HEADLINE

# Warm-up is sized to the run budget: a second warm-up pass (~10 s) does
# not fit it on a loaded 4-CPU host.
WARMUP_PASSES = 1
MIN_EXECUTIONS = 40  # p75 then has >= 10 samples beyond it

REPLAY_FILES = 40
REPLAY_MEDIAN_RECORDS = 300
# the warm-up drain: equal-size files, so every warm-up does the same work
WARMUP_FILES = 4
WARMUP_RECORDS = 1000

# per-layer metric -> unit; layers a workload does not exercise read 0
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "operators.build_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.plan_s": "s",
    "spark.scan_bytes": "B",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.broadcast_collect_s": "s",
    "driver.collect_s": "s",
    "driver.result_rows": "count",
    "stream.batches": "count",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "cloudtrail.unwrap_records_per_s": "1/s",
    "cloudtrail.readback_s": "s",
    "sinks.writer_records_per_s": "1/s",
    "sinks.put_records_calls": "count",
    "sinks.delivered_per_attempt": "ratio",
    "process.peak_rss_mb": "MB",
    "trace.overhead_share": "ratio",
}
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_s": "s", "op_p75_s": "s"}
_STREAM_PHASES = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str  # per-run scratch dir inside the checkout
    data: str  # generated inputs
    perturb: bool = False  # corrupt one expected answer (smoke check)
    expected: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


@dataclass
class Outcome:
    metrics: dict[str, float]
    attempted: int
    failed: int


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean of
    all order statistics. The headline mix has a gap between its fast and
    slow queries right at the median, where a plain order statistic jumps
    between the two groups from run to run; this estimate moves smoothly."""
    x = sorted(values)
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 64 * n  # midpoint rule over [0, 1]; weights renormalised below
    w = [0.0] * n
    for j in range(steps):
        t = (j + 0.5) / steps
        w[j * n // steps] += math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
    return sum(wi * xi for wi, xi in zip(w, x)) / sum(w)


def p50_p75(values: list[float]) -> tuple[float, float]:
    return hd_quantile(values, 0.5), hd_quantile(values, 0.75)


# --------------------------------------------------------------- headline


def headline_setup(run: Run) -> dict:
    """Registry load plus warm-up passes (part of setup_s)."""
    from cloudtrail_streamer_spark.registry import all_queries

    t0 = time.perf_counter()
    queries = all_queries()
    run.detail["registry.load_s"] = time.perf_counter() - t0
    rng = random.Random(run.seed)
    walls = []
    for _ in range(WARMUP_PASSES):
        t0 = time.perf_counter()
        for name in rng.sample(HEADLINE, len(HEADLINE)):
            queries[name](run.spark, run.data).toPandas()
        walls.append(time.perf_counter() - t0)
    run.detail["warmup_pass_s"] = walls
    return queries


def _oracle_results(run: Run) -> dict:
    """Oracle answers for the headline queries, from DuckDB over views of
    the same parquet (computed outside the timed region)."""
    import duckdb

    from cloudtrail_streamer_spark.registry import all_oracles
    from tests.conftest import register_duckdb_views

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        register_duckdb_views(con, run.data)
        return {n: con.execute(oracles[n]).fetchdf() for n in HEADLINE}
    finally:
        con.close()


def _check(run: Run, last: dict, rows: dict) -> int:
    """Failed executions: every execution whose row count differs from the
    oracle's, plus the last execution of a query whose values differ."""
    from tests.conftest import assert_frames_match

    oracle = _oracle_results(run)
    failed, errors = 0, {}
    if run.perturb:
        name = HEADLINE[0]
        oracle[name] = oracle[name].iloc[:-1]
    for name, pdf in last.items():
        want = oracle[name]
        failed += sum(1 for n in rows[name] if n != len(want))
        try:
            assert_frames_match(pdf, want, name)
        except AssertionError as e:
            if all(n == len(want) for n in rows[name]):
                failed += 1
            errors[name] = str(e)[:300]
    run.detail["correctness_errors"] = errors
    return failed


def headline(run: Run, queries: dict) -> Outcome:
    rng = random.Random(run.seed + 1)
    last, rows, lat, by_query = {}, {n: [] for n in HEADLINE}, [], {n: [] for n in HEADLINE}
    attempted = raised = 0

    def execute(name: str, traced: bool, status: probes.SqlStatus | None, acc: dict) -> float:
        nonlocal attempted, raised
        attempted += 1
        t0 = time.perf_counter()
        try:
            if not traced:
                pdf = queries[name](run.spark, run.data).toPandas()
                wall = time.perf_counter() - t0
            else:
                df = queries[name](run.spark, run.data)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                group = f"perfbench-{attempted}"
                run.spark.sparkContext.setJobGroup(group, name)
                status.mark()
                pdf = df.toPandas()
                t3 = time.perf_counter()
                for k, v in status.collect().items():
                    acc[k] = acc.get(k, 0.0) + v
                for k, v in status.job_counts(group).items():
                    acc[k] = acc.get(k, 0) + v
                # the status reads are tracing cost; the noop probe below is not
                wall = time.perf_counter() - t0
                run.spark.sparkContext.setJobGroup("perfbench-noop", "noop")
                run.spark.catalog.clearCache()
                t4 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                noop = time.perf_counter() - t4
                acc.setdefault("operators.build_s", []).append(t1 - t0)
                acc.setdefault("spark.plan_s", []).append(t2 - t1)
                acc.setdefault("driver.collect_s", []).append(t3 - t2 - noop)
                acc["driver.result_rows"] = acc.get("driver.result_rows", 0) + len(pdf)
                acc["executions"] = acc.get("executions", 0) + 1
        except Exception as e:  # a raised query counts as failed
            raised += 1
            run.detail.setdefault("raised", []).append(f"{name}: {str(e)[:200]}")
            return time.perf_counter() - t0
        last[name] = pdf
        rows[name].append(len(pdf))
        return wall

    def one_pass(traced=False, status=None, acc=None) -> float:
        total = 0.0
        for name in rng.sample(HEADLINE, len(HEADLINE)):
            wall = execute(name, traced, status, acc)
            lat.append(wall)
            by_query[name].append(wall)
            total += wall
        return total

    if not run.trace:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < run.seconds or len(lat) < MIN_EXECUTIONS:
            one_pass()
        elapsed = time.perf_counter() - t0
        p50, p75 = p50_p75(lat)
        # queries per second of a pass made of each query's median execution,
        # so one execution slowed by the host does not move it
        medians = {n: statistics.median(v) for n, v in by_query.items()}
        metrics = {"throughput_per_s": len(HEADLINE) / sum(medians.values()), "op_p50_s": p50, "op_p75_s": p75}
        run.detail["queries_per_s_wall"] = len(lat) / elapsed
        run.detail["query_median_s"] = medians
        run.detail["samples"] = len(lat)
        run.detail["latencies_s"] = lat
    else:
        status, acc, plain, traced = probes.SqlStatus(run.spark), {}, [], []
        for on in (False, True, True, False):  # ABBA: warming favours neither side
            (traced if on else plain).append(one_pass(on, status, acc))
        n = acc.pop("executions", 0) or 1
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        for k, v in acc.items():
            metrics[k] = statistics.median(v) if isinstance(v, list) else v / n
        metrics["trace.overhead_share"] = statistics.median(traced) / statistics.median(plain) - 1
    metrics["process.peak_rss_mb"] = probes.peak_rss_mb(run.spark)  # before DuckDB runs in-process
    failed = raised + _check(run, last, rows)
    return Outcome(metrics, attempted, failed)


# ------------------------------------------------------- cloudtrail_replay


def replay_inputs(run: Run, data_root: str) -> tuple[str, str]:
    """Timed and warm-up log directories, generated once per seed (not in
    setup_s). The expected counts sit beside the log directories, so the
    pipeline sees only the log files."""
    import shutil

    import datagen

    base = os.path.join(data_root, f"replay-seed{run.seed}")
    logs, warm = os.path.join(base, "logs"), os.path.join(base, "warm_logs")
    marker = os.path.join(base, "expected.json")
    if not os.path.isfile(marker):
        shutil.rmtree(base, ignore_errors=True)
        expected = datagen.write_cloudtrail_logs(logs, run.seed, REPLAY_FILES, REPLAY_MEDIAN_RECORDS)
        datagen.write_cloudtrail_logs(warm, run.seed + 10_000, WARMUP_FILES, WARMUP_RECORDS, p90_ratio=1.0)
        with open(marker, "w") as f:
            json.dump(expected, f)
    with open(marker) as f:
        run.expected = json.load(f)
    run.detail["records"] = sum(run.expected.values())
    return logs, warm


def replay_setup(run: Run, warm: str) -> probes.ProgressListener:
    """Registry load, listener, one warm-up drain (part of setup_s)."""
    from cloudtrail_streamer_spark.registry import all_queries
    from cloudtrail_streamer_spark.streaming.cloudtrail import _run_pipeline

    t0 = time.perf_counter()
    all_queries()
    run.detail["registry.load_s"] = time.perf_counter() - t0
    listener = probes.ProgressListener()
    run.spark.streams.addListener(listener)
    t0 = time.perf_counter()
    _run_pipeline(run.spark, warm).toPandas()
    run.detail["warmup_drain_s"] = time.perf_counter() - t0
    return listener


def _drain(run: Run, logs: str, listener: probes.ProgressListener) -> dict:
    from cloudtrail_streamer_spark.streaming.cloudtrail import _run_pipeline

    t0 = time.perf_counter()
    out = _run_pipeline(run.spark, logs)
    t1 = time.perf_counter()
    pdf = out.toPandas()
    t2 = time.perf_counter()
    got = {r.event_type: int(r.n) for r in pdf.itertuples()}
    expected = dict(run.expected)
    if run.perturb:
        expected["click"] += 1
    batches = listener.data_batches(listener.run_ids[-1], REPLAY_FILES)
    return {
        "wall": t2 - t0,
        "readback": t2 - t1,
        "delivered": sum(got.values()),
        "ok": got == expected and len(batches) == REPLAY_FILES,
        "got": got,
        "out": out,
        "rows": len(pdf),
        "batches": batches,
        "run_id": listener.run_ids[-1],
    }


def _writer_probe(logs: str, spool: str) -> dict:
    """``put_records_chunked`` alone on the generated records."""
    from cloudtrail_streamer_spark.streaming.sinks import KinesisStubClient, put_records_chunked

    records = []
    for f in sorted(os.listdir(logs)):
        with gzip.open(os.path.join(logs, f), "rt") as fh:
            body = json.loads(fh.read())
        if body.get("Type") == "Notification":
            body = json.loads(body["Message"])
        for r in body["Records"]:
            records.append({"Data": json.dumps(r).encode(), "PartitionKey": str(r["user_id"])})
    client = KinesisStubClient(spool)
    sent = 0
    put = client.put_records

    def counting_put(StreamName, Records):  # noqa: N803 (boto3 names)
        nonlocal sent
        sent += len(Records)
        return put(StreamName=StreamName, Records=Records)

    client.put_records = counting_put
    t0 = time.perf_counter()
    delivered = put_records_chunked(client, "perfbench", records)
    wall = time.perf_counter() - t0
    return {
        "sinks.writer_records_per_s": delivered / wall,
        "sinks.delivered_per_attempt": delivered / sent,
        "ok": delivered == len(records),
    }


def _newest(prefix: str) -> str:
    import tempfile

    root = tempfile.gettempdir()
    dirs = [os.path.join(root, d) for d in os.listdir(root) if d.startswith(prefix)]
    return max(dirs, key=os.path.getmtime)


def replay(run: Run, logs: str, listener: probes.ProgressListener) -> Outcome:
    drains, failed = [], 0

    def drain() -> dict:
        nonlocal failed
        try:
            d = _drain(run, logs, listener)
        except Exception as e:
            run.detail.setdefault("raised", []).append(str(e)[:300])
            d = {"ok": False, "got": None}
        if not d["ok"]:
            failed += REPLAY_FILES
            run.detail.setdefault("mismatches", []).append(d["got"])
        drains.append(d)
        return d

    if not run.trace:
        # one fixed-size drain (~15-25 s), whatever --seconds says: a second
        # drain would be warmer than the first and change the sample mix
        d = drain()
        if "wall" not in d:
            raise RuntimeError(f"the drain did not complete: {run.detail.get('raised')}")
        secs = [p["duration_ms"]["triggerExecution"] / 1000 for p in d["batches"]]
        p50, p75 = p50_p75(secs)
        metrics = {"throughput_per_s": d["delivered"] / d["wall"], "op_p50_s": p50, "op_p75_s": p75}
        run.detail["samples"] = len(secs)
        run.detail["latencies_s"] = secs
    else:
        from pyspark.sql import functions as F

        from cloudtrail_streamer_spark.streaming.cloudtrail import dispatch_unwrap

        # traced drain first: the one after warm-up runs slowest, so the
        # overhead figure errs high rather than low
        status = probes.SqlStatus(run.spark)
        status.mark()
        traced = drain()
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        batches = traced.get("batches") or []
        n = max(1, len(batches))
        for k, v in status.collect().items():
            metrics[k] = v / n
        spool = _newest("cts_ct_spool_")
        metrics["sinks.put_records_calls"] = sum(1 for f in os.listdir(spool) if f.startswith("call_"))
        plain = drain()
        for k, v in status.job_counts(traced.get("run_id", "")).items():
            metrics[k] = v / n
        metrics["stream.batches"] = len(batches)
        for k, phase in _STREAM_PHASES.items():
            metrics[k] = statistics.median(p["duration_ms"].get(phase, 0) for p in batches) if batches else 0.0
        metrics["cloudtrail.readback_s"] = traced.get("readback", 0.0)
        if "out" in traced:
            t0 = time.perf_counter()
            traced["out"].write.format("noop").mode("overwrite").save()
            metrics["driver.collect_s"] = traced["readback"] - (time.perf_counter() - t0)
            metrics["driver.result_rows"] = traced["rows"]
        raw = run.spark.read.text(logs)
        t0 = time.perf_counter()
        unwrap = dispatch_unwrap(raw).select(F.count("record"))
        t1 = time.perf_counter()
        unwrap._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        unwrapped = unwrap.collect()[0][0]
        metrics["operators.build_s"] = t1 - t0
        metrics["spark.plan_s"] = t2 - t1
        metrics["cloudtrail.unwrap_records_per_s"] = unwrapped / (time.perf_counter() - t0)
        if unwrapped != run.detail["records"]:
            failed += 1
            run.detail.setdefault("mismatches", []).append({"unwrapped": unwrapped})
        w = _writer_probe(logs, os.path.join(run.work, "writer_spool"))
        if not w.pop("ok"):
            failed += 1
        metrics.update(w)
        metrics["trace.overhead_share"] = traced.get("wall", 0) / plain.get("wall", 1) - 1
    metrics["process.peak_rss_mb"] = probes.peak_rss_mb(run.spark)
    attempted = REPLAY_FILES * len(drains) + (2 if run.trace else 0)
    return Outcome(metrics, attempted, failed)
