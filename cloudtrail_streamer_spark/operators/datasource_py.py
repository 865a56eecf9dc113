"""Spark 4 Python DataSource with planning-time split pruning (B-1-ext).

The upstream reference's only "source" is an S3 object fetch inside a
Lambda (``main.go`` approx, SURVEY §2.A A-5/A-6). A Spark-native engine
exposes sources through the DataSource V2 API; Spark 4 extends that to
pure-Python sources (``pyspark.sql.datasource``) with real planner
integration: ``partitions()`` decides parallelism at planning time and
``pushFilters()`` lets the source consume predicates BEFORE any split
is read. This module exercises both with a deterministic CloudTrail-ish
event generator:

- every field is pure integer arithmetic on ``event_id`` (name, region,
  error flag), so a DuckDB ``range()`` query can mirror the generated
  relation exactly — the source is H-tier hash-checkable;
- ``aws_region`` is constant per split, so an ``EqualTo`` filter on it
  prunes whole splits at planning time (the generate/fetch work for
  pruned splits never runs — the same mechanism a 100 TB deployment
  uses to skip S3 prefixes/partitions at the source);
- ``read()`` yields pyarrow RecordBatches built from numpy vectors —
  Arrow-columnar transfer into the JVM, no per-row Python.

CONTRACT (learned the hard way in a probe): a filter NOT yielded back
from ``pushFilters`` is claimed, and Spark DELETES its Filter node — a
claimed-but-unapplied filter silently returns wrong rows. This reader
claims only ``EqualTo`` on ``aws_region`` and enforces it by split
pruning, which is exhaustive because region is split-constant. The
pushdown path needs ``spark.sql.python.filterPushdown.enabled`` (a
session.py RUNTIME_CONF); with it off, Spark keeps the Filter node and
results are identical, just unpruned.

The module also certifies the stub-Kinesis writers end to end: the
events table through the ``kinesis_spool`` batch writer, and this
generator's stream through its epoch-committed stream writer across
restarts (streaming/spool_source.py owns both writers and the one spool
format).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from cloudtrail_streamer_spark.catalog import table, temp_dir
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.session import configure
from cloudtrail_streamer_spark.streaming.harness import run_to_completion
from cloudtrail_streamer_spark.streaming.sinks import KinesisStubClient, keyed_events
from cloudtrail_streamer_spark.streaming.spool_source import read_manifests, register

REGIONS = ["us-east-1", "us-west-2", "eu-west-1", "ap-south-1"]
EVENT_NAMES = [
    "AssumeRole",
    "GetObject",
    "PutObject",
    "DeleteObject",
    "ConsoleLogin",
    "CreateUser",
    "DescribeInstances",
]


class _CTGenSplit(InputPartition):
    def __init__(self, start: int, end: int, region: str):
        self.start = start
        self.end = end
        self.region = region


class _CTGenReader(DataSourceReader):
    """Deterministic generator reader. ``n_events`` ids are dealt into
    ``splits`` contiguous ranges; split ``s`` carries region
    ``REGIONS[s % 4]`` for every id in it."""

    def __init__(self, options):
        self.n_events = int(options.get("n_events", 64000))
        self.n_splits = int(options.get("splits", 8))
        self._region_eqs: set[str] = set()

    def pushFilters(self, filters):
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("aws_region",):
                # Claimed: region is split-constant, so pruning splits in
                # partitions() applies this predicate exhaustively (an
                # impossible value simply prunes every split).
                self._region_eqs.add(f.value)
            else:
                yield f  # unsupported — Spark keeps its Filter node

    def partitions(self):
        step = -(-self.n_events // self.n_splits)  # ceil
        out = []
        for s in range(self.n_splits):
            region = REGIONS[s % len(REGIONS)]
            if self._region_eqs and any(v != region for v in self._region_eqs):
                continue
            start = s * step
            end = min((s + 1) * step, self.n_events)
            if start < end:
                out.append(_CTGenSplit(start, end, region))
        return out

    def read(self, split: _CTGenSplit):
        import numpy as np
        import pyarrow as pa

        ids = np.arange(split.start, split.end, dtype=np.int64)
        names = np.array(EVENT_NAMES, dtype=object)[ids % len(EVENT_NAMES)]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                pa.array(names, type=pa.string()),
                pa.array([split.region] * len(ids), type=pa.string()),
                pa.array(ids * 60 + 1_704_067_200, type=pa.int64()),
                pa.array((ids % 13 == 0).astype(np.int32), type=pa.int32()),
            ],
            names=["event_id", "event_name", "aws_region", "epoch_s", "error_code"],
        )


class CloudTrailGenDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cloudtrail_gen"

    def schema(self) -> str:
        return (
            "event_id bigint, event_name string, aws_region string, "
            "epoch_s bigint, error_code int"
        )

    def reader(self, schema):
        return _CTGenReader(self.options)

    def simpleStreamReader(self, schema):
        return _CTGenStreamReader(self.options)


# DuckDB mirror of the generator arithmetic: 1-based list indexing over
# the same modulo scheme, step = ceil(64000/8) = 8000 ids per split.
_PYDS_ORACLE = """
WITH ev AS (
  SELECT r.range AS event_id,
         ['AssumeRole','GetObject','PutObject','DeleteObject',
          'ConsoleLogin','CreateUser','DescribeInstances']
           [(r.range % 7) + 1] AS event_name,
         ['us-east-1','us-west-2','eu-west-1','ap-south-1']
           [((r.range // 8000) % 4) + 1] AS aws_region,
         CASE WHEN r.range % 13 = 0 THEN 1 ELSE 0 END AS error_code
  FROM range(0, 64000) r
)
SELECT event_name,
       COUNT(*) AS n_events,
       CAST(SUM(error_code) AS BIGINT) AS n_errors,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM ev
WHERE aws_region = 'us-east-1'
GROUP BY event_name
ORDER BY event_name
"""


@query("source_python_datasource", oracle=_PYDS_ORACLE, survey_id="B-1-ext")
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the registered Python DataSource with a region predicate the
    source consumes at planning time: 6 of 8 splits are pruned before a
    single row is generated (pinned by a reader-level unit test in
    tests/test_engine.py). The surviving 16k rows arrive as Arrow
    batches and flow into a JVM-side hash aggregate. The oracle
    recomputes the identical relation from ``range()`` arithmetic —
    the full generate→prune→aggregate path is value-hash-checked.
    ``sf_dir`` is unused: the source generates its input, which is the
    point."""
    spark.dataSource.register(CloudTrailGenDataSource)
    df = (
        spark.read.format("cloudtrail_gen")
        .option("n_events", 64000)
        .option("splits", 8)
        .load()
    )
    return (
        df.where(F.col("aws_region") == "us-east-1")
        .groupBy("event_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("error_code").cast("long").alias("n_errors"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_name")
    )


# ---------------------------------------------------------------------------
# Streaming variant: SimpleDataSourceStreamReader + checkpoint resume
# ---------------------------------------------------------------------------


class _CTGenStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked streaming read of the same generated relation.
    ``read(start)`` returns one chunk and the next offset; Spark
    checkpoints the offset, so a restarted query resumes mid-stream
    instead of re-reading — the exactly-once source contract."""

    def __init__(self, options):
        self.n_events = int(options.get("n_events", 2000))
        self.chunk = int(options.get("chunk", 700))

    def initialOffset(self):
        return {"pos": 0}

    def read(self, start):
        pos = int(start["pos"])
        if pos >= self.n_events:
            return iter([]), {"pos": pos}
        end = min(pos + self.chunk, self.n_events)
        rows = [
            (
                i,
                EVENT_NAMES[i % len(EVENT_NAMES)],
                REGIONS[(i // 500) % len(REGIONS)],
                1_704_067_200 + i * 60,
                int(i % 13 == 0),
            )
            for i in range(pos, end)
        ]
        return iter(rows), {"pos": end}


# ids the generator stream yields: 700-id chunks, so >= 3 availableNow runs
N_STREAM_EVENTS = 2000


def restart_until(run, done, max_runs: int = 8) -> int:
    """Call ``run`` (one availableNow run on a shared checkpoint) until
    ``done()`` holds, and return the number of runs. Falling short after
    ``max_runs`` raises: a stream that stopped early must not return a
    partial certificate."""
    for n in range(1, max_runs + 1):
        run()
        if done():
            return n
    raise RuntimeError(f"stream incomplete after {max_runs} availableNow runs")


_SDS_ORACLE = """
WITH ev AS (
  SELECT r.range AS event_id,
         ['AssumeRole','GetObject','PutObject','DeleteObject',
          'ConsoleLogin','CreateUser','DescribeInstances']
           [(r.range % 7) + 1] AS event_name,
         CASE WHEN r.range % 13 = 0 THEN 1 ELSE 0 END AS error_code
  FROM range(0, 2000) r
)
SELECT event_name,
       COUNT(*) AS n_events,
       CAST(SUM(error_code) AS BIGINT) AS n_errors
FROM ev
GROUP BY event_name
ORDER BY event_name
"""


@query("stream_python_datasource", oracle=_SDS_ORACLE, survey_id="B-3-ext")
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the Python DataSource, driven to completion as
    a sequence of availableNow runs AGAINST ONE CHECKPOINT: each run
    consumes the reader's next prefetched chunk (700 ids), commits its
    offset, and stops; the next run restores both the source offset and
    the aggregation state from the checkpoint and continues — 2000 ids
    take ≥3 restart cycles, so the final complete-mode counts prove
    offset commit AND state-store recovery end to end, not just a
    single lucky batch. The final per-event-name aggregate is
    chunking-independent, which is what makes this H-tier: the oracle
    recomputes it from ``range()`` arithmetic with no knowledge of how
    many cycles ran. sf_dir is unused (generated source)."""
    configure(spark)
    spark.dataSource.register(CloudTrailGenDataSource)
    ckpt = temp_dir("cts_ckpt_sds_")  # fresh stream per invocation
    sink = f"sds_out_{os.getpid()}"
    writer = (
        spark.readStream.format("cloudtrail_gen")
        .option("n_events", N_STREAM_EVENTS)
        .option("chunk", 700)
        .load()
        .groupBy("event_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("error_code").cast("long").alias("n_errors"),
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
    )
    restart_until(
        lambda: run_to_completion(
            writer, "datasource_py_stream", "sds", checkpoint=ckpt, timeout_sec=120.0
        ),
        lambda: (spark.sql(f"SELECT SUM(n_events) FROM {sink}").first()[0] or 0)
        >= N_STREAM_EVENTS,
    )
    return (
        spark.table(sink)
        .select("event_name", "n_events", F.col("n_errors").cast("long").alias("n_errors"))
        .orderBy("event_name")
    )


# ---------------------------------------------------------------------------
# Writers: the kinesis_spool batch writer and its epoch-committed stream
# writer (streaming/spool_source.py), certified end to end
# ---------------------------------------------------------------------------


@query("sink_python_datasource_writer", survey_id="B-6-ext")  # Tier R
def sink_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliver the events table through the ``kinesis_spool`` Python
    DataSourceWriter and certify the V2 commit protocol end to end:
    per-task ``write`` sends rows under the A-8 caps and returns the
    stub client's receipts, the driver ``commit`` folds every receipt
    into ONE manifest (written exactly once, after all tasks succeed),
    and the certificate re-reads BOTH sides — manifest totals vs the
    delivered spool read back through ``format("kinesis_spool")``.
    Rows-only driver tier (call boundaries depend on physical
    partitioning); the INVARIANTS the row carries are exact: delivered
    records == source rows, every call within both caps."""
    configure(spark)
    register(spark)
    out = temp_dir("cts_pydsw_")  # fresh delivery per invocation

    ev = table(spark, sf_dir, "events")
    n_src = ev.count()
    keyed_events(ev).write.format("kinesis_spool").option("path", out).mode("append").save()

    (man,) = read_manifests(out, "_MANIFEST_")
    n_redelivered = spark.read.format("kinesis_spool").option("path", out).load().count()
    return spark.createDataFrame(
        [
            (
                int(man["n_chunks"]),
                int(man["n_records"]),
                int(man["max_chunk_records"]),
                int(man["max_chunk_bytes"]),
                bool(man["n_records"] == n_src == n_redelivered),
                bool(man["max_chunk_records"] <= KinesisStubClient.RECORD_CAP),
                bool(man["max_chunk_bytes"] <= KinesisStubClient.BYTE_CAP),
            )
        ],
        "n_chunks long, n_records long, max_chunk_records long, "
        "max_chunk_bytes long, records_match boolean, record_cap_ok boolean, "
        "byte_cap_ok boolean",
    )


@query("sink_python_stream_writer", survey_id="B-6-ext")  # Tier R
def sink_python_stream_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python source INTO Python sink, streaming end to end: the
    cloudtrail_gen stream (offset-checkpointed 700-id chunks) written
    through the ``kinesis_spool`` streaming writer across repeated
    availableNow restarts of ONE checkpoint. Every restart resumes from
    the committed source offset and delivers its batches through the
    per-epoch commit protocol. The certificate re-reads the delivered
    spool and the epoch manifests: zero duplicate event_ids
    (exactly-once across ≥3 restarts), manifest totals == delivered ==
    generated domain, caps held per call, one manifest per epoch.
    Rows-only driver tier (epoch/call boundaries are physical)."""
    configure(spark)
    spark.dataSource.register(CloudTrailGenDataSource)
    register(spark)
    out = temp_dir("cts_pysw_delivery_")  # fresh stream per invocation
    ckpt = temp_dir("cts_ckpt_pysw_")

    gen = (
        spark.readStream.format("cloudtrail_gen")
        .option("n_events", N_STREAM_EVENTS)
        .option("chunk", 700)
        .load()
    )
    writer = (
        gen.select(
            F.col("event_id").cast("string").alias("pk"),
            F.to_json(F.struct(*gen.columns)).alias("data"),
        )
        .writeStream.format("kinesis_spool")
        .option("path", out)
    )
    cycles = restart_until(
        lambda: run_to_completion(
            writer, "datasource_py_cycles", "pysw", checkpoint=ckpt, timeout_sec=120.0
        ),
        lambda: sum(m["n_records"] for m in read_manifests(out, "_EPOCH_")) >= N_STREAM_EVENTS,
    )
    mans = read_manifests(out, "_EPOCH_")

    delivered = spark.read.format("kinesis_spool").option("path", out).load()
    agg = delivered.agg(
        F.count(F.lit(1)).alias("n_delivered"),
        F.count_distinct(F.get_json_object("data", "$.event_id")).alias("n_distinct"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                int(len(mans)),
                int(cycles),
                int(sum(m["n_records"] for m in mans)),
                int(agg["n_delivered"]),
                int(agg["n_distinct"]),
                bool(agg["n_delivered"] == agg["n_distinct"] == N_STREAM_EVENTS),
                bool(
                    max((m["max_chunk_records"] for m in mans), default=0)
                    <= KinesisStubClient.RECORD_CAP
                ),
            )
        ],
        "n_epochs long, n_restarts long, manifest_records long, "
        "n_delivered long, n_distinct long, exactly_once boolean, "
        "record_cap_ok boolean",
    )
