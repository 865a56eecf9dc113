"""Faithful end-to-end reproduction of the reference pipeline
(SURVEY.md §3.1): gzipped CloudTrail-shaped log files
(``{"Records": [...]}``) → decompress → envelope parse → Records[]
unwrap → partition-keyed, 500-chunked, retrying Kinesis delivery —
including the SNS fan-out path (Path 2).

Maps the reference operators 1:1 (upstream ``main.go`` approx):
- A-2 event-type dispatch → per-record envelope sniff (``Type ==
  "Notification"`` → SNS; else S3-direct), upstream ``main.go:~265-300``
- A-3 SNS envelope unwrap → ``from_json(Message)``, ``main.go:~230-260``
- A-4 source discovery  → file-source listing + checkpoint
- A-5 S3 GetObject      → file reader
- A-6 gzip              → native ``.gz`` codec
- A-7 envelope parse    → ``from_json`` with explicit envelope schema +
                          ``explode`` (records kept as raw JSON strings,
                          exactly the reference's ``json.RawMessage``)
- A-8..A-10 sink        → sinks.deliver_stream: foreachBatch over
                          deliver_partitions (executor-side, nothing
                          collected)

The one semantic upgrade over the reference: records stay opaque AND a
parsed analytics view is available from the same plan (SURVEY.md §1.2
"fidelity mode + analytics mode").

Fixture writes are executor-side (partitioned ``write.text`` grouped by
file id); the driver only renames finished files (O(#files) metadata).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import table, temp_dir
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.streaming.harness import flatten_partitioned
from cloudtrail_streamer_spark.streaming.sinks import (
    DELIVERED_COUNTS_ORACLE,
    delivered_counts,
    deliver_stream,
    read_spool,
)

ENVELOPE_SCHEMA = "STRUCT<Records: ARRAY<STRING>>"
# Either body a log line can hold: an SNS notification envelope (A-3),
# whose S3/CloudTrail body rides inside the JSON-string ``Message``
# field, or that body itself (``Records``).
DISPATCH_SCHEMA = "STRUCT<Type: STRING, Message: STRING, Records: ARRAY<STRING>>"


def _envelope_bodies(spark: SparkSession, sf_dir: str, files: int) -> DataFrame:
    """One row per log file: ``(bucket, value)`` where value is the
    CloudTrail S3-object body ``{"Records": [...]}``. Records are
    round-robined by ``event_id % files`` and ordered by event_id inside
    each file (sort_array on the struct's leading unique key), all
    executor-side — no driver materialization."""
    ev = table(spark, sf_dir, "events")
    rec = F.struct(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return (
        ev.withColumn("bucket", F.format_string("%04d", F.col("event_id") % files))
        .groupBy("bucket")
        .agg(
            F.to_json(
                F.struct(F.sort_array(F.collect_list(rec)).alias("Records"))
            ).alias("value")
        )
    )


def write_cloudtrail_files(
    spark: SparkSession, sf_dir: str, files: int = 8, sns_wrap_odd: bool = False
) -> str:
    """Materialize events as CloudTrail-shaped gzipped log files: each
    file is one JSON object {"Records": [<record>, ...]} (the S3 object
    format CloudTrail delivers; SURVEY.md §1.1).

    sns_wrap_odd: odd-numbered files are wrapped in an SNS notification
    envelope ``{"Type": "Notification", "Message": "<body>"}`` — the
    mixed S3-direct + SNS feed that exercises A-2/A-3 dispatch.
    """
    bodies = _envelope_bodies(spark, sf_dir, files)
    if sns_wrap_odd:
        sns = F.to_json(
            F.struct(
                F.lit("Notification").alias("Type"), F.col("value").alias("Message")
            )
        )
        bodies = bodies.withColumn(
            "value",
            F.when(F.col("bucket").cast("int") % 2 == 1, sns).otherwise(F.col("value")),
        )
    out = temp_dir("cts_ctlogs_")
    staged = os.path.join(out, "_staged")
    (
        bodies.repartition("bucket")
        .write.partitionBy("bucket")
        .option("compression", "gzip")
        .text(staged)
    )
    flatten_partitioned(staged, out, "ctlog", ".txt.gz")
    return out


def dispatch_unwrap(raw: DataFrame) -> DataFrame:
    """A-2 + A-3 + A-7: per-body envelope sniff, SNS unwrap and Records[]
    unwrap. Records emerge as opaque JSON strings (fidelity mode) with a
    parsed struct alongside (analytics mode).

    Each body is parsed once, against ``DISPATCH_SCHEMA``. One with
    ``Type == "Notification"`` is an SNS fan-out delivery: the real
    payload is the JSON string in ``Message``, parsed once more for its
    ``Records`` (upstream SNSHandler, ``main.go:~230-260`` approx).
    Anything else is an S3-direct body whose own ``Records`` are used
    (``main.go:~265-300`` approx). A body or ``Message`` that is not JSON
    yields no records. The parse has its own projection, so the
    optimizer cannot split it into one parse per field it reads.
    Dispatch is column-level ``from_json``/``when`` and costs no
    shuffle."""
    env = raw.select(F.from_json(F.col("value"), DISPATCH_SCHEMA).alias("env"))
    records = F.when(
        F.col("env.Type") == F.lit("Notification"),
        F.from_json(F.col("env.Message"), ENVELOPE_SCHEMA).getField("Records"),
    ).otherwise(F.col("env.Records"))
    parsed = F.from_json(
        F.col("record"),
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    ).alias("parsed")
    return env.select(F.explode(records).alias("record")).select("record", parsed)


def _run_pipeline(spark: SparkSession, logs_dir: str) -> DataFrame:
    """Shared A-4..A-10 tail: stream the log files, dispatch/unwrap,
    deliver through the executor-side chunked retrying Kinesis writer
    (``sinks.deliver_stream``), and return the per-event_type counts of
    the spool, read back lazily with its declared schema
    (``sinks.read_spool``). Building that frame runs no Spark job once
    the stream has ended; the caller's collect runs the readback.

    The dispatch/unwrap/key plan is built once, on the streaming
    DataFrame, so each micro-batch arrives already keyed and only runs
    the one delivery job: no batch pays the ~60-75 ms of Py4J DataFrame
    construction and re-analysis that building the plan inside
    ``foreachBatch`` costs (4-CPU host)."""
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(logs_dir)
    )
    keyed = dispatch_unwrap(stream).select(
        F.col("parsed.user_id").cast("string").alias("pk"),
        F.col("record").alias("data"),
    )
    spool = deliver_stream(keyed, "ct", "cloudtrail_pipeline_e2e")
    return delivered_counts(read_spool(spark, spool))


@query("cloudtrail_pipeline_e2e", oracle=DELIVERED_COUNTS_ORACLE, survey_id="A-2..A-10")
def cloudtrail_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference, one query (Path 1, S3-direct): CloudTrail-
    shaped .json.gz files streamed in, Records unwrapped, delivered
    through the chunked retrying Kinesis writer (partition key =
    awsRegion-analog user_id), spool read back and counted per
    event_type. Tier H since r10: the delivered counts hash-compare
    against the source counts the oracle computes (see
    sinks.DELIVERED_COUNTS_ORACLE; also asserted in
    tests/test_streaming.py)."""
    logs_dir = write_cloudtrail_files(spark, sf_dir)
    return _run_pipeline(spark, logs_dir)


@query("cloudtrail_sns_dispatch", oracle=DELIVERED_COUNTS_ORACLE, survey_id="A-2/A-3")
def cloudtrail_sns_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path 2 + dispatch: a MIXED feed where odd files arrive as SNS
    notification envelopes and even files S3-direct. Per-record sniff
    routes each body (A-2), SNS bodies are unwrapped from Message (A-3),
    then the identical A-4..A-10 pipeline runs. Tier H since r10: the
    per-type delivered counts must equal the source regardless of
    envelope mix — the same DELIVERED_COUNTS_ORACLE certificate as Path
    1, so a dispatch bug that drops or double-delivers SNS bodies is a
    driver hash mismatch."""
    logs_dir = write_cloudtrail_files(spark, sf_dir, sns_wrap_odd=True)
    return _run_pipeline(spark, logs_dir)
