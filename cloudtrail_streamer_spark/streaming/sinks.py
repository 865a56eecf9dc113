"""Sink operators (SURVEY.md §2.B B-5 partner, B-6) — A-8..A-10 analogs.

Every stub-Kinesis query delivers through ONE core, all in this module:

- ``KinesisStubClient`` — the one PutRecords client: caps of 500
  records / 5 MB per call, one ``call_*.jsonl`` spool file per call, and
  a per-call receipt.
- ``put_records_chunked`` — the only code that cuts records into
  PutRecords calls: ≤ the client's record cap and byte cap per call,
  partial-failure retry (failed entries are re-enqueued until
  delivered — at-least-once, upstream ``main.go:~80-100`` approx), and
  a record too big for an empty call raises instead of being dropped.
- ``send_rows`` — the executor send over one ``KinesisStubClient`` per
  task: ``(pk, data)`` rows mapped to ``{"Data", "PartitionKey"}``
  (per-record partition key, ``main.go:~65-75`` approx), then the loop.
  ``deliver_partitions`` (foreachBatch) and the ``kinesis_spool``
  batch and streaming writers (spool_source.py) all call it.
- ``deliver_stream`` — a keyed stream run through
  ``foreachBatch(deliver_partitions)`` to completion; returns the spool.
- ``read_spool`` — the one batch reader of a spool, with the declared
  ``SPOOL_RECORD_SCHEMA``, so no readback pays a schema-inference pass.
- ``delivered_counts`` plus ``DELIVERED_COUNTS_ORACLE`` — the per-type
  readback every delivery certificate compares with the source.

Caps: the A-8 limits (500 records, 5 MB per call — AWS limits,
BASELINE.md §1) are the ``KinesisStubClient`` caps, which the loop
reads from the client; ``MAX_RECORD_BYTES`` (1 MB per record) is
checked in the loop. The spool format lives in
``KinesisStubClient.put_records``: one ``call_{prefix}{n:06d}.jsonl``
file per call, one ``{"pk", "data"}`` JSON line per delivered record,
``pk`` first (the ``kinesis_spool`` reader routes a line on that key).
The client keeps each call's ``(records, bytes, delivered)`` receipt
and the file it wrote, which the ``kinesis_spool`` writers commit.

``KinesisStubClient`` is boto3-shaped (``put_records(StreamName=...,
Records=[{"Data": bytes, "PartitionKey": str}, ...])`` returning
``{"FailedRecordCount": int, "Records": [...]}``), so swapping in a real
``boto3.client("kinesis")`` is config-only (SURVEY.md §7 step 5).

In Structured Streaming the writer runs inside ``foreachBatch``; the
checkpoint gives batch-level replay, preserving the reference's
at-least-once semantics with idempotence left to the sink (batchId is
passed through for dedup-capable sinks).
"""

from __future__ import annotations

import json
import os

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import table, temp_dir
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.streaming import harness

MAX_BATCH_RECORDS = 500
MAX_BATCH_BYTES = 5 * 1024 * 1024
MAX_RECORD_BYTES = 1024 * 1024
STREAM_NAME = "cloudtrail-stream"
# The spool line format ``KinesisStubClient.put_records`` writes, as a
# schema: every reader of a spool, batch or streaming, declares it.
SPOOL_RECORD_SCHEMA = "pk string, data string"


class KinesisStubClient:
    """Local stand-in for boto3 kinesis: persists delivered records to a
    spool dir; deterministically fails every 7th record's first attempt
    to exercise the retry path.

    ``prefix`` namespaces the spool files — executor-side delivery opens
    one client per (micro-batch, partition), so spool names must not
    collide across concurrent partition tasks. ``receipts`` holds one
    ``(records, bytes, delivered)`` tuple per call and ``files`` the
    spool file each call wrote."""

    RECORD_CAP = MAX_BATCH_RECORDS
    BYTE_CAP = MAX_BATCH_BYTES

    def __init__(self, spool_dir: str, fail_every: int = 7, prefix: str = ""):
        self.spool_dir = spool_dir
        self.fail_every = fail_every
        self.prefix = prefix
        self._seen: set[bytes] = set()
        self._call = 0
        self.receipts: list[tuple[int, int, int]] = []
        self.files: list[str] = []
        os.makedirs(spool_dir, exist_ok=True)

    def put_records(self, StreamName: str, Records: list[dict]) -> dict:
        if len(Records) > self.RECORD_CAP:
            raise ValueError(f"PutRecords batch exceeds {self.RECORD_CAP} records")
        nbytes = sum(len(r["Data"]) + len(r["PartitionKey"]) for r in Records)
        if nbytes > self.BYTE_CAP:
            raise ValueError(f"PutRecords batch exceeds {self.BYTE_CAP} bytes")
        self._call += 1
        name = f"call_{self.prefix}{self._call:06d}.jsonl"
        spool = open(os.path.join(self.spool_dir, name), "w")
        out, failed = [], 0
        for i, rec in enumerate(Records):
            first_attempt = rec["Data"] not in self._seen
            if self.fail_every and first_attempt and i % self.fail_every == self.fail_every - 1:
                self._seen.add(rec["Data"])
                failed += 1
                out.append({"ErrorCode": "ProvisionedThroughputExceededException"})
                continue
            self._seen.add(rec["Data"])
            spool.write(
                json.dumps(
                    {"pk": rec["PartitionKey"], "data": rec["Data"].decode("utf-8")}
                )
                + "\n"
            )
            out.append({"SequenceNumber": str(len(self._seen)), "ShardId": "shard-0"})
        spool.close()
        self.files.append(name)
        self.receipts.append((len(Records), nbytes, len(Records) - failed))
        return {"FailedRecordCount": failed, "Records": out}


def put_records_chunked(client, stream_name: str, records) -> int:
    """The reference's batch loop (A-8/A-9): chunk to the client's
    ``RECORD_CAP``/``BYTE_CAP`` (500 records / 5 MB), send,
    re-enqueue failed entries until none remain. Returns delivered count.

    ``records`` may be any iterable (a list, or a partition iterator on
    an executor) — it is consumed lazily, one call's worth at a time, so
    memory stays bounded by one call plus the retry queue. A record
    larger than the byte cap (or 1 MB) could never be sent, so it raises
    ``ValueError`` rather than being dropped."""
    record_cap = getattr(client, "RECORD_CAP", MAX_BATCH_RECORDS)
    byte_cap = getattr(client, "BYTE_CAP", MAX_BATCH_BYTES)
    record_limit = min(MAX_RECORD_BYTES, byte_cap)
    it = iter(records)
    pending: list[dict] = []  # failed entries, or the record the last call had no room for
    delivered = 0
    while True:
        batch: list[dict] = []
        nbytes = 0
        while len(batch) < record_cap:
            rec = pending.pop(0) if pending else next(it, None)
            if rec is None:
                break
            sz = len(rec["Data"]) + len(rec["PartitionKey"])
            if sz > record_limit:
                raise ValueError(f"record of {sz} bytes exceeds the {record_limit}-byte limit")
            if nbytes + sz > byte_cap:
                pending.insert(0, rec)  # did not fit; first in the next call
                break
            batch.append(rec)
            nbytes += sz
        if not batch:
            return delivered
        resp = client.put_records(StreamName=stream_name, Records=batch)
        if resp["FailedRecordCount"]:
            pending += [r for r, st in zip(batch, resp["Records"]) if "ErrorCode" in st]
        delivered += len(batch) - resp["FailedRecordCount"]


def send_rows(rows, client: KinesisStubClient, stream_name: str) -> int:
    """The executor send: each ``(pk, data)`` row mapped to a PutRecords
    entry (a null key goes out as "0"), delivered through
    :func:`put_records_chunked` on ``client`` — one client per task, so
    its ``receipts`` and ``files`` describe that task's delivery.
    Returns the delivered count."""
    return put_records_chunked(
        client,
        stream_name,
        ({"Data": r["data"].encode("utf-8"), "PartitionKey": r["pk"] or "0"} for r in rows),
    )


def read_spool(spark: SparkSession, path: str) -> DataFrame:
    """The spool at ``path`` as ``(pk, data)`` rows, one per delivered
    record. The schema is declared, so the read starts no job of its own
    (inference would scan every spool file once more), and a spool with
    no call files reads as zero rows."""
    return spark.read.schema(SPOOL_RECORD_SCHEMA).json(path)


def deliver_partitions(keyed: DataFrame, spool_dir: str, stream_name: str, batch_id: int) -> None:
    """Executor-side Kinesis delivery (A-8..A-10 at cluster scale).

    ``keyed`` must have columns ``pk`` (string) and ``data`` (string).
    Every partition runs :func:`send_rows` over its partition iterator,
    so delivery parallelism equals the partition count and NOTHING is
    collected to the driver — the shape that survives 100 TB (upstream
    ``main.go:~60-100`` approx runs one Lambda per S3 object; here one
    task per partition). The stub spools to files keyed by (batch,
    partition) so local-mode output is collision-free and deterministic;
    a real ``boto3.client("kinesis")`` needs no shared filesystem at all.

    Inside ``foreachBatch``, pass the micro-batch as is and build the
    ``pk``/``data`` projection once on the streaming DataFrame: then
    each call costs exactly one Spark job and no per-batch plan
    construction. The tasks run ``_send`` in a Python worker, which
    imports this package and so, after its first two tasks, skips the
    per-task zip re-read (``zipguard``).
    """

    def _send(rows) -> None:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        client = KinesisStubClient(spool_dir, prefix=f"b{batch_id:05d}_p{pid:05d}_")
        send_rows(rows, client, stream_name)

    keyed.foreachPartition(_send)


def deliver_stream(keyed: DataFrame, tag: str, name: str) -> str:
    """Run a keyed (``pk``, ``data``) stream through
    ``foreachBatch(deliver_partitions)`` to completion and return the
    spool dir (``cts_{tag}_spool_*``) the stub 'stream' now holds. Build
    ``keyed`` on the streaming DataFrame, so each micro-batch arrives
    already keyed and costs only the delivery job. The checkpoint is
    removed once the query terminates; the spool lives until interpreter
    exit, because the caller's readback reads it lazily."""
    spool = temp_dir(f"cts_{tag}_spool_")

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        deliver_partitions(batch_df, spool, STREAM_NAME, batch_id)

    harness.run_to_completion(keyed.writeStream.foreachBatch(deliver), name, tag)
    return spool


def keyed_events(events: DataFrame) -> DataFrame:
    """Events as Kinesis records: partition key ``user_id`` (A-10
    analog), the whole event JSON-serialized as ``data``."""
    payload = F.to_json(F.struct("event_id", "ts", "user_id", "event_type", "value", "props"))
    return events.select(F.col("user_id").cast("string").alias("pk"), payload.alias("data"))


def delivered_counts(delivered: DataFrame) -> DataFrame:
    """Per-event_type counts of delivered records, read from each
    record's ``data`` payload; batch or streaming. Every delivery
    certificate compares these with :data:`DELIVERED_COUNTS_ORACLE`."""
    return (
        delivered.select(F.get_json_object("data", "$.event_type").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def deliver_events_to_spool(spark: SparkSession, sf_dir: str) -> str:
    """Run the full B-6 delivery path — events replayed as a file stream,
    keyed and JSON-serialized (:func:`keyed_events`), delivered through
    the executor-side chunked retrying writer — and return the spool dir
    the stub 'stream' now holds."""
    replay = harness.write_replay_files(spark, sf_dir)
    stream = harness.read_replay_stream(spark, replay)
    return deliver_stream(keyed_events(stream), "kinesis", "sink_foreachbatch_kinesis")


# The delivered-count certificate (VERDICT r09 #5): delivery is lossless
# and exactly-once end to end, so the per-type counts read back from a
# spool must equal the source events table's per-type counts, which a SQL
# oracle owns exactly. A drop, a duplicate delivery, an unwrap bug or an
# SNS mis-dispatch shows up as a hash mismatch in the driver record.
DELIVERED_COUNTS_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
"""


@query("sink_foreachbatch_kinesis", oracle=DELIVERED_COUNTS_ORACLE, survey_id="B-6")
def sink_foreachbatch_kinesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch Kinesis delivery of the events stream (stubbed sink):
    deliver through the chunked retrying writer, then read the spool back
    and count per event_type — equals the source counts despite injected
    partial failures (at-least-once, exactly-once here since the stub
    dedups by payload). Tier H since r10 (VERDICT r09 #5): the delivered
    per-type counts hash-compare against the source counts the oracle
    owns, so a dropped chunk, double delivery, or retry bug is a driver
    hash mismatch — the delivered-count certificate pattern."""
    return delivered_counts(read_spool(spark, deliver_events_to_spool(spark, sf_dir)))


_IDEMPOTENT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_source,
       CAST(COUNT(*) AS BIGINT) AS n_delivered,
       CAST(0 AS BIGINT) AS retry_delta
FROM events
"""


@query("sink_idempotent_batchid", oracle=_IDEMPOTENT_ORACLE, survey_id="B-6-ext")
def sink_idempotent_batchid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once via batchId-keyed idempotent commits (SURVEY §4.3:
    "foreachBatch sinks idempotent via batchId" — the upgrade over the
    reference's bare at-least-once retry, upstream ``main.go:~80-100``
    approx): each micro-batch writes to its own ``batch=<id>`` dir with
    mode=overwrite (a replayed half-written batch rewrites cleanly) and
    then drops a commit marker; a batch whose marker already exists is
    SKIPPED. After the stream drains, the query REPLAYS batch 0 through
    the same sink — simulating the checkpoint-recovery double-delivery
    — and certifies delivery didn't grow. H-tier certificate:
    (n_source, n_delivered, retry_delta=0) hash-checked against the
    events table."""
    replay = harness.write_replay_files(spark, sf_dir)
    stream = harness.read_replay_stream(spark, replay)
    base = temp_dir("cts_idem_")

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(base, f"_COMMIT_{batch_id:05d}")
        if os.path.exists(marker):
            return  # already committed: replay is a no-op
        batch_df.write.mode("overwrite").json(
            os.path.join(base, f"batch={batch_id:05d}")
        )
        open(marker, "w").close()  # commit point (atomic create)

    writer = stream.writeStream.foreachBatch(deliver)
    harness.run_to_completion(writer, "sink_idempotent_batchid", "idem")

    # the base dir itself: listing skips the hidden ``_COMMIT_*`` markers
    before = spark.read.schema(harness.EVENTS_SCHEMA).json(base).count()
    # Simulate checkpoint-recovery double delivery of batch 0.
    b0 = spark.read.schema(harness.EVENTS_SCHEMA).json(
        os.path.join(base, "batch=00000")
    )
    deliver(b0, 0)
    after = spark.read.schema(harness.EVENTS_SCHEMA).json(base).count()

    src = table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("long").alias("n_source")
    )
    return src.select(
        "n_source",
        F.lit(before).cast("long").alias("n_delivered"),
        F.lit(after - before).cast("long").alias("retry_delta"),
    )


_FANOUT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_source,
       CAST(COUNT(*) AS BIGINT) AS n_parquet,
       CAST(COUNT(*) AS BIGINT) AS n_spool
FROM events
"""


@query("sink_fanout_dual", oracle=_FANOUT_ORACLE, survey_id="B-6-ext")
def sink_fanout_dual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stream, TWO sinks from a single foreachBatch: each micro-batch
    lands in the analytical store (partitioned parquet — the lake copy)
    AND the operational spool (the Kinesis-stub forward — the reference's
    job) without reading the source twice. This is the standard
    lambda-architecture fanout; both writes happen inside the same batch
    function, so the checkpoint advances only when both succeeded —
    per-batch all-or-nothing without a distributed transaction. The
    certificate row proves neither fork lost or duplicated records."""
    replay = harness.write_replay_files(spark, sf_dir)
    stream = harness.read_replay_stream(spark, replay)
    base = temp_dir("cts_fanout_")
    lake = os.path.join(base, "lake")
    spool = os.path.join(base, "spool")

    def fanout(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").partitionBy("event_type").parquet(lake)
        deliver_partitions(keyed_events(batch_df), spool, STREAM_NAME, batch_id)

    harness.run_to_completion(stream.writeStream.foreachBatch(fanout), "sink_fanout_dual", "fan")

    n_parquet = spark.read.parquet(lake).count()
    n_spool = read_spool(spark, spool).count()
    src = table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("long").alias("n_source")
    )
    return src.select(
        "n_source",
        F.lit(n_parquet).cast("long").alias("n_parquet"),
        F.lit(n_spool).cast("long").alias("n_spool"),
    )
