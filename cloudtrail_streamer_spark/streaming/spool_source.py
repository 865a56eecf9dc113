"""Custom PySpark Data Source (the Spark 4 Python Data Source API):
the Kinesis spool exposed as a first-class
``spark.read.format("kinesis_spool")`` connector.

This is the "real connector" rung above the stub consumers: a
``DataSource`` subclass with explicit partition planning — one input
partition per Kinesis shard, each executor task reading ONLY its
shard's records (shard = crc32(partition key) % shards, identical
routing to ``sources.read_kinesis_stream``, which Spark's ``crc32``
matches because both hash the UTF-8 bytes). Swapping the file-backed
spool for real ``boto3`` GetRecords calls changes only ``read()``; the
partition planning, schema, and everything downstream stay put. At
scale, partitions == shards gives the same parallelism contract as the
Kinesis consumer library.
"""

from __future__ import annotations

import json
import os
import zlib

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)

from cloudtrail_streamer_spark.catalog import temp_dir
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.streaming import harness
from cloudtrail_streamer_spark.streaming.sinks import (
    DELIVERED_COUNTS_ORACLE,
    STREAM_NAME,
    delivered_counts,
    deliver_events_to_spool,
    keyed_events,
    send_rows,
)

SPOOL_SCHEMA = "pk string, data string, shard_id int"


class _ShardPartition(InputPartition):
    def __init__(self, shard_id: int, n_shards: int, path: str, files: list):
        self.shard_id = shard_id
        self.n_shards = n_shards
        self.path = path
        self.files = files


def _spool_files(path: str) -> list:
    return sorted(f for f in os.listdir(path) if f.endswith(".jsonl"))


class _SpoolShards:
    """What both spool readers share: the options, one partition per
    shard over a list of spool files, and the shard read."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.n_shards = int(options.get("shards", "4"))

    def _shards(self, files: list) -> list:
        return [_ShardPartition(i, self.n_shards, self.path, files) for i in range(self.n_shards)]

    def read(self, partition: _ShardPartition):
        """Runs ON THE EXECUTOR for one shard: scan the partition's spool
        files, keep only records routed to this shard. A boto3-backed
        implementation would issue GetRecords for its shard iterator
        here instead."""
        for fname in partition.files:
            with open(os.path.join(partition.path, fname)) as f:
                for line in f:
                    rec = json.loads(line)
                    shard = zlib.crc32(rec["pk"].encode("utf-8")) % partition.n_shards
                    if shard == partition.shard_id:
                        yield (rec["pk"], rec["data"], shard)


class KinesisSpoolReader(_SpoolShards, DataSourceReader):
    def partitions(self):
        return self._shards(_spool_files(self.path))


class KinesisSpoolStreamReader(_SpoolShards, DataSourceStreamReader):
    """Streaming flavor of the connector (the true "Kinesis source"
    north star): offsets are the count of spool files consumed — the
    shard-iterator/sequence-number analog — and each micro-batch is
    planned as one partition PER SHARD over the newly-arrived files, so
    record reads stay executor-side exactly like the batch reader.
    ``commit`` is a no-op because the spool is immutable; a boto3
    implementation would checkpoint shard iterators there."""

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def latestOffset(self) -> dict:
        return {"n_files": len(_spool_files(self.path))}

    def partitions(self, start: dict, end: dict):
        return self._shards(_spool_files(self.path)[start["n_files"] : end["n_files"]])

    def commit(self, end: dict) -> None:
        pass  # immutable spool; real Kinesis would persist shard iterators


class _SpoolCommit(WriterCommitMessage):
    def __init__(self, n_delivered: int):
        self.n_delivered = n_delivered


class KinesisSpoolStreamWriter(DataSourceStreamWriter):
    """Custom streaming SINK: ``writeStream.format("kinesis_spool")``.

    ``write`` runs per partition ON THE EXECUTOR and pushes its
    partition iterator through ``sinks.send_rows`` — the same executor
    send as the foreachBatch path (spool files namespaced by the
    globally-unique task attempt id); per-task delivered counts travel
    back as commit messages, and ``commit`` is where a boto3
    implementation would record batch delivery for idempotence."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.stream_name = options.get("stream", STREAM_NAME)

    def write(self, iterator) -> "_SpoolCommit":
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        return _SpoolCommit(send_rows(iterator, self.path, self.stream_name, f"w{attempt:010d}_"))

    def commit(self, messages, batchId) -> None:
        pass  # spool is append-only; boto3 impl would record batch here

    def abort(self, messages, batchId) -> None:
        pass


class KinesisSpoolDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesis_spool"

    def schema(self) -> str:
        return SPOOL_SCHEMA

    def reader(self, schema) -> KinesisSpoolReader:
        return KinesisSpoolReader(self.options)

    def streamReader(self, schema) -> KinesisSpoolStreamReader:
        return KinesisSpoolStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> KinesisSpoolStreamWriter:
        return KinesisSpoolStreamWriter(self.options)


def register(spark: SparkSession) -> None:
    """Register the custom format. Registering again in the same session
    replaces the entry, so every caller may call this; a real
    registration failure propagates."""
    spark.dataSource.register(KinesisSpoolDataSource)


@query(
    "source_kinesis_custom_stream",
    oracle=DELIVERED_COUNTS_ORACLE,
    survey_id="B-3-ext",
)
def source_kinesis_custom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full north-star shape — ``spark.readStream.format(
    "kinesis_spool")``: a custom STREAMING source with shard-partitioned
    executor-side reads and file-count offsets, aggregated to per-type
    counts (complete mode). H-tier: counts equal the source table."""
    import uuid

    spool = deliver_events_to_spool(spark, sf_dir)
    register(spark)
    consumed = (
        spark.readStream.format("kinesis_spool")
        .option("path", spool)
        .option("shards", "4")
        .load()
    )
    return harness.run_stream_to_memory(
        delivered_counts(consumed), f"kin_ds_{uuid.uuid4().hex[:8]}", output_mode="complete"
    )


@query(
    "sink_kinesis_custom_stream",
    oracle=DELIVERED_COUNTS_ORACLE,
    survey_id="B-6-ext",
)
def sink_kinesis_custom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sink-side north star — ``writeStream.format("kinesis_spool")``:
    a custom STREAMING sink whose ``write`` runs per partition on the
    executor, pushing records through the chunked retrying Kinesis
    client (no driver collect anywhere). The delivered spool is read
    back through the batch connector and aggregated. H-tier: per-type
    counts equal the source table."""
    register(spark)
    replay = harness.write_replay_files(spark, sf_dir)
    out_spool = temp_dir("cts_dswriter_spool_")
    writer = (
        keyed_events(harness.read_replay_stream(spark, replay))
        .writeStream.format("kinesis_spool")
        .option("path", out_spool)
    )
    harness.run_to_completion(writer, "sink_kinesis_custom_stream", "dsw")
    delivered = (
        spark.read.format("kinesis_spool")
        .option("path", out_spool)
        .option("shards", "4")
        .load()
    )
    return delivered_counts(delivered)


@query("source_custom_datasource", oracle=DELIVERED_COUNTS_ORACLE, survey_id="B-3-ext")
def source_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end through the custom Python Data Source: events delivered
    by the executor-side sink into the spool, then read back via
    ``format("kinesis_spool")`` with per-shard partition planning and
    aggregated. H-tier: per-type counts equal the source table."""
    spool = deliver_events_to_spool(spark, sf_dir)
    register(spark)
    consumed = (
        spark.read.format("kinesis_spool")
        .option("path", spool)
        .option("shards", "4")
        .load()
    )
    return delivered_counts(consumed)
