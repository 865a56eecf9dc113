"""Custom PySpark Data Source (the Spark 4 Python Data Source API):
the Kinesis spool exposed as a first-class ``format("kinesis_spool")``
connector — the only stub-Kinesis connector, reading and writing the
one spool format (``call_*.jsonl`` files of ``{"pk", "data"}`` lines).

Reads: a ``DataSource`` subclass with explicit partition planning — one
input partition per Kinesis shard, each executor task reading ONLY its
shard's records (shard = crc32(partition key) % shards, identical
routing to ``sources.read_kinesis_stream``, which Spark's ``crc32``
matches because both hash the UTF-8 bytes). Swapping the file-backed
spool for real ``boto3`` GetRecords calls changes only ``read()``; the
partition planning, schema, and everything downstream stay put. At
scale, partitions == shards gives the same parallelism contract as the
Kinesis consumer library.

Writes: ``df.write`` and ``writeStream`` over a ``pk``/``data``
projection. Each task sends its rows through ``sinks.send_rows`` — the
``KinesisStubClient`` caps (500 records / 5 MB per call) and retry path
of every other delivery — and returns the client's per-call receipts
and the files it wrote. The driver folds the receipts into one
manifest: ``_MANIFEST_*`` for a batch write, ``_EPOCH_{batchId}`` per
micro-batch. ``abort`` deletes exactly the files its messages name, a
task whose ``write`` raises deletes its own, and a replayed epoch whose
manifest already exists deletes the replay's files, so each epoch is
delivered once.
"""

from __future__ import annotations

import json
import os
import uuid
import zlib
from json.decoder import scanstring

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from cloudtrail_streamer_spark.catalog import temp_dir
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.streaming import harness
from cloudtrail_streamer_spark.streaming.sinks import (
    DELIVERED_COUNTS_ORACLE,
    STREAM_NAME,
    KinesisStubClient,
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


# How every line ``KinesisStubClient`` writes starts: ``json.dumps``
# keeps the dict's key order, so the partition key is the first value.
_PK_PREFIX = '{"pk": "'


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
        files, keep only records routed to this shard. Only the leading
        partition key of each line is decoded to route it, so a record
        is parsed in full once per read, by the shard that owns it. A
        boto3-backed implementation would issue GetRecords for its shard
        iterator here instead."""
        for fname in partition.files:
            with open(os.path.join(partition.path, fname)) as f:
                for line in f:
                    rec = None
                    if line.startswith(_PK_PREFIX):
                        pk = scanstring(line, len(_PK_PREFIX))[0]
                    else:  # not the client's key order: parse to route
                        rec = json.loads(line)
                        pk = rec["pk"]
                    shard = zlib.crc32(pk.encode("utf-8")) % partition.n_shards
                    if shard == partition.shard_id:
                        yield (pk, (rec or json.loads(line))["data"], shard)


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
    """One task's delivery: the stub client's per-call ``(records,
    bytes, delivered)`` receipts and the spool files it wrote."""

    def __init__(self, receipts: list, files: list):
        self.receipts = receipts
        self.files = files


def _manifest(messages) -> dict:
    """Fold every task's receipts into one manifest's totals."""
    calls = [r for m in messages if m is not None for r in m.receipts]
    return {
        "n_chunks": len(calls),
        "n_records": sum(r[2] for r in calls),
        "max_chunk_records": max((r[0] for r in calls), default=0),
        "max_chunk_bytes": max((r[1] for r in calls), default=0),
    }


def _named_files(messages) -> list:
    """The spool files the tasks' messages name."""
    return [f for m in messages if m is not None for f in m.files]


def _write_json(path: str, obj: dict) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


def read_manifests(path: str, prefix: str) -> list:
    """The ``{prefix}*.json`` manifests the writers committed to ``path``."""
    out = []
    for f in sorted(os.listdir(path)):
        if f.startswith(prefix):
            with open(os.path.join(path, f)) as fh:
                out.append(json.load(fh))
    return out


class KinesisSpoolWriter(DataSourceWriter):
    """Batch SINK: ``df.write.format("kinesis_spool")``.

    ``write`` runs per partition ON THE EXECUTOR and pushes its
    partition iterator through ``sinks.send_rows``; spool files are
    namespaced by the task attempt id plus a random tag, so no two
    ``write`` calls share a name. ``commit`` runs once on the driver,
    only if every task succeeded, and writes ONE ``_MANIFEST_*``
    manifest — the transactional half the upstream Lambda lacks. A
    ``write`` that raises deletes the calls it already sent, since Spark
    hands ``abort`` no message for a failed task."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.run_id = uuid.uuid4().hex[:12]

    def write(self, iterator) -> _SpoolCommit:
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        client = KinesisStubClient(self.path, prefix=f"w{attempt:010d}_{uuid.uuid4().hex[:8]}_")
        try:
            send_rows(iterator, client, STREAM_NAME)
        except BaseException:
            self._remove(client.files)
            raise
        return _SpoolCommit(client.receipts, client.files)

    def commit(self, messages) -> None:
        _write_json(os.path.join(self.path, f"_MANIFEST_{self.run_id}.json"), _manifest(messages))

    def abort(self, messages) -> None:
        self._remove(_named_files(messages))

    def _remove(self, files: list) -> None:
        for f in files:
            os.remove(os.path.join(self.path, f))


class KinesisSpoolStreamWriter(KinesisSpoolWriter, DataSourceStreamWriter):
    """Streaming SINK: ``writeStream.format("kinesis_spool")``.

    ``write`` (inherited) sends each micro-batch partition through the
    same client and caps. ``commit(messages, batchId)`` writes ONE
    ``_EPOCH_{batchId}`` manifest per batch and — the exactly-once
    upgrade — refuses to re-commit an epoch whose manifest already
    exists: a batch replayed after a crash between sink commit and
    checkpoint write has its files deleted, so it cannot double-deliver
    (the idempotent-by-batchId logic of ``sinks.sink_idempotent_batchid``
    expressed through the V2 protocol instead of ``foreachBatch`` code)."""

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (Spark API name)
        man = os.path.join(self.path, f"_EPOCH_{batchId}.json")
        if os.path.exists(man):
            self._remove(_named_files(messages))  # replayed epoch: already delivered
            return
        _write_json(man, {"batch_id": batchId, **_manifest(messages)})

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._remove(_named_files(messages))


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

    def writer(self, schema, overwrite: bool) -> KinesisSpoolWriter:
        return KinesisSpoolWriter(self.options)

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
