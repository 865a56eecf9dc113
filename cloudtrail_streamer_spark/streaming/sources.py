"""Source operators (SURVEY.md §2.B B-3, B-4) — the A-4..A-7 analogs.

The reference discovers newly-delivered gzipped JSON files via S3 event
notifications, fetches and gunzips them, and unwraps Records[] (upstream
``main.go:~120-225`` approx). Spark-first: the file source's listing +
checkpoint IS the notification stream; ``.json.gz`` decompression and
parsing are native to the reader; schema enforcement replaces the
envelope decode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import table, temp_dir
from cloudtrail_streamer_spark.functions import dsum
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.streaming import harness
from cloudtrail_streamer_spark.streaming.sinks import (
    DELIVERED_COUNTS_ORACLE,
    SPOOL_RECORD_SCHEMA,
    delivered_counts,
    deliver_events_to_spool,
)


@query("source_stream_files", oracle=DELIVERED_COUNTS_ORACLE, survey_id="B-3")
def source_stream_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file-stream ingest: replay events as a file stream
    (AvailableNow), count per event_type. Tier H since r10 (VERDICT r09
    #5): the replay fixture is a lossless re-materialization of the
    events table, so the streamed complete-mode counts hash-compare
    against the oracle's batch GROUP BY — a dropped file, a re-read, or
    a watermark bug is a driver hash mismatch (also asserted in
    tests/test_streaming.py)."""
    stream = harness.read_replay_stream(spark, harness.write_replay_files(spark, sf_dir))
    import uuid

    name = f"src_files_{uuid.uuid4().hex[:8]}"
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return harness.run_stream_to_memory(counts, name, output_mode="complete")


N_SHARDS = 4


def read_kinesis_stream(
    spark: SparkSession, spool_dir: str, n_shards: int = N_SHARDS
) -> DataFrame:
    """Structured-Streaming consumer over a Kinesis-shaped spool — the
    source-side counterpart of sinks.deliver_partitions (the reference is
    producer-only; a capability superset needs the consumer too).

    Shard routing mirrors Kinesis' hash-of-partition-key model
    (crc32(pk) % n_shards standing in for the MD5 hash-key range split):
    all records of one partition key land in one shard, in spool order —
    Kinesis' per-key ordering guarantee. Incremental consumption (the
    GetRecords loop analog) comes from the file source's listing
    checkpoint + maxFilesPerTrigger. The records carry the spool's
    ``(pk, data)`` schema and the consumer adds shard routing; a real
    connector swap changes only the readStream format string, not this
    schema or anything downstream."""
    raw = (
        spark.readStream.schema(SPOOL_RECORD_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .json(spool_dir)
    )
    return raw.withColumn(
        "shard_id", (F.crc32(F.col("pk").cast("binary")) % n_shards).cast("int")
    )


@query("source_kinesis_stub", oracle=DELIVERED_COUNTS_ORACLE, survey_id="B-6-ext")
def source_kinesis_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full produce→consume round trip through the Kinesis stub: events
    are delivered by the executor-side chunked retrying sink (B-6), then
    the streaming consumer reads the shard spool back with Kinesis
    record schema + shard routing and aggregates per event_type. H-tier:
    per-type counts must equal the original events table exactly —
    despite chunking, injected partial failures, and resharding."""
    import uuid

    spool = deliver_events_to_spool(spark, sf_dir)
    counts = delivered_counts(read_kinesis_stream(spark, spool))
    name = f"src_kinesis_{uuid.uuid4().hex[:8]}"
    return harness.run_stream_to_memory(counts, name, output_mode="complete")


_JSON_GZ_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


_CORRUPT_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE event_id % 50 <> 0
GROUP BY event_type
UNION ALL
SELECT '_quarantined' AS event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE event_id % 50 = 0
"""


@query("source_corrupt_records", oracle=_CORRUPT_ORACLE, survey_id="A-11")
def source_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine (A-11's missing half, VERDICT r02
    next-#6): real feeds go bad — the reference's answer is logrus + a
    whole-file Lambda retry (upstream ``main.go:~100-120`` approx); the
    Spark-first answer is PERMISSIVE parsing with
    ``columnNameOfCorruptRecord``, so one malformed line quarantines ONE
    record, not the file.

    Every 50th event's JSON line is deterministically mangled (truncated
    + unescaped quote → unparseable) before the gzip write. The read
    back classifies each line in ONE scan/agg — good rows keep their
    event_type, corrupt rows land in the '_quarantined' bucket (the
    label references both a data column and the corrupt column, which
    also satisfies Spark's no-corrupt-column-only-queries rule without a
    cache). Raw corrupt lines are additionally spooled to a quarantine
    dir for replay/debugging, the badRecordsPath pattern. H-tier: the
    oracle recomputes both partitions of the count arithmetically."""
    import os

    ev = table(spark, sf_dir, "events")
    line = F.to_json(
        F.struct("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    mangled = F.concat(F.lit('{"broken": "'), F.substring(line, 1, 20))
    txt = ev.select(
        F.when(F.col("event_id") % 50 == 0, mangled).otherwise(line).alias("value")
    )
    base = temp_dir("cts_corrupt_")
    feed = os.path.join(base, "feed")
    txt.write.mode("overwrite").option("compression", "gzip").text(feed)

    back = (
        spark.read.schema(harness.EVENTS_SCHEMA + ", _corrupt_record STRING")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("mode", "PERMISSIVE")
        .json(feed)
    )
    # The quarantine projection keeps a REAL data column referenced
    # (coalesce with event_type, null on corrupt rows, so the emitted
    # line is just the raw text): Spark refuses plans whose file scan
    # references only the internal corrupt-record column
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) unless the
    # parsed frame is cached first — and a cache is the wrong tool at
    # 100 TB when one extra pruned column does the job.
    quarantine = back.where(F.col("_corrupt_record").isNotNull()).select(
        F.concat(
            F.coalesce(F.col("event_type"), F.lit("")), F.col("_corrupt_record")
        ).alias("value")
    )
    quarantine.write.mode("overwrite").text(os.path.join(base, "quarantine"))
    label = F.when(
        F.col("_corrupt_record").isNotNull(), F.lit("_quarantined")
    ).otherwise(F.col("event_type"))
    return back.groupBy(label.alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@query("source_json_gz", oracle=_JSON_GZ_ORACLE, survey_id="B-4")
def source_json_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped JSON-lines round trip (A-6/A-7 analog): write events as
    .json.gz, batch-read with explicit schema, aggregate. H-tier: the
    round trip is lossless (shortest-repr doubles, ISO micros), so the
    counts/sums match the parquet-sourced oracle exactly."""
    ev = table(spark, sf_dir, "events")
    out = temp_dir("cts_jsongz_") + "/events_json"
    ev.write.mode("overwrite").option("compression", "gzip").json(out)
    back = spark.read.schema(harness.EVENTS_SCHEMA).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "total_value")
    )


_INCREMENTAL_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_first_run,
       CAST(COUNT(*) FILTER (WHERE event_id % 10 = 0) AS BIGINT) AS n_second_run,
       CAST(COUNT(*) + COUNT(*) FILTER (WHERE event_id % 10 = 0) AS BIGINT)
         AS n_total
FROM events
"""


@query("source_incremental_checkpoint", oracle=_INCREMENTAL_ORACLE, survey_id="B-3-ext")
def source_incremental_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resumed INCREMENTAL ingestion — the property that makes
    the file source a replacement for the reference's S3-notification
    bookkeeping (A-4: "only new objects"): run 1 drains the replay dir
    through a counting sink; a late file then lands; run 2 restarts the
    SAME query from the SAME checkpoint and processes ONLY the new file
    — no reprocessing, no loss. The certificate row
    (n_first_run, n_second_run, n_total) is hash-checked arithmetically:
    the late file carries exactly the event_id % 10 == 0 slice. At
    100 TB this is how backfills stay O(new data): the checkpoint's file
    log, not a full listing diff, decides what each restart reads."""
    import os
    import uuid

    from pyspark.sql import functions as _F

    replay = harness.write_replay_files(spark, sf_dir)
    ckpt = temp_dir("cts_ckpt_incr_")
    sink: dict[str, int] = {"run1": 0, "run2": 0, "key": "run1"}

    def count_batch(batch_df, batch_id):
        sink[sink["key"]] += batch_df.count()

    def run_once():
        writer = harness.read_replay_stream(spark, replay).writeStream.foreachBatch(count_batch)
        harness.run_to_completion(writer, "source_incremental_checkpoint", "incr", checkpoint=ckpt)

    run_once()

    # a late file arrives: the event_id % 10 == 0 slice, re-delivered
    late = table(spark, sf_dir, "events").where(_F.col("event_id") % 10 == 0)
    late_path = os.path.join(replay, f"late_{uuid.uuid4().hex[:8]}.json")
    staged = temp_dir("cts_late_")
    late.coalesce(1).write.mode("overwrite").json(staged)
    part = [f for f in os.listdir(staged) if f.endswith(".json")][0]
    os.rename(os.path.join(staged, part), late_path)

    sink["key"] = "run2"
    run_once()

    return spark.createDataFrame(
        [(sink["run1"], sink["run2"], sink["run1"] + sink["run2"])],
        "n_first_run long, n_second_run long, n_total long",
    )


_STATE_READER_ORACLE = """
SELECT user_id, COUNT(*) AS n
FROM events
GROUP BY user_id
"""


@query("source_state_store_reader", oracle=_STATE_READER_ORACLE, survey_id="B-3-ext")
def source_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 State Data Source: read a streaming checkpoint's state
    store back as a BATCH DataFrame (`spark.read.format("statestore")`)
    — the operational surface for inspecting, auditing, or repairing
    the state of a long-running stateful stream without touching the
    stream itself. At 100 TB this is how you answer "what is in my
    session-window state right now" or bootstrap a replacement query
    from live state: the reader scans the per-partition state files in
    parallel, no replay needed.

    A per-user running-count stream runs to completion (AvailableNow)
    on a checkpoint that lives until interpreter exit; the op then (a)
    lists the stateful operator via the companion `state-metadata`
    source and asserts exactly one keyed store, and (b) reads the final
    state lazily and returns (user_id, n) — which must equal the batch
    GROUP BY, because the post-replay state IS the aggregate. H-tier
    against that oracle."""
    import uuid

    stream = harness.read_replay_stream(spark, harness.write_replay_files(spark, sf_dir))
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ckpt = temp_dir("cts_ckpt_statereader_")
    writer = (
        agg.writeStream.format("memory")
        .queryName(f"state_reader_{uuid.uuid4().hex[:8]}")
        .outputMode("update")
    )
    harness.run_to_completion(writer, "source_state_store_reader", "statereader", checkpoint=ckpt)

    meta = spark.read.format("state-metadata").load(ckpt)
    stateful_ops = meta.select("operatorId", "stateStoreName").collect()
    if len(stateful_ops) != 1:  # not assert: the guard must survive python -O
        raise ValueError(f"expected one keyed store, got {stateful_ops}")

    return spark.read.format("statestore").load(ckpt).select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("long").alias("n"),
    )
