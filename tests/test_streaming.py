"""Streaming-harness assertions for the R-tier ops (SURVEY.md §5.2):
file-replay determinism, batch≡stream equivalence, watermark drops,
stateful dedup, update-mode final state, sink delivery parity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import table
from cloudtrail_streamer_spark.registry import all_queries
from cloudtrail_streamer_spark.streaming import harness
from cloudtrail_streamer_spark.streaming.windows_stream import tumbling_counts

SF = "/root/testdata/sf0.001"

# slow: each test runs real Structured Streaming micro-batches (trigger
# clocks, awaitTermination) — minutes of wall per module; the fast path
# covers the streaming OPS' logic via their batch twins in test_engine.
pytestmark = pytest.mark.slow


def _events_count(spark):
    return table(spark, SF, "events").count()


def _events_by_type(spark):
    return {
        r["event_type"]: r["n"]
        for r in table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_stream_files_equals_batch(spark):
    out = all_queries()["source_stream_files"](spark, SF)
    batch = (
        table(spark, SF, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(out.collect()) == sorted(batch.collect())


@pytest.fixture(scope="module")
def tumbling_replay(spark):
    """One tumbling replay, with a BatchMetricsListener attached, shared by
    the batch-equivalence test and the listener test: (streamed rows,
    listener batches)."""
    import time

    listener = harness.BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        replay = harness.write_replay_files(spark, SF)
        stream_in = harness.read_replay_stream(spark, replay)
        streamed = harness.run_stream_to_memory(
            tumbling_counts(stream_in), "tumb_eq", output_mode="complete"
        )
        deadline = time.time() + 30
        while time.time() < deadline and sum(
            b["num_input_rows"] for b in listener.batches
        ) < _events_count(spark):
            time.sleep(0.5)  # listener events arrive on a background thread
    finally:
        spark.streams.removeListener(listener)
    return streamed.collect(), list(listener.batches)


def test_stream_tumbling_batch_equivalence(spark, tumbling_replay):
    """The SAME transformation fn over batch vs stream inputs agrees."""
    streamed, _ = tumbling_replay
    batch = tumbling_counts(table(spark, SF, "events"))
    assert sorted(streamed) == sorted(batch.collect())


def test_listener_captures_batch_metrics(spark, tumbling_replay):
    """A-11 analog: the listener sees every micro-batch of that same
    replay with its row count and a throughput figure."""
    _, batches = tumbling_replay
    assert sum(b["num_input_rows"] for b in batches) == _events_count(spark)
    assert any(b["processed_rows_per_sec"] > 0 for b in batches)


def test_watermark_drops_late(spark):
    """Per-window certificate: n_on_time matches the DuckDB recompute
    exactly; emission obeys the one-sided watermark bounds (dropping is
    best-effort in Spark — see the op docstring); late rows drop in
    aggregate (VERDICT r03 #6)."""
    import duckdb

    rows = all_queries()["stream_watermark_late"](spark, SF).collect()
    assert len(rows) > 1, "certificate must be a per-window table"
    con = duckdb.connect()
    exp = {
        w: (on_time, total)
        for w, on_time, total in con.execute(
            f"""
            SELECT date_trunc('hour', ts) AS w,
                   COUNT(*) FILTER (WHERE event_id % 100 >= 5),
                   COUNT(*)
            FROM read_parquet('{SF}/events.parquet')
            GROUP BY 1
            """
        ).fetchall()
    }
    assert {r["window_start"] for r in rows} == set(exp)
    # final watermark = global max ts - 1h; windows ending after it are
    # never finalized in append mode and legitimately emit nothing
    import datetime

    max_ts = con.execute(
        f"SELECT MAX(ts) FROM read_parquet('{SF}/events.parquet')"
    ).fetchone()[0]
    final_wm = max_ts - datetime.timedelta(hours=1)
    n_exact = 0
    for r in rows:
        on_time, total = exp[r["window_start"]]
        assert r["n_on_time"] == on_time, "expected column must match DuckDB"
        assert r["n_source_window"] == total
        assert r["n_emitted"] + r["n_dropped"] == total
        assert r["n_emitted"] <= total
        if r["window_start"] + datetime.timedelta(hours=1) <= final_wm:
            assert r["n_emitted"] >= on_time, "on-time rows must be aggregated"
        n_exact += int(r["n_emitted"] == on_time)
    assert sum(r["n_dropped"] for r in rows) > 0, "late rows must drop in aggregate"
    # Spark's late-row drop is BEST-EFFORT and batch-timing-dependent
    # (windows near the watermark frontier are sometimes re-created and
    # re-admit late rows — see the op docstring). The guaranteed bounds
    # are the one-sided asserts above; this threshold only pins that the
    # drop path engages at all, at a level (50%) far below the observed
    # fixture behavior (~100%) so a timing shift cannot flake it
    # (ADVICE r04).
    assert n_exact >= len(rows) * 0.5, "best-effort drop should usually succeed"


def test_stateful_dedup_restores_source(spark):
    """Per-(event_type, day) certificate: n_delivered == n_source
    everywhere, and n_input doubles exactly where the next day-file
    exists — both recomputable in DuckDB (VERDICT r03 #6)."""
    import duckdb

    rows = all_queries()["stream_dedup_stateful"](spark, SF).collect()
    con = duckdb.connect()
    src = {
        (t, d): n
        for t, d, n in con.execute(
            f"""
            SELECT event_type,
                   datediff('day', TIMESTAMP '2024-01-01', ts) AS day, COUNT(*)
            FROM read_parquet('{SF}/events.parquet')
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    days = {d for (_t, d) in src}
    assert sum(r["n_delivered"] for r in rows) == _events_count(spark), (
        "adjacent-file duplicates must be dropped"
    )
    assert {(r["event_type"], r["day"]) for r in rows} == set(src)
    for r in rows:
        key = (r["event_type"], r["day"])
        assert r["n_delivered"] == r["n_source"] == src[key]
        # replay rule: day-d rows are re-emitted (with their original ts,
        # into file d+1) iff day d+1 exists — so grouped by ts-day the
        # input count is EXACTLY doubled there and untouched elsewhere
        expect_input = src[key] * 2 if r["day"] + 1 in days else src[key]
        assert r["n_input"] == expect_input, f"{key}: input must be {expect_input}"


def test_update_mode_final_state_equals_batch(spark):
    """Final state equals the batch GROUP BY, and n_updates equals the
    per-user distinct-day count (one day-file per trigger), recomputed
    in DuckDB (VERDICT r03 #6)."""
    import duckdb

    out = all_queries()["stream_agg_update"](spark, SF)
    batch = (
        table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {r["user_id"]: r["n"] for r in out.collect()}
    assert got == {r["user_id"]: r["n"] for r in batch}
    con = duckdb.connect()
    exp_updates = dict(
        con.execute(
            f"""
            SELECT user_id, COUNT(DISTINCT date_trunc('day', ts))
            FROM read_parquet('{SF}/events.parquet')
            GROUP BY 1
            """
        ).fetchall()
    )
    upd = {r["user_id"]: r["n_updates"] for r in out.collect()}
    assert upd == exp_updates, "update cadence must be one per day-file per user"


def test_kinesis_sink_delivers_all(spark):
    out = all_queries()["sink_foreachbatch_kinesis"](spark, SF)
    n = out.agg(F.sum("n")).collect()[0][0]
    assert n == _events_count(spark), "chunked retry writer must deliver every record"


def test_kinesis_chunking_limits(tmp_path):
    from cloudtrail_streamer_spark.streaming.sinks import (
        KinesisStubClient,
        put_records_chunked,
    )

    client = KinesisStubClient(str(tmp_path), fail_every=5)
    records = [
        {"Data": f"payload-{i}".encode(), "PartitionKey": str(i % 4)} for i in range(1234)
    ]
    delivered = put_records_chunked(client, "s", records)
    assert delivered == 1234
    # every call obeyed the 500-record cap
    assert client._call >= 3


def test_cloudtrail_pipeline_end_to_end(spark):
    """The full reference reproduction: envelope files → unwrap →
    chunked retrying delivery — per-type counts equal the source."""
    out = all_queries()["cloudtrail_pipeline_e2e"](spark, SF)
    got = {r["event_type"]: r["n"] for r in out.collect()}
    assert got == _events_by_type(spark)


def test_replay_plan_built_once_per_stream(spark, monkeypatch):
    """The dispatch/unwrap plan is built once on the stream, not once per
    micro-batch inside foreachBatch, and still delivers every record."""
    from cloudtrail_streamer_spark.streaming import cloudtrail

    calls = []
    real = cloudtrail.dispatch_unwrap

    def counting(raw):
        calls.append(raw.isStreaming)
        return real(raw)

    monkeypatch.setattr(cloudtrail, "dispatch_unwrap", counting)
    logs = cloudtrail.write_cloudtrail_files(spark, SF, files=3, sns_wrap_odd=True)
    out = cloudtrail._run_pipeline(spark, logs)
    got = {r["event_type"]: r["n"] for r in out.collect()}
    assert calls == [True], f"dispatch_unwrap calls (isStreaming): {calls}"
    assert got == _events_by_type(spark)


def test_run_pipeline_removes_its_checkpoint(spark, monkeypatch):
    """A finished delivery stream deletes its checkpoint (no new
    cts_ckpt_ct_* dir is left behind) and keeps the spool, which the
    returned frame reads lazily."""
    import os
    import tempfile

    from cloudtrail_streamer_spark.streaming import cloudtrail

    made = []
    real_mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        path = real_mkdtemp(*args, **kwargs)
        made.append(path)
        return path

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    logs = cloudtrail.write_cloudtrail_files(spark, SF, files=2)
    out = cloudtrail._run_pipeline(spark, logs)
    ckpts = [p for p in made if os.path.basename(p).startswith("cts_ckpt_ct_")]
    assert len(ckpts) == 1, made
    assert not os.path.exists(ckpts[0]), "the finished checkpoint must be removed"
    got = {r["event_type"]: r["n"] for r in out.collect()}
    assert got == _events_by_type(spark)


def test_kinesis_source_roundtrip_and_sharding(spark):
    """Produce→consume through the Kinesis stub: counts survive the
    round trip, and shard routing is a pure function of partition key
    (Kinesis' per-key ordering unit)."""
    out = all_queries()["source_kinesis_stub"](spark, SF)
    n = out.agg(F.sum("n")).collect()[0][0]
    assert n == _events_count(spark)

    from cloudtrail_streamer_spark.streaming.sinks import deliver_events_to_spool
    from cloudtrail_streamer_spark.streaming.sources import read_kinesis_stream

    spool = deliver_events_to_spool(spark, SF)
    consumed = harness.run_stream_to_memory(
        read_kinesis_stream(spark, spool), "kin_shards"
    )
    per_key = consumed.groupBy("pk").agg(
        F.countDistinct("shard_id").alias("n_shards")
    )
    assert per_key.where(F.col("n_shards") > 1).count() == 0, (
        "a partition key must never split across shards"
    )
    assert consumed.select("shard_id").distinct().count() > 1, (
        "multiple shards must be in use"
    )


def test_sns_dispatch_delivers_all(spark):
    """Mixed S3-direct + SNS-enveloped feed (A-2/A-3): dispatch must
    route both shapes and deliver every record exactly once."""
    out = all_queries()["cloudtrail_sns_dispatch"](spark, SF)
    got = {r["event_type"]: r["n"] for r in out.collect()}
    assert got == _events_by_type(spark)


def test_stream_stream_join_equals_batch(spark):
    """Dual-watermarked stream-stream inner join over AvailableNow
    replay must equal the batch range join exactly."""
    out = all_queries()["stream_stream_join"](spark, SF)
    ev = table(spark, SF, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    batch = (
        clicks.join(purchases, cond)
        .groupBy("p_user")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    out_rows = out.collect()
    got = {r["p_user"]: r["n_pairs"] for r in out_rows}
    want = {r["p_user"]: r["n_pairs"] for r in batch.collect()}
    assert got == want and len(got) > 0
    # bounded-state certificate (VERDICT r04 #7), now on the R-tier twin
    # (r8 split — the main row is H-tier): state peaked at a finite
    # value, the watermark advanced (lag well under the stream's
    # multi-day span), and the replay really ran micro-batches
    n_events = ev.count()
    r0 = all_queries()["stream_stream_join_cert"](spark, SF).collect()[0]
    assert r0["n_pairs_total"] == sum(want.values())
    assert 0 < r0["state_rows_peak"] <= n_events
    assert r0["state_bytes_peak"] > 0
    assert 0 <= r0["wm_lag_sec"] < 2 * 86400
    assert r0["n_batches"] > 1


def test_custom_state_final_equals_batch(spark):
    out = all_queries()["stream_custom_state"](spark, SF)
    batch = (
        table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out_rows = out.collect()
    got = {r["user_id"]: r["n"] for r in out_rows}
    assert got == {r["user_id"]: r["n"] for r in batch}
    # bounded-state certificate (VERDICT r04 #7): keyed state must peak
    # at exactly |users| rows — state growing with rows-processed, not
    # keys, would exceed it. Bytes positivity is enforced INSIDE the
    # query (raises) since r7's H-upgrade; the hashable cert columns are
    # the deterministic pair (rows peak, data-batch count).
    assert out_rows[0]["state_rows_peak"] == len(batch)
    assert out_rows[0]["n_data_batches"] > 1


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart tolerance (the reference's Lambda-redelivery analog):
    a file-sink stream stopped after a partial feed and resumed from the
    same checkpoint must produce every source row exactly once."""
    import os
    import shutil

    replay = harness.write_replay_files(spark, SF)
    held = tmp_path / "held"
    held.mkdir()
    files = sorted(os.listdir(replay))
    for f in files[len(files) // 2 :]:  # hold back the second half
        shutil.move(os.path.join(replay, f), os.path.join(held, f))

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        writer = (
            harness.read_replay_stream(spark, replay)
            .writeStream.format("parquet")
            .option("path", out)
        )
        harness.run_to_completion(writer, "resume_run_once", "resume", checkpoint=ckpt)

    run_once()
    for f in os.listdir(held):  # deliver the rest, then resume
        shutil.move(os.path.join(held, f), os.path.join(replay, f))
    run_once()

    sunk = spark.read.schema(harness.EVENTS_SCHEMA).parquet(out)
    assert sunk.count() == _events_count(spark)
    assert sunk.select("event_id").distinct().count() == _events_count(spark), (
        "resume from checkpoint must not duplicate rows"
    )


def test_replayed_batch_after_crash_is_same_batch(spark, tmp_path):
    """A crash between ``walCommit`` and ``commitOffsets`` (the offset
    log holds batch N, the commit log does not) replays batch N on
    restart: the same batch id over the same file, and no other batch,
    on the checkpoint manager every package query runs on."""
    import os

    replay = tmp_path / "replay"
    replay.mkdir()
    stream = _tiny_replay_stream(spark, replay, files=3).select(
        F.input_file_name().alias("f")
    )
    ckpt = str(tmp_path / "ckpt")
    seen = []

    def record(batch_df, batch_id):
        files = {os.path.basename(r["f"]) for r in batch_df.select("f").distinct().collect()}
        seen.append((batch_id, sorted(files)))

    def run():
        writer = stream.writeStream.foreachBatch(record)
        harness.run_to_completion(writer, "crash_replay", "crash", checkpoint=ckpt)

    run()
    assert seen == [(i, [f"f_{i:04d}.json"]) for i in range(3)], seen
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last == 2
    for f in (str(last), f".{last}.crc"):  # the commit the crash never wrote
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    seen.clear()
    run()
    assert seen == [(2, ["f_0002.json"])], seen


def test_custom_datasource_stream_writer_roundtrip(spark, tmp_path):
    """writeStream.format('kinesis_spool') must deliver every source row
    executor-side (chunked retrying client, no driver collect); reading
    the delivered spool back through the batch connector recovers the
    exact event_id set."""
    from cloudtrail_streamer_spark.streaming.spool_source import register

    register(spark)
    replay = harness.write_replay_files(spark, SF)
    out_spool = str(tmp_path / "spool")
    events = harness.read_replay_stream(spark, replay)
    writer = (
        events.select(
            F.col("user_id").cast("string").alias("pk"),
            F.to_json(F.struct(*events.columns)).alias("data"),
        )
        .writeStream.format("kinesis_spool")
        .option("path", out_spool)
    )
    harness.run_to_completion(writer, "dswt_spool", "dswt")
    back = (
        spark.read.format("kinesis_spool").option("path", out_spool).load()
    ).select(F.get_json_object("data", "$.event_id").cast("long").alias("event_id"))
    assert back.count() == _events_count(spark)
    assert back.distinct().count() == _events_count(spark)


def test_custom_datasource_partitioning_and_shard_agreement(spark):
    """The Python Data Source must plan one partition per shard and
    route every partition key to the SAME shard as the streaming
    consumer (both hash UTF-8 bytes with crc32)."""
    from cloudtrail_streamer_spark.streaming.sinks import deliver_events_to_spool
    from cloudtrail_streamer_spark.streaming.sources import read_kinesis_stream
    from cloudtrail_streamer_spark.streaming.spool_source import register

    spool = deliver_events_to_spool(spark, SF)
    register(spark)
    ds = spark.read.format("kinesis_spool").option("path", spool).load()
    assert ds.rdd.getNumPartitions() == 4, "one input partition per shard"

    streamed = harness.run_stream_to_memory(
        read_kinesis_stream(spark, spool), "kin_agree"
    )
    a = ds.select("pk", F.col("shard_id").alias("s1")).distinct()
    b = streamed.select("pk", F.col("shard_id").alias("s2")).distinct()
    disagree = a.join(b, "pk").where(F.col("s1") != F.col("s2")).count()
    assert disagree == 0, "both consumers must route keys identically"


def test_kinesis_stub_replay_exposes_duplicates(tmp_path):
    """Honesty check (VERDICT r02 wrong-#4): the chunked writer is
    AT-LEAST-ONCE — replaying the same records through the same client
    visibly duplicates the spool (the stub must not mask it); dedup is
    the downstream consumer's job (sink_idempotent_batchid shows the
    batchId-marker upgrade to exactly-once)."""
    import json
    import os

    from cloudtrail_streamer_spark.streaming.sinks import (
        KinesisStubClient,
        put_records_chunked,
    )

    spool = str(tmp_path / "spool")
    client = KinesisStubClient(spool, fail_every=3)
    recs = [
        {"Data": f"payload-{i}".encode(), "PartitionKey": str(i % 4)}
        for i in range(20)
    ]
    assert put_records_chunked(client, "s", list(recs)) == 20
    assert put_records_chunked(client, "s", list(recs)) == 20  # the replay

    lines = []
    for f in sorted(os.listdir(spool)):
        with open(os.path.join(spool, f)) as fh:
            lines += [json.loads(ln) for ln in fh]
    assert len(lines) == 40, "replay must be visible as duplicates"
    from collections import Counter

    per_payload = Counter(ln["data"] for ln in lines)
    assert all(v == 2 for v in per_payload.values())


def test_stream_static_join_batch_equivalence(spark):
    """stream_join_static: the same enrichment fn over a replayed file
    stream must agree with the batch result — the static dim broadcasts
    into each micro-batch."""
    from cloudtrail_streamer_spark.streaming.windows_stream import (
        _event_weight_dim,
        enriched_daily_weights,
    )

    dim = _event_weight_dim(spark)
    replay = harness.write_replay_files(spark, SF)
    stream_in = harness.read_replay_stream(spark, replay)
    streamed = harness.run_stream_to_memory(
        enriched_daily_weights(stream_in, dim), "static_join_eq",
        output_mode="complete",
    )
    batch = enriched_daily_weights(table(spark, SF, "events"), dim)
    assert sorted(streamed.collect()) == sorted(batch.collect())


def test_cascade_foreachbatch_equivalence(spark):
    """stream_cascade_agg: level 1 streams via foreachBatch into a keyed
    upsert store; level 2 derives from the final store and must equal
    the batch cascade."""
    from cloudtrail_streamer_spark.streaming.windows_stream import (
        activity_histogram,
        daily_user_counts,
    )

    replay = harness.write_replay_files(spark, SF)
    stream_in = harness.read_replay_stream(spark, replay)
    state: dict = {}

    def upsert(batch_df, batch_id):
        for r in batch_df.collect():
            state[(r["user_id"], r["w"]["start"])] = r["n"]

    writer = daily_user_counts(stream_in).writeStream.outputMode("update").foreachBatch(upsert)
    harness.run_to_completion(writer, "cascade_upsert", "cascade")
    lvl1 = spark.createDataFrame(
        [(n,) for n in state.values()], "n long"
    )
    streamed = (
        lvl1.groupBy(F.col("n").alias("daily_events"))
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy("daily_events")
    )
    batch = activity_histogram(daily_user_counts(table(spark, SF, "events")))
    assert sorted(streamed.collect()) == sorted(batch.collect())


def test_tws_processor_state_logic():
    """Unit-drive the StatefulProcessor kernel for
    stream_transform_with_state with a fake handle/state — the TWS code
    path stays tested even where protobuf (its wire protocol dep) is
    absent and the op executes on the applyInPandasWithState fallback."""
    import pandas as pd

    from cloudtrail_streamer_spark.streaming.windows_stream import (
        _RunningUserProcessor,
    )

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()

        def getValueState(self, name, schema):
            assert name == "running" and "cents" in schema
            return self.state

    proc = _RunningUserProcessor()
    handle = FakeHandle()
    proc.init(handle)
    b1 = pd.DataFrame({"value": [1.25, 2.00]})
    b2 = pd.DataFrame({"value": [0.75]})
    (out1,) = proc.handleInputRows((7,), iter([b1]), None)
    assert out1.iloc[0].to_dict() == {"user_id": 7, "n": 2, "total_value": 3.25}
    (out2,) = proc.handleInputRows((7,), iter([b2]), None)
    assert out2.iloc[0].to_dict() == {"user_id": 7, "n": 3, "total_value": 4.00}
    assert handle.state.v == (3, 400)
    proc.close()


def test_tws_final_equals_batch(spark):
    """stream_transform_with_state: latest-per-user equals the batch
    GROUP BY (the H-tier contract), and state stays keyed by user."""
    out = all_queries()["stream_transform_with_state"](spark, SF).collect()
    batch = (
        table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert {r["user_id"]: r["n"] for r in out} == {
        r["user_id"]: r["n"] for r in batch
    }


def test_session_dynamic_gap_stream_equals_batch(spark):
    """The dynamic-gap sessionization must produce identical sessions
    when run as a watermarked stream (complete mode over the replay) and
    as a batch query — the Structured Streaming shared-operator
    contract for the round-7 B-47-ext surface."""
    from cloudtrail_streamer_spark.streaming.windows_stream import dyn_session_stats

    replay = harness.write_replay_files(spark, SF)
    stream = harness.read_replay_stream(spark, replay).withWatermark("ts", "2 days")
    name = f"dynsess_{__import__('uuid').uuid4().hex[:8]}"
    out = harness.run_stream_to_memory(
        dyn_session_stats(stream), name, output_mode="complete"
    )
    # the JSON replay serializes ts at millisecond precision; feed the
    # batch side the same truncation so session keys align
    batch = dyn_session_stats(
        table(spark, SF, "events").withColumn(
            "ts", F.timestamp_millis(F.unix_millis(F.col("ts")))
        )
    )
    key = lambda r: (r["user_id"], r["session_start"])
    got = {key(r): (r["n_events"], r["duration_ms"]) for r in out.collect()}
    want = {key(r): (r["n_events"], r["duration_ms"]) for r in batch.collect()}
    assert got == want


def test_timeout_raises_not_partial(spark, tmp_path):
    """VERDICT r09 "What's wrong" #1: a query that cannot finish within
    the timeout must RAISE (after stopping the query), never fall
    through to reading a partial memory sink. Three one-row files with a
    2 s/row sleeping UDF cannot finish in 1 s."""
    import json
    import os
    import time

    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    replay = str(tmp_path)
    for i in range(3):
        p = os.path.join(replay, f"f_{i:04d}.json")
        with open(p, "w") as fh:
            fh.write(json.dumps({"v": i}) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    @udf(LongType())
    def crawl(v):
        time.sleep(2.0)
        return v

    stream = (
        spark.readStream.schema("v LONG")
        .option("maxFilesPerTrigger", 1)
        .json(replay)
        .select(crawl(F.col("v")).alias("v"))
    )
    name = f"slowq_{__import__('uuid').uuid4().hex[:8]}"
    with pytest.raises(TimeoutError, match="did not terminate"):
        harness.run_stream_to_memory(stream, name, timeout_sec=1.0)
    # the guard must have stopped the query, not left it running
    deadline = time.time() + 30
    while time.time() < deadline and any(
        q.name == name for q in spark.streams.active
    ):
        time.sleep(0.5)
    assert not any(q.name == name for q in spark.streams.active)


class _ConditionError(Exception):
    """Synthetic PySpark-4-shaped exception: carries an error condition
    via getCondition(), like pyspark.errors.StreamingQueryException."""

    def __init__(self, msg: str, condition: str) -> None:
        super().__init__(msg)
        self._condition = condition

    def getCondition(self) -> str:  # noqa: N802 (PySpark API name)
        return self._condition


def _tiny_replay_stream(spark, tmp_path, files=2):
    """One-row files, one per batch -> a trivially fast file-source stream."""
    import json
    import os

    replay = str(tmp_path)
    for i in range(files):
        p = os.path.join(replay, f"f_{i:04d}.json")
        with open(p, "w") as fh:
            fh.write(json.dumps({"v": i}) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return (
        spark.readStream.schema("v LONG").option("maxFilesPerTrigger", 1).json(replay)
    )


def test_runtime_commit_error_propagates_not_retried(spark, monkeypatch, tmp_path):
    """Fault injection (VERDICT r10 #3): a runtime
    CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT raised while awaiting the
    query must PROPAGATE out of run_stream_to_memory — exactly one
    start, no silent retry on the default provider — and both
    state-store confs must be restored on the error path."""
    import uuid

    prior_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prior_changelog = spark.conf.get(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", None
    )
    calls = []

    def inject(q, name, timeout_sec):
        calls.append(name)
        try:
            q.stop()
        except Exception:
            pass
        raise _ConditionError(
            "[CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT] Cannot perform commit",
            condition="CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT",
        )

    monkeypatch.setattr(harness, "await_or_raise", inject)
    name = f"fi_commit_{uuid.uuid4().hex[:8]}"
    with pytest.raises(_ConditionError, match="CANNOT_COMMIT"):
        harness.run_stream_to_memory(_tiny_replay_stream(spark, tmp_path), name)
    assert calls == [name], "runtime state-store failure must not be retried"
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        == prior_provider
    )
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            None,
        )
        == prior_changelog
    )


def test_suggest_stream_partitions_scales_with_input(spark, tmp_path):
    """r11 scale-adaptive state partitioning: the derivation must follow
    per-batch input volume — floor 4 for tiny replay files, ~1 per 32 MB
    for big ones, never above the session's configured value; over
    several directories the largest file decides, and no directory
    keeps the session value."""
    from cloudtrail_streamer_spark.streaming.harness import (
        suggest_stream_partitions,
    )

    session_val = int(spark.conf.get("spark.sql.shuffle.partitions"))

    tiny = tmp_path / "tiny"
    tiny.mkdir()
    (tiny / "events_0001.json.gz").write_bytes(b"x" * 1024)
    assert suggest_stream_partitions([str(tiny)], spark) == min(4, session_val)

    big = tmp_path / "big"
    big.mkdir()
    with open(big / "events_0001.json", "wb") as f:
        f.truncate(200 * 1024 * 1024)  # sparse 200 MB -> ceil(200/32) = 7
    assert suggest_stream_partitions([str(big)], spark) == min(7, session_val)
    assert suggest_stream_partitions([str(tiny), str(big)], spark) == min(7, session_val)
    assert suggest_stream_partitions([], spark) == session_val


def _json_stream(spark, src):
    import json

    (src / "events_0001.json").write_text(json.dumps({"v": 1}) + "\n")
    return spark.readStream.schema("v LONG").json(str(src))


def _spool_stream(spark, src):
    import json

    from cloudtrail_streamer_spark.streaming.spool_source import register

    (src / "call_00000.jsonl").write_text(json.dumps({"pk": "1", "data": "x"}) + "\n")
    register(spark)
    return spark.readStream.format("kinesis_spool").option("path", str(src)).load()


def _generator_stream(spark, src):
    from cloudtrail_streamer_spark.operators.datasource_py import CloudTrailGenDataSource

    spark.dataSource.register(CloudTrailGenDataSource)
    return spark.readStream.format("cloudtrail_gen").option("n_events", 10).load()


@pytest.mark.parametrize(
    "make_stream, reads_dir",
    [(_json_stream, True), (_spool_stream, True), (_generator_stream, False)],
    ids=["json_files", "kinesis_spool", "cloudtrail_gen"],
)
def test_stream_shuffle_scope_restores_session_conf(spark, tmp_path, make_stream, reads_dir):
    """run_to_completion's partition rule and its FileSystem checkpoint
    manager must apply while the query runs, seen by the session and by
    each micro-batch's session, and the exact prior session values (the
    manager's: unset) must come back afterwards (ADVICE r10 #2
    conf-leak rule). The count comes from the stream's own source
    directory, found in its plan; a generator stream has none and
    keeps the session value."""
    src = tmp_path / "source"
    src.mkdir()
    stream = make_stream(spark, src)
    conf = "spark.sql.shuffle.partitions"
    manager = "spark.sql.streaming.checkpointFileManagerClass"
    prior = spark.conf.get(conf)
    assert spark.conf.get(manager, None) is None
    seen = []

    def record(batch_df, batch_id):
        seen.append(
            (
                spark.conf.get(conf),
                batch_df.sparkSession.conf.get(conf),
                spark.conf.get(manager, None),
                batch_df.sparkSession.conf.get(manager, None),
            )
        )

    harness.run_to_completion(stream.writeStream.foreachBatch(record), "shuffle_scope", "shuf")
    want = str(harness.suggest_stream_partitions([str(src)], spark)) if reads_dir else prior
    fs = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    assert seen and set(seen) == {(want, want, fs, fs)}, seen
    assert spark.conf.get(conf) == prior
    assert spark.conf.get(manager, None) is None


_CHILD_RUN = """
import sys

sys.path.insert(0, sys.argv[1])
from cloudtrail_streamer_spark.registry import all_queries
from cloudtrail_streamer_spark.session import get_session
from cloudtrail_streamer_spark.streaming import cloudtrail

spark = get_session("cts-temp-owner")
queries = all_queries()
logs = cloudtrail.write_cloudtrail_files(spark, sys.argv[2], files=2)
results = {
    name: queries[name](spark, sys.argv[2])
    for name in ("sink_idempotent_batchid", "source_state_store_reader")
}
results["_run_pipeline"] = cloudtrail._run_pipeline(spark, logs)
for name, df in results.items():
    if not df.collect():
        raise SystemExit(f"{name} returned no rows")
"""


def test_streaming_temp_dirs_removed_at_exit(tmp_path):
    """Every fixture, spool, output and checkpoint a streaming query
    makes is gone once its process exits: a child process with its temp
    dir pointed at ``tmp_path`` runs three queries that write all four
    kinds, collects each result (the lazily read files must still be
    there), and leaves no ``cts_*`` entry behind."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_CPUS": "2"}
    subprocess.run(
        [sys.executable, "-c", _CHILD_RUN, root, SF], env=env, check=True, timeout=900
    )
    assert not [e for e in os.listdir(tmp_path) if e.startswith("cts_")]
