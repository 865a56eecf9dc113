"""Parquet catalog over the driver testdata directories.

The reference discovers its inputs from S3 event notifications (A-4,
upstream ``main.go:~190-225`` approx — SURVEY.md §2.A); here the batch
analog is a directory of parquet tables. Reads go through
``spark.read.parquet`` so Catalyst gets predicate pushdown + column
pruning on every scan (verified in tests/test_plans.py).

This module also owns every directory the engine writes outside the
catalog, with two lifetimes: ``scratch_dir`` is per query (one path per
process, query and scale, reused by every call and removed at exit);
``temp_dir`` is fresh per call (replay fixtures, spools, stream outputs
and checkpoints) and removed at exit. One exit hook removes both.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from cloudtrail_streamer_spark.session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (application id, sf_dir, name) -> DataFrame. Re-reading parquet footers
# and re-applying runtime confs costs ~50 ms per table() call through py4j —
# measurable against sub-second queries (BASELINE.md §2). Keyed by Spark
# applicationId, not id(spark): CPython reuses object addresses, so a
# stopped-and-recreated session could alias a dead session's cache entries
# (VERDICT r03 #7).
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}

# Directories this process owns on disk (the scratch_dir pid root and every
# temp_dir), removed at interpreter exit.
_AT_EXIT: list[str] = []


@atexit.register
def _remove_at_exit() -> None:
    for path in _AT_EXIT:
        shutil.rmtree(path, ignore_errors=True)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a DataFrame (footer-read memoized)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    # Evict entries from other (stopped) sessions the first time a new
    # applicationId appears: stale DataFrames pin py4j JVM references for
    # the process lifetime in a long-lived host that restarts Spark
    # repeatedly (ADVICE r04). One live session per process is the usage
    # contract, so anything under a different app id is dead weight.
    if any(k[0] != app_id for k in _TABLE_CACHE):
        for k in [k for k in _TABLE_CACHE if k[0] != app_id]:
            del _TABLE_CACHE[k]
    configure(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ts stored as TIMESTAMP(NANOS): read as nanos-long (see
            # session.RUNTIME_CONFS) and truncate to micros — the same
            # truncation DuckDB applies, keeping the oracle comparable.
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # ts stored as TIMESTAMP(MICROS) without tz adjustment: Spark
            # reads TIMESTAMP_NTZ, which rejects epoch functions like
            # unix_micros. Session tz is pinned UTC (session.RUNTIME_CONFS),
            # so the cast to LTZ is wall-clock-identity and epoch math
            # matches DuckDB's epoch_us over the same naive values.
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def scratch_dir(query_name: str, sf_dir: str = "") -> str:
    """Per-(process, query, scale) scratch directory for write-then-read-
    back operators (sinks, layout ops): the same path for every call with
    the same arguments, removed at interpreter exit. Fixed WITHIN a
    process, so the bench harness's min-of-N reruns overwrite in place
    instead of leaking a fresh copy per invocation (ADVICE r03); scoped BY
    process id because two engine processes sharing one deterministic
    path race overwrite-against-read (observed in the r4 cross-scale
    drive: a concurrent driver-sim clobbered sim_index_partition_pruned's
    index mid-read); scoped BY scale factor because one process building
    the same query at two sf_dirs (bench.py --floor's lo/hi interleave)
    must not alias one path — the second build would overwrite files the
    first DataFrame's cached file index still points at (ADVICE r04).
    Callers write with mode("overwrite"), which makes reuse safe."""
    pid_root = os.path.join(tempfile.gettempdir(), f"cts_scratch_{os.getpid()}")
    if not os.path.isdir(pid_root):
        os.makedirs(pid_root, exist_ok=True)
        _AT_EXIT.append(pid_root)
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) if sf_dir else "nosf"
    sf_tag = "".join(ch if ch.isalnum() or ch in "._-" else "_" for ch in sf_tag)
    root = os.path.join(pid_root, sf_tag, query_name)
    os.makedirs(root, exist_ok=True)
    return root


def temp_dir(prefix: str) -> str:
    """A fresh ``{prefix}*`` directory directly in the temp dir, new on
    every call and removed at interpreter exit: replay fixtures, spools,
    stream outputs and checkpoints. It outlives the call that made it,
    because the DataFrames a query returns read these files lazily."""
    path = tempfile.mkdtemp(prefix=prefix)
    _AT_EXIT.append(path)
    return path


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register tables as temp views for spark.sql()-expressed operators."""
    for name in names or TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
