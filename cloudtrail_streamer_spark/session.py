"""SparkSession factory + per-session runtime configuration.

Replaces the reference's env-var Config bootstrap (A-1/A-12, upstream
``main.go:~25-55`` and ``~300-315`` approx — SURVEY.md §2.A): fail-fast
config at startup, client/session reuse across invocations.

Every query entrypoint routes through :func:`configure` so that even when
the *driver* constructs the SparkSession (the t1/t2 harness does), the
determinism-critical runtime confs (UTC session timezone, AQE, Arrow) are
applied. Only runtime-settable confs are touched here.
"""

from __future__ import annotations

import contextlib
import os
import warnings

from pyspark.sql import SparkSession

# Confs that are runtime-settable and required for determinism / perf.
# SURVEY.md §5.3 rule 1 (UTC), §4.2 (AQE, Arrow).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Runtime-settable: without this a default (driver-owned) session runs
    # every shuffle with 200 partitions — pure scheduling overhead at test
    # scale. AQE still re-coalesces at real scale.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Respect the 64 MB advisory partition size when coalescing instead of
    # preserving parallelism (the Spark-recommended setting): tiny shuffles
    # collapse to few tasks, cutting the per-query scheduling floor ~2×
    # locally (measured: headline subset 1.95→1.45 s at sf0.1); at 100 TB
    # the advisory size, not parallelism, is the right coalesce target.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE replace a sort-merge join with a shuffled hash join at
    # runtime when every build-side map partition is under 64 MB (the
    # advisory partition size). Size-gated per partition, so it cannot
    # OOM at scale the way a static preferSortMergeJoin=false could —
    # and it removes both sort passes from shuffle joins. Measured at
    # sf1: tpch_q3 1.015→0.755 s, dedup_exact 0.309→0.261 s,
    # agg_group_q1 0.584→0.502 s (min-of-3, quiet host).
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: keep permissive casts aligned with DuckDB-oracle behavior
    # for e.g. malformed JSON returning NULL rather than erroring.
    "spark.sql.ansi.enabled": "false",
    # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long and convert (catalog.table truncates to micros,
    # exactly matching DuckDB's nanos→micros truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let Python DataSources see predicates at planning time
    # (operators/datasource_py.py prunes generator splits with it; off =
    # same results, no source-side pruning). Default is false in 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
}

# Build-time confs used when *we* own session construction (tests, bench).
BUILD_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.driver.memory": "8g",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Files: at 100 TB the default 128MB split size is right; locally the
    # inputs are tiny so this is moot, but keep the scale default.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    # Keep stage-progress \r spam out of captured stdout/stderr — the
    # external bench driver keeps only the last 2000 bytes of output and
    # parses the final JSON line.
    "spark.ui.showConsoleProgress": "false",
}


# key -> error for every conf configure() could not set (latest error).
CONF_ERRORS: dict[str, str] = {}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable determinism confs to an existing session.

    A conf this build refuses at runtime does not fail the query path
    (the session default must then already be right), but it is loud:
    recorded in ``CONF_ERRORS`` and warned about."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            CONF_ERRORS[k] = str(e)
            warnings.warn(f"could not set {k}={v}: {e}", RuntimeWarning, stacklevel=2)
    return spark


@contextlib.contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` for the duration of the block, then put back each
    prior value, or unset the key if it had none — so no query leaks a
    session conf into the next one. A plan that must keep the scoped
    behaviour is forced through the optimizer inside the block
    (QueryExecution memoizes it)."""
    # conf values are strings, so None unambiguously means "not set"
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_session(app_name: str = "cloudtrail-streamer-spark") -> SparkSession:
    """Build (or reuse) a local session with engine defaults.

    local[N] with N from $SPARK_GRAFT_CPUS (default all cores). On a real
    cluster the same confs apply; only ``master`` changes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return configure(spark)
