"""Engine facade — the three entry points of SURVEY.md §3.2.

A thin, stateful convenience layer over the registry/catalog: DataFrame
(``engine.table(...)`` chains), SQL (``engine.sql(...)``), and streaming
(``engine.stream_events(...)``). Everything resolves to the same Catalyst
logical plans as the registered operators; nothing below the
DataFrame/SQL surface is reimplemented (explicit non-goal, SURVEY.md §7).

Usage::

    from cloudtrail_streamer_spark.engine import Engine
    eng = Engine(sf_dir="/root/testdata/sf0.01")
    eng.table("lineitem").groupBy("l_returnflag").count().show()
    eng.sql("SELECT COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey")
    eng.run("agg_group_q1")          # any registered operator by name
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cloudtrail_streamer_spark.catalog import DEFAULT_SF_DIR, register_views, table
from cloudtrail_streamer_spark.registry import all_queries
from cloudtrail_streamer_spark.session import configure, get_session


class Engine:
    def __init__(self, spark: SparkSession | None = None, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = configure(spark) if spark is not None else get_session()
        self.sf_dir = sf_dir
        self._views_registered = False

    def table(self, name: str) -> DataFrame:
        """Catalog table as a DataFrame (A-4/A-5's scan, batch form)."""
        return table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        """ANSI SQL over the catalog tables (§3.2 entry point 2); views
        are registered lazily on first use."""
        if not self._views_registered:
            register_views(self.spark, self.sf_dir)
            self._views_registered = True
        return self.spark.sql(query)

    def run(self, op_name: str) -> DataFrame:
        """Run a registered operator (SURVEY.md §2.B) against this
        engine's sf_dir."""
        return all_queries()[op_name](self.spark, self.sf_dir)

    def stream_events(self) -> DataFrame:
        """The events feed as a file-replay stream (§3.2 entry point 3) —
        compose with the batch-compatible fns in streaming.windows_stream
        and sink via streaming.sinks."""
        from cloudtrail_streamer_spark.streaming import harness

        replay = harness.write_replay_files(self.spark, self.sf_dir)
        return harness.read_replay_stream(self.spark, replay)
