"""pandas-on-Spark API parity family (B-65-ext, VERDICT r05 #7).

A user of a single-node pandas pipeline should be able to point the
same idioms at this engine and have them execute as Catalyst plans.
``pyspark.pandas`` is exactly that bridge: every query below is written
in the pandas dialect (groupby/agg, merge, pivot_table, sort+head) and
compiles to the SAME distributed DataFrame plans the rest of the engine
uses — no row-at-a-time Python anywhere (asserted in tests/test_plans.py:
zero BatchEvalPython/ArrowEvalPython nodes).

Scale notes (the reason this is an engine surface, not a demo):
- groupby/agg → partial+final hash aggregate, identical to the B-20 plan;
- merge → equi hash join, broadcast-eligible under the same size rules;
- pivot_table → Spark's native pivot (one shuffle, bounded key domain);
- sort_values().head(k) → TakeOrderedAndProject, never a full sort.

The default index is pinned to ``distributed`` inside each query: the
default ``distributed-sequence`` index materializes a zipWithIndex-like
extra pass over the data — a silent full-scan tax at 100 TB. Every
result is converted back with ``to_spark()`` so the driver contract
(column names, dtypes) stays identical to the SQL oracles.

The reference has no pandas surface (SURVEY.md §1.1 — opaque bytes, no
queries); this extends the engine's analytics mode like the other
B-*-ext rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import table
from cloudtrail_streamer_spark.functions import cents
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.session import conf_scope


def _ps(spark: SparkSession):
    """Import pyspark.pandas lazily (it pulls in plotting deps) and
    return a conf scope pinning the scale-safe index type.
    pandas-on-Spark keeps its options as JSON session confs; its own
    ``option_context`` restores a previously unset option by SETTING it
    to the default, which leaks the conf into later queries."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        import pyspark.pandas  # noqa: F401
    return conf_scope(
        spark, {"pandas_on_Spark.compute.default_index_type": '"distributed"'}
    )


_PS_GROUPBY_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_c,
       round(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 100.0, 4) AS avg_price
FROM orders
GROUP BY o_orderpriority
"""


@query("ps_groupby_agg", oracle=_PS_GROUPBY_ORACLE, survey_id="B-65-ext")
def ps_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas ``df.groupby(...).agg(named=...)`` → the B-20 hash-agg
    plan. Money is pre-scaled to integer cents BEFORE entering the
    pandas dialect (house rule: exact integer aggregation, divide
    once at the end), so sum/mean are exact and the 4-dp round matches
    DuckDB bit-for-bit."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", cents("o_totalprice").alias("price_c")
    )
    with _ps(spark):
        pdf = o.pandas_api()
        out = (
            pdf.groupby("o_orderpriority")
            .agg(
                n_orders=("price_c", "count"),
                sum_price_c=("price_c", "sum"),
            )
            .reset_index()
        )
        sdf = out.to_spark()
    return sdf.select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("sum_price_c").cast("long").alias("sum_price_c"),
        F.round(
            F.col("sum_price_c").cast("double") / F.col("n_orders") / 100.0, 4
        ).alias("avg_price"),
    )


_PS_MERGE_ORACLE = """
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(round(c.c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_acctbal_c
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@query("ps_merge_join", oracle=_PS_MERGE_ORACLE, survey_id="B-65-ext")
def ps_merge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas ``merge`` (inner, different key names) + groupby — the
    B-10/B-11 join plan under the pandas dialect. nation is the bounded
    25-row dim, so size-based selection broadcasts it exactly as the
    explicit-hint join_broadcast plan does; customer (scales with sf)
    streams through unshuffled."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", cents("c_acctbal").alias("acctbal_c")
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    with _ps(spark):
        m = c.pandas_api().merge(
            n.pandas_api(), left_on="c_nationkey", right_on="n_nationkey"
        )
        out = (
            m.groupby("n_name")
            .agg(
                n_customers=("c_custkey", "count"),
                sum_acctbal_c=("acctbal_c", "sum"),
            )
            .reset_index()
        )
        sdf = out.to_spark()
    return sdf.select(
        "n_name",
        F.col("n_customers").cast("long").alias("n_customers"),
        F.col("sum_acctbal_c").cast("long").alias("sum_acctbal_c"),
    )


_PS_PIVOT_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_F,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_O,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_P
FROM orders
GROUP BY o_orderpriority
"""


@query("ps_pivot_table", oracle=_PS_PIVOT_ORACLE, survey_id="B-65-ext")
def ps_pivot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas ``pivot_table`` → Spark's native pivot: ONE shuffle on the
    index key with the (bounded: 3 statuses) column domain resolved at
    plan time. The 100 TB rule pivot_table inherits for free: the
    columns axis must be a bounded domain — the index axis may be huge
    (it only shards the groupBy), but every distinct ``columns`` value
    becomes a physical column."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus", "o_orderkey"
    )
    with _ps(spark):
        pt = (
            o.pandas_api()
            .pivot_table(
                index=["o_orderpriority"],
                columns="o_orderstatus",
                values="o_orderkey",
                aggfunc="count",
            )
            .reset_index()
        )
        sdf = pt.to_spark()
    # TPC-H has exactly three statuses; a missing (priority, status)
    # cell — or a whole status absent at a given scale, which would
    # drop the pivoted column entirely — is a true zero count
    return sdf.select(
        "o_orderpriority",
        *[
            F.coalesce(
                F.col(s).cast("long") if s in sdf.columns else F.lit(None).cast("long"),
                F.lit(0),
            ).alias(f"n_{s}")
            for s in ("F", "O", "P")
        ],
    )


_PS_SORT_HEAD_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
FROM orders
ORDER BY price_c DESC, o_orderkey
LIMIT 20
"""


@query("ps_sort_head", oracle=_PS_SORT_HEAD_ORACLE, survey_id="B-65-ext")
def ps_sort_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas ``sort_values(...).head(k)`` → TakeOrderedAndProject
    (plan-asserted): per-partition top-k then a k-row driver merge,
    never a full distributed sort — the same physical shape as the B-34
    limit_topk row. Tie-break on o_orderkey per §5.3 rule 3 so the
    result is total-ordered and hash-stable."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", cents("o_totalprice").alias("price_c")
    )
    with _ps(spark):
        top = (
            o.pandas_api()
            .sort_values(["price_c", "o_orderkey"], ascending=[False, True])
            .head(20)
        )
        sdf = top.to_spark()
    return sdf.select("o_orderkey", "o_orderpriority", "price_c")
