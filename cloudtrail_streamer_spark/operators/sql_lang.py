"""Spark 4 SQL-language surfaces (B-51-ext / B-54-ext / B-24-ext).

The engine's SQL front door grows three declarative capabilities that
remove Python from places the UDF ladder (operators/udfs.py) still
needed it:

- **Scalar SQL UDF** (``CREATE TEMPORARY FUNCTION ... RETURN expr``):
  the fifth rung of the UDF ladder — the author writes a named,
  reusable function and Catalyst *inlines the body into the plan*, so
  unlike every Python rung it costs nothing at execution: it
  whole-stage-codegens with the surrounding expressions and its
  predicates/projections still push down to the scan.
- **Table-valued SQL UDF + correlated LATERAL**: a parameterized
  relation; Catalyst decorrelates the lateral call into a plain join,
  so the "call per row" surface syntax executes as one distributed
  hash join, not a nested loop.
- **SQL scripting** (``BEGIN ... DECLARE ... END``, Spark 4 SQL
  procedural blocks): multi-statement logic with session variables and
  control flow. The demonstrated pattern is the scale-positive one: a
  scalar parameter is computed by pass 1 and lands in pass 2 as a
  *literal*, so it participates in predicate pushdown — at 100 TB a
  data-dependent threshold as a pushed literal beats the equivalent
  uncorrelated-subquery join by an entire shuffle.

The reference has no SQL surface at all (SURVEY.md §1.1 — opaque
bytes, no queries); these extend the engine's analytics mode the same
way the rest of the B-*-ext tier does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cloudtrail_streamer_spark.catalog import table
from cloudtrail_streamer_spark.operators.udfs import _ARN_SPARK, _UDF_ORACLE
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.session import conf_scope


@query("udf_sql_declarative", oracle=_UDF_ORACLE, survey_id="B-51-ext")
def udf_sql_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar SQL UDF on the shared ARN-parse contract — the same
    oracle as the three Python rungs (pickled row, Arrow scalar,
    pandas batch), proving all four boundary modes value-identical.
    This rung is the one to prefer whenever the logic is expressible:
    ``EXPLAIN`` shows no BatchEvalPython/ArrowEvalPython node at all —
    the body inlines into the projection and codegens."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sqludf")
    spark.sql(
        r"""
        CREATE OR REPLACE TEMPORARY FUNCTION cts_account_id(arn STRING)
        RETURNS BIGINT
        RETURN CAST(regexp_extract(arn, 'arn:aws:iam::(\\d{12}):', 1) AS BIGINT)
        """
    )
    return spark.sql(
        f"""
        SELECT o_orderkey,
               {_ARN_SPARK} AS arn,
               cts_account_id({_ARN_SPARK}) AS account_id
        FROM orders_sqludf
        """
    )


_TVF_CUT_CENTS = 25_000_000  # 250k in integer cents (house money rule)

_TVF_ORACLE = f"""
SELECT c.c_custkey, o.o_orderkey,
       CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS price_c
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
WHERE CAST(round(o.o_totalprice * 100, 0) AS BIGINT) > {_TVF_CUT_CENTS}
"""


@query("udf_sql_table_valued", oracle=_TVF_ORACLE, survey_id="B-54-ext")
def udf_sql_table_valued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued SQL UDF invoked per-customer via correlated
    LATERAL: ``big_orders(c_custkey)`` reads as a call per row, but
    Catalyst inlines the body and decorrelates the lateral into an
    equi-join on ``o_custkey = c_custkey`` — the physical plan is one
    shuffled hash join (tests/test_engine.py asserts no nested-loop
    join survives), which is exactly the 100 TB-safe shape. The oracle
    states the decorrelated form directly."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_tvf")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_tvf")
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION cts_big_orders(cust BIGINT)
        RETURNS TABLE(o_orderkey BIGINT, price_c BIGINT)
        RETURN SELECT o_orderkey,
                      CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
               FROM orders_tvf
               WHERE o_custkey = cust
                 AND CAST(round(o_totalprice * 100, 0) AS BIGINT) > {_TVF_CUT_CENTS}
        """
    )
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.price_c
        FROM customer_tvf c, LATERAL cts_big_orders(c.c_custkey) t
        """
    )


# Oracle: the straight-line equivalent of the scripted block — the cut
# is the floor of the mean order price in cents (BIGINT-exact inputs;
# the HUGEINT-typed DuckDB SUM is cast before use, VERDICT r04 #1).
_SCRIPT_ORACLE = """
WITH cents AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
  FROM orders
), cut AS (
  SELECT CAST(floor(CAST(SUM(c) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM cents
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       round(CAST(SUM(c) AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_price
FROM cents, cut
WHERE c > cut.v
GROUP BY o_orderpriority
"""


@query("sql_scripting_param", oracle=_SCRIPT_ORACLE, survey_id="B-24-ext")
def sql_scripting_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting block (Spark 4 ``BEGIN ... END``): DECLARE a
    session variable, fill it from an aggregate (pass 1), branch on it,
    and run the priced-above-average report (pass 2) with the variable
    as a *literal* predicate. Two clean passes over orders; the second
    scan receives ``c > <literal>`` and can push it down — the shape a
    data-dependent threshold should take at 100 TB. The IF/ELSE arm
    returns the empty frame with the same schema when the table is
    empty, exercising control flow, not just sequencing."""
    # Conf-window discipline (ADVICE r05): enable scripting only for the
    # duration of the sql() call — a leaked session conf changes parser
    # behavior for every later query in the process.
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_script")
    with conf_scope(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
        """
        BEGIN
          DECLARE cut BIGINT;
          SET cut = (
            SELECT CAST(floor(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                                   AS DOUBLE) / COUNT(*)) AS BIGINT)
            FROM orders_script
          );
          IF cut IS NULL THEN
            SELECT CAST(NULL AS STRING) AS o_orderpriority,
                   CAST(NULL AS BIGINT) AS n_orders,
                   CAST(NULL AS DOUBLE) AS avg_price
            WHERE 1 = 0;
          ELSE
            SELECT o_orderpriority,
                   COUNT(*) AS n_orders,
                   round(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                         / COUNT(*) / 100.0, 4) AS avg_price
            FROM orders_script
            WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > cut
            GROUP BY o_orderpriority;
          END IF;
        END
        """
        )


_PIPE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_urgent_value,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_c
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_totalprice > 100000
GROUP BY o_orderpriority
"""


@query("sql_pipe_syntax", oracle=_PIPE_ORACLE, survey_id="B-24-ext")
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators): the same relational
    pipeline a DataFrame chain expresses, written as linear SQL stages —
    FROM |> WHERE |> AGGREGATE ... GROUP BY. Each stage is pure
    Catalyst surface syntax (the parser desugars to the ordinary logical
    plan), so pushdown/pruning/codegen are identical to the nested-SQL
    twin the oracle runs: the WHERE reaches the parquet scan even though
    it is written 'after' FROM. Zero execution cost for the readability
    win — which is the point at 100 TB, where a mis-nested subquery that
    blocks pushdown costs a full extra scan."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe")
    return spark.sql(
        """
        FROM orders_pipe
        |> WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_totalprice > 100000
        |> AGGREGATE COUNT(*) AS n_urgent_value,
                     SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       AS sum_price_c
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_urgent_value, sum_price_c
        """
    )


_EXEC_IMM_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_c
FROM orders
WHERE o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderpriority
"""


@query("sql_execute_immediate", oracle=_EXEC_IMM_ORACLE, survey_id="B-24-ext")
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``EXECUTE IMMEDIATE``: a query held as a STRING with ``?``
    parameter markers, bound at execution via USING — the SQL-injection-
    safe dynamic-SQL surface (the templated-report / BI-tool contract;
    completes the SQL-language family next to scripting blocks and pipe
    syntax). The bound values reach Catalyst as LITERALS, so the status
    and date parameters push down into the parquet scan exactly like
    hand-written predicates — parameterization costs zero plan quality,
    which is the 100 TB point: a parameter binding that blocked pushdown
    would re-scan the full fact table per report run."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_exec_imm")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority,
                  COUNT(*) AS n_orders,
                  SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS sum_price_c
           FROM orders_exec_imm
           WHERE o_orderstatus = ? AND o_orderdate < ?
           GROUP BY o_orderpriority'
          USING 'F', TIMESTAMP '1998-01-01'
        """
    )
