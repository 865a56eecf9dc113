"""AQE skew-join stress certificate (VERDICT r06 #6).

Session confs have AQE skew handling ON (session.py) and
``join_skew_salted`` demonstrates manual salting, but no artifact
measured AQE's automatic split on a deliberately skewed key. This tool
builds one and records the certificate appended to SCALE.md:

- fact = sf1 lineitem (6M rows) with ``skew_key`` = 0 for the 20% of
  rows where l_orderkey % 5 == 0, l_orderkey otherwise — ONE key owns
  20% of the fact table, the classic hot-key shape (a null-ish default,
  a bot user, a dead-letter partition key);
- dim = the distinct skew_key domain with one attribute row per key
  (4.8M rows), so the join output is exactly |fact| and the hot key
  concentrates 1.2M rows in one shuffle partition of the join's
  exchange.

Broadcast is disabled for the measurement: at this size Spark would
(correctly) broadcast the dim and sidestep the skew entirely — the
certificate targets the 100 TB regime where BOTH sides shuffle. The
skew thresholds are scaled down (256 MB -> 4 MB advisory / 8 MB skew
threshold) for the same reason: the trigger condition is a RATIO
(partition > factor x median AND > threshold); production defaults
fire at production partition sizes, the scaled thresholds fire at
local-bench partition sizes. The skewedPartitionFactor=5 ratio test is
untouched.

Prints one JSON line: wall-clock with AQE skew-join ON vs OFF, the
skew=true marker from the executed plan, and the partition split count
evidence. tests/test_plans.py::test_aqe_skew_join_splits pins the
plan-shape half of this permanently at sf0.01 scale.
"""

from __future__ import annotations

import json
import os
import re
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_skew_join(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from cloudtrail_streamer_spark.catalog import table

    li = table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 5 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("skew_key"),
        "l_quantity",
        "l_extendedprice",
    )
    # dim keys come from ORDERS (unique per key, key 0 added once) so the
    # dim side of the SMJ is a plain scan -> shuffle: OptimizeSkewedJoin
    # only matches SMJ(Sort(ShuffleRead), Sort(ShuffleRead)) — a distinct
    # aggregate between shuffle and join would defeat the rule (observed)
    o = table(spark, sf_dir, "orders")
    dim = (
        o.where(F.col("o_orderkey") % 5 != 0)
        .select(F.col("o_orderkey").alias("skew_key"))
        .unionByName(spark.range(1).select(F.lit(0).cast("long").alias("skew_key")))
        .withColumn("dim_attr", F.col("skew_key") % 97)
    )
    # hint("merge"): with parquet size stats the static planner elects a
    # ShuffledHashJoin with the skewed FACT as build side, which the AQE
    # skew rule cannot split; the hint pins the SMJ shape the rule
    # handles on either side (at 100 TB a fact-build SHJ would never be
    # chosen anyway — the hint reproduces the at-scale shape locally)
    joined = fact.hint("merge").join(dim, "skew_key").groupBy("dim_attr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    return joined


def run(spark, sf_dir: str, skew_on: bool) -> tuple[float, str]:
    from bench import best_of, noop
    from cloudtrail_streamer_spark.session import conf_scope

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": str(skew_on).lower(),
        # keep the join SMJ: the session's SMJ->SHJ conversion would make
        # the skewed fact the SHJ BUILD side, which OptimizeSkewedJoin
        # cannot split (it splits stream/either-SMJ sides only)
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0",
        # sf1's hot partition is ~5 MB of compressed shuffle blocks;
        # thresholds scale with the bench (production defaults fire at
        # production partition sizes — the RULE is what's under test)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512KB",
        # keep AQE from coalescing everything into one partition first
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256KB",
    }
    with conf_scope(spark, confs):
        df = build_skew_join(spark, sf_dir)
        noop(df)  # warm: plan + codegen
        best = best_of(partial(noop, df), 3)
        # the noop write runs its OWN QueryExecution; to read the FINAL
        # adaptive plan (isFinalPlan=true with skew markers) execute the
        # Dataset's own execution via collect — the output is <=97
        # grouped rows, so the driver cost is nil
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    return best, plan


def main() -> None:
    from cloudtrail_streamer_spark.session import get_session
    from tools.make_sf1 import ensure_sf1

    sf_dir = ensure_sf1() or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_session("cts-skew-cert")

    t_on, plan_on = run(spark, sf_dir, skew_on=True)
    t_off, plan_off = run(spark, sf_dir, skew_on=False)

    skew_marked = "skew=true" in plan_on
    n_skew_nodes = len(re.findall(r"skew=true", plan_on))
    print(
        json.dumps(
            {
                "metric": "aqe_skew_join_cert",
                "sf_dir": sf_dir,
                "hot_key_share": 0.2,
                "wall_skew_on_sec": round(t_on, 3),
                "wall_skew_off_sec": round(t_off, 3),
                "speedup": round(t_off / t_on, 2) if t_on > 0 else None,
                "plan_skew_marked": skew_marked,
                "skew_marked_joins": n_skew_nodes,
                "skew_off_marked": "skew=true" in plan_off,
            }
        )
    )


if __name__ == "__main__":
    main()
