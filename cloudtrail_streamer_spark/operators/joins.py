"""Join operators (SURVEY.md §2.B B-10..B-19).

The reference joins nothing (SURVEY.md §2.A closing note); this is engine
scope. Strategy selection is left to Catalyst + AQE except where a hint
is the right call at scale:

- B-11 broadcasts the dimension tables explicitly — at 100 TB the fact
  side never shuffles for a dim join.
- B-17 (theta) carries an equi-key (p_brand) so Catalyst plans a hash
  join with the inequality as a post-join filter instead of a BNLJ over
  the full cross product.
- B-18 (interval) likewise: equi-bucket key + range predicate.
- B-19 (as-of) has no native Spark operator; rewritten as a single
  window pass (``last(..., ignorenulls)`` over rows-preceding frame) —
  one shuffle on the key, no join at all. Cross-checked against DuckDB's
  native ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import scratch_dir, table
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.session import conf_scope

_INNER_ORACLE = """
SELECT o_orderkey, o_orderdate, o_totalprice, c_custkey, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'O'
"""


@query("join_inner_hash", oracle=_INNER_ORACLE, survey_id="B-10")
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_orderdate", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


_BCAST_ORACLE = """
SELECT c_custkey, c_name, n_name, r_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


@query("join_broadcast", oracle=_BCAST_ORACLE, survey_id="B-11")
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dim join with explicit broadcast of the small sides."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


_LEFT_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
"""


@query("join_outer_left", oracle=_LEFT_ORACLE, survey_id="B-12")
def join_outer_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


_FULL_ORACLE = """
WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1),
     sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
SELECT COALESCE(cn.nk, sn.nk) AS nationkey, n_customers, n_suppliers
FROM cn FULL JOIN sn ON cn.nk = sn.nk
"""


@query("join_outer_full", oracle=_FULL_ORACLE, survey_id="B-13")
def join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    sn = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cn.join(sn, cn.nk == sn.nk, "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"), "n_customers", "n_suppliers"
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@query("join_semi", oracle=_SEMI_ORACLE, survey_id="B-14")
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


_ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@query("join_anti", oracle=_ANTI_ORACLE, survey_id="B-15")
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_CROSS_ORACLE = """
SELECT r_name, n_name FROM region CROSS JOIN nation
"""


@query("join_cross", oracle=_CROSS_ORACLE, survey_id="B-16")
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


_THETA_ORACLE = """
SELECT a.p_partkey AS small_key, b.p_partkey AS big_key, a.p_brand AS brand,
       a.p_size AS small_size, b.p_size AS big_size
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size < b.p_size
"""


@query("join_theta_range", oracle=_THETA_ORACLE, survey_id="B-17")
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi self join. The p_brand equi-key keeps this a hash join
    (inequality evaluated post-probe) rather than an O(n²) BNLJ."""
    p = table(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("small_key"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("small_size"),
    )
    b = p.select(
        F.col("p_partkey").alias("big_key"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_size").alias("big_size"),
    )
    return a.join(
        b, (a.brand == b.brand_b) & (a.small_size < b.big_size)
    ).select("small_key", "big_key", "brand", "small_size", "big_size")


_INTERVAL_ORACLE = """
SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate
FROM events e JOIN orders o
  ON (e.user_id % 16) = (o.o_orderkey % 16)
 AND e.ts >= o.o_orderdate + INTERVAL 29 YEAR
 AND e.ts <  o.o_orderdate + INTERVAL 29 YEAR + INTERVAL 7 DAY
"""


@query("join_interval", oracle=_INTERVAL_ORACLE, survey_id="B-18")
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-bucket + time-range join (events in [start, start+7d)).

    The mod-16 bucket key hash-partitions both sides, but 16 distinct
    key values make the hash join a 1/16-cross-join: every probe walks
    ~|orders|/16 build rows evaluating the range predicate (measured
    r11: 102 s at sf0.1, 108× the sf0.01 time — quadratic). The join
    key is therefore widened with the event's calendar DAY (the
    ``join_range_bucketed`` expansion): each order explodes into the
    ≤8 day buckets its 7-day window can touch, events carry their own
    day, and the equi-key becomes (mod-16, day) — ~10⁴ distinct values
    instead of 16, so per-key candidate lists stay O(1) as data grows.
    An event's day is unique, so the explode introduces no duplicate
    pairs; the range predicate implies day membership, so no pair is
    lost — results are identical by construction and hash-checked
    against the naive-predicate oracle. (Order dates are 1995-2001 and
    events 2024; the +29y shift overlaps the domains — FIXTURES.md.)
    """
    e = table(spark, sf_dir, "events").withColumn("day_bucket", F.to_date("ts"))
    o = (
        table(spark, sf_dir, "orders")
        .withColumn("window_start", F.expr("o_orderdate + INTERVAL 29 YEARS"))
        .withColumn(
            "day_bucket",
            F.explode(
                F.sequence(
                    F.to_date("window_start"),
                    # end-exclusive: the last instant is start+7d−ε
                    F.to_date(F.expr("window_start + INTERVAL 7 DAYS - INTERVAL 1 SECOND")),
                )
            ),
        )
    )
    cond = (
        ((e.user_id % 16) == (o.o_orderkey % 16))
        & (e.day_bucket == o.day_bucket)
        & (e.ts >= o.window_start)
        & (e.ts < F.expr("window_start + INTERVAL 7 DAYS"))
    )
    return e.join(o, cond).select("event_id", "user_id", "ts", "o_orderkey", "o_orderdate")


_RANGE_BUCKETED_ORACLE = """
SELECT p.period_id, e.event_id, e.user_id, e.ts
FROM events e
JOIN (
  SELECT o_orderkey AS period_id,
         o_orderdate + INTERVAL 29 YEAR AS p_start,
         o_orderdate + INTERVAL 29 YEAR + INTERVAL 3 DAY AS p_end
  FROM orders
  WHERE ((o_orderkey & 2147483647) * 2654435761) % 1000 < 2
) p ON e.ts >= p.p_start AND e.ts < p.p_end
"""


@query("join_range_bucketed", oracle=_RANGE_BUCKETED_ORACLE, survey_id="B-18-ext")
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no natural equi-key) made scale-safe by bucket
    expansion — the standard range-join optimization: each period row is
    exploded into the DAY buckets it covers (bounded fan-out: 4 buckets
    for a 3-day period), events carry their own day bucket, and the join
    becomes an EQUI-join on bucket with the range predicate as a
    post-probe filter. Naive evaluation of an unkeyed range predicate is
    a broadcast-nested-loop over every (event, period) pair — O(N·P);
    bucketing cuts it to the pairs sharing a day, which is the only
    shape that survives 100 TB of events. The oracle is the naive range
    join — bucketing must not change results, only the plan. Period set
    is a deterministic ~0.2% hash sample of orders (sparse, as real
    maintenance/promo windows are)."""
    e = table(spark, sf_dir, "events").withColumn(
        "bucket", F.to_date(F.col("ts"))
    )
    p = (
        table(spark, sf_dir, "orders")
        .where((F.col("o_orderkey").bitwiseAND(2147483647) * 2654435761) % 1000 < 2)
        .select(
            F.col("o_orderkey").alias("period_id"),
            F.expr("o_orderdate + INTERVAL 29 YEARS").alias("p_start"),
            F.expr("o_orderdate + INTERVAL 29 YEARS + INTERVAL 3 DAYS").alias("p_end"),
        )
    )
    p_buckets = p.select(
        "period_id",
        "p_start",
        "p_end",
        F.explode(
            F.sequence(
                F.to_date("p_start"),
                # p_end is exclusive; a period ending exactly at midnight
                # contributes nothing to its end day
                F.to_date(F.expr("p_end - INTERVAL 1 SECOND")),
            )
        ).alias("bucket"),
    )
    return (
        e.join(p_buckets, "bucket")
        .where((F.col("ts") >= F.col("p_start")) & (F.col("ts") < F.col("p_end")))
        .select("period_id", "event_id", "user_id", "ts")
    )


_ASOF_ORACLE = """
SELECT e.event_id, e.user_id, e.ts, s.ts AS last_signup_ts
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
  ON e.user_id = s.user_id AND e.ts >= s.ts
"""


@query("join_asof", oracle=_ASOF_ORACLE, survey_id="B-19")
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: latest signup at-or-before each event.

    Spark has no ASOF JOIN; instead of a join at all, a single window
    pass: carry the last non-null signup timestamp forward within each
    user's time-ordered stream. One shuffle (by user_id), O(n) state —
    strictly cheaper than the union-sort-join plans at 100 TB.
    Cross-checked against DuckDB's native ASOF LEFT JOIN.
    """
    e = table(spark, sf_dir, "events")
    sig_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.last(sig_ts, ignorenulls=True).over(w).alias("last_signup_ts"),
    )


_BUCKETED_ORACLE = """
SELECT c.c_custkey,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
"""


@query("join_bucketed_colocated", oracle=_BUCKETED_ORACLE, survey_id="B-10-ext")
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-FREE join via bucketing — the co-location strategy for
    repeated joins at 100 TB: both sides are written bucketed by the
    join key (8 buckets, sorted), so the join AND the follow-up
    aggregation on the same key run with ZERO Exchange (asserted in
    tests/test_plans.py). Writing buckets costs one shuffle once;
    every subsequent join on that key is free — the break-even is two
    queries. The merge hint pins SMJ so size-based broadcast doesn't
    mask the demonstration at test scale.

    Table names and paths are FIXED (mode=overwrite, under the query's
    scratch_dir), not uuid-fresh: repeated invocations reuse the same
    two catalog entries and disk location instead of accumulating them (VERDICT r02 "what's wrong
    #3"); a try/finally DROP would instead break the lazy-DataFrame
    contract (the returned plan reads these tables at collect time).
    No-residue-growth is asserted in tests/test_engine.py."""
    base = scratch_dir("join_bucketed_colocated", sf_dir)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    (
        o.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .option("path", f"{base}/orders")
        .saveAsTable("orders_bkt")
    )
    (
        c.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .option("path", f"{base}/customer")
        .saveAsTable("customer_bkt")
    )
    ob = spark.table("orders_bkt")
    cb = spark.table("customer_bkt")
    from cloudtrail_streamer_spark.functions import cents

    return (
        cb.hint("merge")
        .join(ob, cb.c_custkey == ob.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(cents("o_totalprice")).cast("long").alias("total_cents"),
        )
    )


_SKEW_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query("join_skew_salted", oracle=_SKEW_ORACLE, survey_id="B-10-ext")
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key mitigation: the orders⋈customer join run through
    ``salted_join`` — the large side's shuffle key is (custkey, salt)
    with a deterministic 8-way salt, the small side replicated per salt,
    so no single task can own a hot key. Row-identical to the plain
    join (this oracle is the plain join), which is the point: salting
    changes the partitioning, never the result."""
    from cloudtrail_streamer_spark.functions import cents
    from cloudtrail_streamer_spark.functions.skew import salted_join

    o = table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    c = table(spark, sf_dir, "customer")
    joined = salted_join(o, c, "c_custkey", salt_from=F.col("o_orderkey"), n_salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("o_totalprice")).cast("long").alias("total_cents"),
    )


_NULL_SAFE_ORACLE = """
WITH a AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey % 50 END AS k
  FROM orders WHERE o_orderkey % 2 = 0
), b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey % 50 END AS k
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT CASE WHEN a.k IS NULL THEN -1 ELSE a.k END AS k,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY 1
"""


@query("join_null_safe", oracle=_NULL_SAFE_ORACLE, survey_id="B-10-ext")
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics CDC and
    dimension lookups need when NULL is a legitimate key value (plain
    equality silently drops every NULL row from an inner join). Spark
    plans <=> as an ordinary hash join (null-safe keys still hash;
    no BNLJ penalty); the per-key pair counts — including the NULL
    bucket, reported as -1 — are hash-checked against DuckDB's
    IS NOT DISTINCT FROM.

    r11: each side pre-aggregates to (key, count) BEFORE the null-safe
    join (guide "aggregate before you shuffle"): with only 51 distinct
    keys the raw join materialized ~|orders|²/4/51 pair rows — ~100 M
    at sf0.1 (12 s) and quadratic beyond — only for the groupBy to
    collapse them again. The inner pair count per key is exactly
    cnt_a·cnt_b, so the null-safe hash join now runs over two 51-row
    aggregates and the result is identical by construction (and still
    hash-checked against DuckDB's raw IS NOT DISTINCT FROM join)."""
    o = table(spark, sf_dir, "orders")
    a = (
        o.where(F.col("o_orderkey") % 2 == 0)
        .select(
            F.when(F.col("o_orderkey") % 7 == 0, None)
            .otherwise(F.col("o_custkey") % 50)
            .alias("ka")
        )
        .groupBy("ka")
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    b = (
        o.where(F.col("o_orderkey") % 2 == 1)
        .select(
            F.when(F.col("o_orderkey") % 5 == 0, None)
            .otherwise(F.col("o_custkey") % 50)
            .alias("kb")
        )
        .groupBy("kb")
        .agg(F.count(F.lit(1)).alias("cnt_b"))
    )
    j = a.join(b, a.ka.eqNullSafe(b.kb))
    return j.select(
        F.coalesce(F.col("ka"), F.lit(-1)).alias("k"),
        (F.col("cnt_a") * F.col("cnt_b")).cast("long").alias("n_pairs"),
    )


_BLOOM_PREFILTER_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
"""


@query("join_bloom_prefilter", oracle=_BLOOM_PREFILTER_ORACLE, survey_id="B-10-ext")
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime membership pre-filtering ahead of a big join — the
    hand-rolled form of Spark's runtime bloom-filter join pruning
    (spark.sql.optimizer.runtime.bloomFilter.*): the filtered build side
    (urgent orders, ~20% selectivity) is reduced to its distinct hash
    buckets (xxhash64 mod 2^20 — a 1-hash bloom filter whose "bits" are
    a broadcastable int set), the probe side (lineitem) is broadcast-
    SEMI-joined on its own bucket BEFORE the real shuffle join, and only
    survivors shuffle. False positives are harmless — the exact equi-join
    that follows removes them — so the final result is exact (H-tier)
    while the shuffle moves ~selectivity·|lineitem| rows instead of all
    of them. At 100 TB this is the difference between shuffling 100 TB
    and shuffling the 20 TB that can possibly match; the same shape
    composes with DPP (join_dpp_partitioned) when the probe side is
    partition-pruned too. Both hashes cast the key to LONG first so the
    bucket function is identical on both sides."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    from cloudtrail_streamer_spark.functions import cents

    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority"
    )
    m = 1 << 20
    buckets = urgent.select(
        F.pmod(F.xxhash64(F.col("o_orderkey").cast("long")), F.lit(m)).alias("bkt")
    ).distinct()
    probe = li.withColumn(
        "bkt", F.pmod(F.xxhash64(F.col("l_orderkey").cast("long")), F.lit(m))
    ).join(F.broadcast(buckets), "bkt", "left_semi")
    return (
        probe.join(urgent, probe.l_orderkey == urgent.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(cents("l_extendedprice")).cast("long").alias("revenue_cents"),
        )
    )


_RUNTIME_BLOOM_ORACLE = """
SELECT l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '2-HIGH'
GROUP BY l_linestatus
"""

# Conf window for Catalyst's InjectRuntimeFilter rule. The application-
# side scan threshold (default 10 GB) exists so tiny probe sides don't
# pay bloom-build cost; the fixtures are far below it, so it is zeroed
# to exercise the exact path a 100 TB lineitem scan takes by default.
# Broadcast is disabled INSIDE the window only: the rule targets shuffle
# joins (a broadcast join already prunes at the build side), and at real
# scale the fact⋈fact join is never broadcastable anyway.
_RUNTIME_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@query("join_runtime_bloom", oracle=_RUNTIME_BLOOM_ORACLE, survey_id="B-10-ext")
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst-NATIVE runtime bloom-filter join pruning — the optimizer
    injects what ``join_bloom_prefilter`` hand-rolls: with
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` the
    InjectRuntimeFilter rule plants a ``BloomFilterAggregate`` subquery
    on the selective build side (2-HIGH orders) and a
    ``might_contain(...)`` predicate on the probe side's scan, so only
    probable matches ever shuffle. False positives are removed by the
    exact equi-join that follows — the result is exact (H-tier) while
    the shuffle moves ~selectivity·|lineitem| rows. The plan is forced
    through the optimizer INSIDE the conf window (QueryExecution
    memoizes it — the join_reorder_cbo pattern), then every conf is
    restored so no other query inherits the broadcast opt-out;
    tests/test_plans.py pins might_contain + bloom_filter_agg in the
    memoized plan. At 100 TB this is the default-on path (thresholds
    un-zeroed): the rule fires exactly when the probe scan is big
    enough for the bloom build to pay for itself."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    from cloudtrail_streamer_spark.functions import cents

    with conf_scope(spark, _RUNTIME_BLOOM_CONFS):
        high = o.where(F.col("o_orderpriority") == "2-HIGH").select("o_orderkey")
        df = (
            li.join(high, li.l_orderkey == high.o_orderkey)
            .groupBy("l_linestatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.sum(cents("l_extendedprice")).cast("long").alias("revenue_cents"),
            )
        )
        # Materialize the physical plan while the runtime-filter confs
        # are live: the memoized plan carries the injected bloom filter
        # and is what a later collect() executes.
        df._jdf.queryExecution().executedPlan()
    return df


_SHUFFLE_HASH_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query("join_shuffle_hash", oracle=_SHUFFLE_HASH_ORACLE, survey_id="B-10-ext")
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third join strategy, explicitly elected: SHUFFLE_HASH builds
    an in-memory hash table per partition instead of sorting both sides
    (sort-merge) or replicating one side everywhere (broadcast). The
    right call when the build side is too big to broadcast but its
    per-partition slice fits executor memory — it skips both sides'
    O(n log n) sorts, and unlike SMJ it never spills sorted runs for a
    one-pass join. customer (build, hinted) ⋈ orders (probe):
    tests/test_plans.py pins ShuffledHashJoin with ZERO Sort nodes
    below it, vs the SMJ Catalyst would otherwise pick once the dim
    outgrows the broadcast threshold. At 100 TB the hint holds per
    partition: 32k shuffle partitions put ~1/32k of the build side in
    each hash table, which is the memory contract — AQE can still
    rebalance skewed partitions under it."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    from cloudtrail_streamer_spark.functions import cents

    return (
        o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents("o_totalprice")).cast("long").alias("revenue_cents"),
        )
    )
