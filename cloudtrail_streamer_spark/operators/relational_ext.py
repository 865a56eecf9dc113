"""Extended relational surface: pivot/unpivot, distribution windows,
bivariate statistics, exact quantiles, string distance, bitwise math,
ordered string aggregation, URL decoding, deterministic sampling.

Widens SURVEY.md §2.B beyond the core inventory — every op is a pure
built-in (whole-stage codegen, no Python in the hot path) with a DuckDB
value-hash oracle (Tier H). ``fn_url_decode`` is the direct analog of the
reference's S3 object-key unescaping (A-4, upstream ``main.go:~200-210``
approx — ``url.QueryUnescape`` on event record keys).

Determinism (SURVEY.md §5.3): floats rounded to 4 dp in both engines;
quantiles/corr are tie-insensitive; the sampler uses pure integer
arithmetic (Knuth multiplicative hash mod 100) rather than either
engine's ``rand()``/``TABLESAMPLE``, so the sampled set is identical
across engines and scale factors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import scratch_dir, table
from cloudtrail_streamer_spark.functions import cents
from cloudtrail_streamer_spark.registry import query

_PIVOT_ORACLE = """
SELECT
  o_orderpriority,
  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
FROM orders
GROUP BY o_orderpriority
"""


@query("agg_pivot", oracle=_PIVOT_ORACLE, survey_id="B-20-ext")
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by status per priority. The explicit value
    list matters at scale: without it Spark runs a separate job to
    discover distinct pivot values — a full extra scan at 100 TB. With
    it the plan is one scan + two aggregate levels, the second over only
    |groups|x|values| pre-reduced rows (verified in tests/test_plans.py)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).alias("F"),
            F.coalesce(F.col("O"), F.lit(0)).alias("O"),
            F.coalesce(F.col("P"), F.lit(0)).alias("P"),
        )
    )


_UNPIVOT_ORACLE = """
SELECT o_orderstatus, metric, val
FROM (
  SELECT o_orderstatus,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
  FROM orders GROUP BY o_orderstatus
) UNPIVOT (val FOR metric IN (n_orders, n_custs))
"""


@query("set_unpivot", oracle=_UNPIVOT_ORACLE, survey_id="B-35-ext")
def set_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-status metrics to long (metric, val)
    rows. Narrow-side op — output is |groups|×|metrics| rows, no
    shuffle beyond the feeding aggregate."""
    o = table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["n_orders", "n_custs"],
        variableColumnName="metric",
        valueColumnName="val",
    )


_DISTRIBUTION_ORACLE = """
SELECT
  c_custkey,
  c_nationkey,
  round(percent_rank() OVER w, 4) AS pct_rank,
  round(cume_dist() OVER w, 4) AS cume,
  CAST(ntile(10) OVER w AS BIGINT) AS decile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


@query("win_distribution", oracle=_DISTRIBUTION_ORACLE, survey_id="B-28-ext")
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / ntile
    per nation over account balance (c_custkey tiebreak per §5.3)."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


_CORR_ORACLE = """
WITH m AS (
  SELECT o_orderstatus,
         COUNT(*) AS n,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS sx,
         SUM(CAST(o_custkey AS BIGINT)) AS sy,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)
             * CAST(o_custkey AS BIGINT)) AS sxy,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)
             * CAST(round(o_totalprice * 100) AS BIGINT)) AS sxx,
         SUM(CAST(o_custkey AS BIGINT) * CAST(o_custkey AS BIGINT)) AS syy
  FROM orders GROUP BY o_orderstatus
)
SELECT
  o_orderstatus,
  round(CAST(n * sxy - sx * sy AS DOUBLE)
        / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
           * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) AS price_cust_corr,
  round(CAST(n * sxy - sx * sy AS DOUBLE)
        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 100.0), 4) AS cov_samp,
  round(CAST(n * sxy - sx * sy AS DOUBLE)
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 100.0), 4) AS cov_pop
FROM m
"""


@query("agg_corr_stats", oracle=_CORR_ORACLE, survey_id="B-25-ext")
def agg_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate aggregates (corr / covar_samp / covar_pop) per group,
    from EXACT integer moments (price in cents, custkey integral):
    n·Σxy − Σx·Σy etc. accumulate as DECIMAL(38,0) / HUGEINT — merge-
    order independent — and only the final ratio is floating point, with
    identical association on both engines so the pre-rounding doubles
    are bit-equal. Native covar/corr accumulators relied on "4-dp
    rounding absorbs ulps", which failed the sf1 stress drive (cov
    magnitude ~1.7e5 landed an ulp apart across the round boundary:
    .0009 vs .001). Single-pass partial+final hash agg, same shuffle as
    before; the 100 divisor un-scales the cents (corr is scale-free)."""
    o = table(spark, sf_dir, "orders")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x = d(cents("o_totalprice"))
    y = d(F.col("o_custkey"))
    m = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    n_d = F.col("n").cast("double")
    return m.select(
        "o_orderstatus",
        F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 4).alias("price_cust_corr"),
        F.round(num / (n_d * (F.col("n") - 1).cast("double") * F.lit(100.0)), 4).alias(
            "cov_samp"
        ),
        F.round(num / (n_d * n_d * F.lit(100.0)), 4).alias("cov_pop"),
    )


_QUANTILE_ORACLE = """
SELECT
  o_orderstatus,
  round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
  round(median(o_totalprice), 4) AS q50,
  round(quantile_cont(o_totalprice, 0.75), 4) AS q75
FROM orders
GROUP BY o_orderstatus
"""


@query("agg_median_quantile", oracle=_QUANTILE_ORACLE, survey_id="B-25-ext")
def agg_median_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles (linear interpolation, tie-insensitive): Spark's
    ``percentile`` ≡ DuckDB's ``quantile_cont``. The exact form needs a
    per-group sort — the scale path is B-27's ``percentile_approx``
    (mergeable GK sketch, no sort); this op is the correctness anchor.

    r11: one ``percentile(col, array(...))`` call instead of three —
    three separate calls built three independent value-count maps over
    the SAME column (3× the aggregation state and merge traffic); the
    array form sorts the group once and reads all three quantiles from
    it (1.44 s → measured A/B below at sf0.1, values identical: same
    function, same interpolation, one buffer)."""
    o = table(spark, sf_dir, "orders")
    q = F.percentile(
        "o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        o.groupBy("o_orderstatus")
        .agg(q.alias("qs"))
        .select(
            "o_orderstatus",
            F.round(F.element_at("qs", 1), 4).alias("q25"),
            F.round(F.element_at("qs", 2), 4).alias("q50"),
            F.round(F.element_at("qs", 3), 4).alias("q75"),
        )
    )


_LEVENSHTEIN_ORACLE = """
SELECT
  p_partkey,
  CAST(levenshtein(p_brand, p_type) AS BIGINT) AS brand_type_dist,
  CAST(levenshtein(lower(p_name), lower(p_type)) AS BIGINT) AS name_type_dist
FROM part
"""


@query("fn_levenshtein", oracle=_LEVENSHTEIN_ORACLE, survey_id="B-38-ext")
def fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalar (fuzzy-match primitive for entity
    resolution / near-dup triage). Row-local, codegen'd, embarrassingly
    parallel — no shuffle."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_brand", "p_type").cast("long").alias("brand_type_dist"),
        F.levenshtein(F.lower(F.col("p_name")), F.lower(F.col("p_type")))
        .cast("long")
        .alias("name_type_dist"),
    )


_BITWISE_ORACLE = """
SELECT
  o_orderkey,
  xor(o_orderkey, o_custkey) AS key_xor,
  o_orderkey & 255 AS key_and,
  o_orderkey | 1 AS key_or,
  o_custkey << 2 AS cust_shl,
  o_orderkey >> 3 AS key_shr
FROM orders
"""


@query("fn_bitwise", oracle=_BITWISE_ORACLE, survey_id="B-40-ext")
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression surface (xor/and/or/shifts) — the primitives
    under hash bucketing (sim_search_ivf's multi-probe) and bitmap
    filters, exposed as a first-class query."""
    o = table(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    return o.select(
        "o_orderkey",
        k.bitwiseXOR(c).alias("key_xor"),
        k.bitwiseAND(F.lit(255)).alias("key_and"),
        k.bitwiseOR(F.lit(1)).alias("key_or"),
        F.shiftleft(c, 2).alias("cust_shl"),
        F.shiftright(k, 3).alias("key_shr"),
    )


_STRING_AGG_ORACLE = """
SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@query("agg_string_concat", oracle=_STRING_AGG_ORACLE, survey_id="B-26-ext")
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect → sort_array → array_join ≡
    DuckDB ``string_agg(... ORDER BY ...)`` (§5.3 rule 4: every collect
    is sorted)."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"))
    )


_URL_DECODE_ORACLE = """
SELECT
  o_orderkey,
  replace(replace(
    'AWSLogs%2F' || CAST(o_custkey AS VARCHAR) || '%2FCloudTrail%2Fregion%3Dus-east-1%2F'
      || CAST(o_orderkey AS VARCHAR) || '.json.gz',
    '%2F', '/'), '%3D', '=') AS s3_key
FROM orders
"""


@query("fn_url_decode", oracle=_URL_DECODE_ORACLE, survey_id="A-4")
def fn_url_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 object-key URL-unescaping — reference parity for A-4 (upstream
    ``main.go:~200-210`` approx: ``url.QueryUnescape`` on each delivered
    key). Keys are synthesized CloudTrail-layout paths; Spark decodes
    with the real ``url_decode``, the oracle with an equivalent escape
    map (the synthetic keys contain only %2F and %3D escapes)."""
    o = table(spark, sf_dir, "orders")
    key = F.concat(
        F.lit("AWSLogs%2F"),
        F.col("o_custkey").cast("string"),
        F.lit("%2FCloudTrail%2Fregion%3Dus-east-1%2F"),
        F.col("o_orderkey").cast("string"),
        F.lit(".json.gz"),
    )
    return o.select("o_orderkey", F.url_decode(key).alias("s3_key"))


_SAMPLE_ORACLE = """
SELECT
  o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_sampled,
  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
WHERE ((o_orderkey & 2147483647) * 2654435761) % 100 < 10
GROUP BY o_orderstatus
"""


@query("sample_hash_mod", oracle=_SAMPLE_ORACLE, survey_id="B-2-ext")
def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via Knuth multiplicative hash mod 100 —
    engine-portable (pure int64 arithmetic; no rand()/TABLESAMPLE, whose
    streams never match across engines) and stable under repartitioning,
    which makes pipeline A/B runs reproducible at any scale. The key is
    masked to 31 bits BEFORE the multiply so the product peaks at
    ~5.7e18 < int64 max: without the mask, keys past ~3.47e9 (sf ≳ 580)
    silently wrap in Spark but raise in DuckDB/ANSI engines, and the
    sampled set would diverge across engines."""
    o = table(spark, sf_dir, "orders")
    keep = (F.col("o_orderkey").bitwiseAND(F.lit(2147483647)) * F.lit(2654435761)) % 100 < 10
    return (
        o.where(keep)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )


_FIXED_K_ORACLE = """
SELECT event_id, user_id, event_type, h
FROM (
  SELECT event_id, user_id, event_type,
         md5(CAST(event_id AS VARCHAR)) AS h
  FROM events
) s
ORDER BY h
LIMIT 100
"""


@query("sample_fixed_k_md5", oracle=_FIXED_K_ORACLE, survey_id="B-34-ext")
def sample_fixed_k_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE deterministic sample: the k=100 events with the
    smallest md5(event_id) — the reservoir-sample replacement for
    distributed engines (true reservoir sampling is sequential; hash
    order gives the same "uniform without replacement" guarantee,
    is reproducible across engines/runs/partitionings, and any worker
    can test membership locally). Complements ``sample_hash_mod``
    (fixed RATE): rate sampling scales the sample with the data, hash
    top-k pins exactly k rows for eval sets and debugging slices.

    Scale shape: ORDER BY h LIMIT k compiles to TakeOrderedAndProject —
    per-partition top-k heaps, then a k-row merge on the driver; no
    global sort, no full shuffle, at ANY corpus size (plan-asserted in
    tests/test_plans.py). md5 keys are unique per event_id, so the
    total order (and the hash check) is deterministic."""
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            F.md5(F.col("event_id").cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(100)
    )


_QUOTA_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ((doc_id & 2147483647) * 2654435761) % 1000000007, doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= 40
GROUP BY source
"""


@query("sample_quota_per_source", oracle=_QUOTA_ORACLE, survey_id="B-2-ext")
def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling — the domain-cap step of a training-data
    pipeline (no single crawl domain may dominate the corpus): keep at
    most K docs per source, chosen by a deterministic hash order rather
    than arrival order, so the kept set is a uniform-ish draw that is
    identical across engines, runs, and repartitionings. One window
    shuffle on (source); at 100 TB source-key skew is bounded because
    the window only needs rank ≤ K — Spark pushes a per-partition
    top-K (WindowGroupLimit) below the shuffle, so each map task emits
    at most K rows per source rather than the full group."""
    d = table(spark, sf_dir, "documents")
    hord = (F.col("doc_id").bitwiseAND(F.lit(2147483647)) * F.lit(2654435761)) % F.lit(
        1000000007
    )
    rn = F.row_number().over(Window.partitionBy("source").orderBy(hord, F.col("doc_id")))
    return (
        d.select("source", "doc_id", rn.alias("rn"))
        .where(F.col("rn") <= 40)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


_SPLIT_ORACLE = """
SELECT CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT n_chars, ((doc_id & 2147483647) * 2654435761) % 100 AS b
  FROM documents
)
GROUP BY 1
"""


@query("split_train_val_test", oracle=_SPLIT_ORACLE, survey_id="B-2-ext")
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 96/2/2 train/val/test assignment by key hash — the
    split must be a pure function of the document id (not rand(), not
    row position) so that re-runs, backfills, and incremental appends
    never migrate a document across splits and leak eval data into
    training. Same overflow-masked multiplicative hash as
    ``sample_hash_mod``; zero shuffles beyond the final 3-group agg."""
    d = table(spark, sf_dir, "documents")
    b = (F.col("doc_id").bitwiseAND(F.lit(2147483647)) * F.lit(2654435761)) % 100
    split = (
        F.when(b < 96, "train").when(b < 98, "val").otherwise("test").alias("split")
    )
    return (
        d.select(split, "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_WQUANTILE_ORACLE = """
WITH v AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(floor(l_quantity) AS BIGINT) AS w
  FROM lineitem
), c AS (
  SELECT l_returnflag, cents, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS totw
  FROM v
)
SELECT l_returnflag,
       CAST(MIN(totw) AS BIGINT) AS total_weight,
       CAST(MIN(CASE WHEN 2 * cumw >= totw THEN cents END) AS BIGINT)
         AS weighted_median_cents
FROM c
GROUP BY l_returnflag
"""


@query("agg_weighted_quantile", oracle=_WQUANTILE_ORACLE, survey_id="B-25-ext")
def agg_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (price weighted by quantity) per return
    flag: order values within the group, accumulate weights with a
    running-sum window, and take the smallest value whose cumulative
    weight reaches half the total. percentile_approx can't take weights
    and approximate answers aren't oracle-checkable; this is the exact
    one-pass-over-sorted-group shape. Intra-tie row order is irrelevant
    (whether a value qualifies depends only on the total weight at or
    below it), so no tiebreak is needed for determinism; weights are
    floor()ed to integers because Spark CAST truncates where DuckDB
    rounds (SURVEY §5.3 rule 6). One shuffle on l_returnflag; at 100 TB
    group skew is the concern — the same construction runs per
    sub-partition and merges, since prefix sums distribute."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents("l_extendedprice").alias("cents"),
        F.floor("l_quantity").cast("long").alias("w"),
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_tot).alias("totw"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min("totw").cast("long").alias("total_weight"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents")))
        .cast("long")
        .alias("weighted_median_cents"),
    )


_RATE_LIMIT_ORACLE = """
SELECT event_id, user_id, date_trunc('day', ts) AS day_start,
       CAST(rn AS BIGINT) AS rn
FROM (
  SELECT event_id, user_id, ts,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events
) t
WHERE rn <= 3
"""


@query("events_rate_limit", oracle=_RATE_LIMIT_ORACLE, survey_id="B-32-ext")
def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rate limiting: keep at most 3 events per (user, day),
    earliest-first with event_id tiebreak — the quota-enforcement /
    throttling kernel (a training-data pipeline caps per-source
    contributions the same way; the reference's feed would cap per-key
    Kinesis pressure with exactly this shape). row_number ≤ k lets
    Catalyst push a per-partition WindowGroupLimit below the shuffle, so
    each map task emits at most k rows per (user, day) — the exchange
    carries the quota, not the traffic, which is what makes the
    operator viable on a 100 TB feed."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            day.alias("day_start"),
            "ts",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .drop("ts")
    )


_ZORDER_ORACLE = """
WITH keyed AS (
  SELECT event_id, user_id % 256 AS a,
         CAST(date_part('day', ts) AS BIGINT) AS b
  FROM events
), bits AS (
  SELECT event_id, a, b, unnest(generate_series(0, 7)) AS k FROM keyed
), z AS (
  SELECT event_id, a, b,
         SUM(((a // power(2, k)::BIGINT) % 2) * power(2, 2 * k)::BIGINT
             + ((b // power(2, k)::BIGINT) % 2) * power(2, 2 * k + 1)::BIGINT)
           AS zval
  FROM bits GROUP BY event_id, a, b
)
SELECT CAST(zval // 4096 AS BIGINT) AS z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(a) AS BIGINT) AS a_min, CAST(MAX(a) AS BIGINT) AS a_max,
       CAST(MIN(b) AS BIGINT) AS b_min, CAST(MAX(b) AS BIGINT) AS b_max
FROM z
GROUP BY 1
"""


@query("layout_zorder_buckets", oracle=_ZORDER_ORACLE, survey_id="B-5-ext")
def layout_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key for TWO-dimensional scan locality
    — the 2-D generalization of layout_cluster_ranges: interleave the
    bits of (user bucket, day) so writing sorted by zval co-locates
    rows that are close in BOTH dimensions; per z-bucket min/max ranges
    (the parquet footer stats a z-ordered write would carry) show each
    bucket covering a tight (a, b) rectangle, which is what lets either
    a user-predicate OR a date-predicate skip most files at 100 TB.
    The interleave is pure integer arithmetic (explode 8 bit positions,
    sum the shifted bits) — identical in both engines, no bit-twiddling
    builtins needed."""
    ev = table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id",
        (F.col("user_id") % 256).alias("a"),
        F.dayofmonth("ts").cast("long").alias("b"),
    )
    bits = keyed.select(
        "event_id", "a", "b", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k")
    )
    term = F.expr(
        "((a DIV CAST(pow(2, k) AS BIGINT)) % 2) * CAST(pow(2, 2 * k) AS BIGINT)"
        " + ((b DIV CAST(pow(2, k) AS BIGINT)) % 2)"
        "   * CAST(pow(2, 2 * k + 1) AS BIGINT)"
    )
    z = bits.groupBy("event_id", "a", "b").agg(F.sum(term).alias("zval"))
    return (
        z.groupBy((F.col("zval") / 4096).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("a").cast("long").alias("a_min"),
            F.max("a").cast("long").alias("a_max"),
            F.min("b").cast("long").alias("b_min"),
            F.max("b").cast("long").alias("b_max"),
        )
    )


_COHORT_ORACLE = """
WITH firstw AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS wk FROM events e
)
SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.wk) // 7 AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM act a JOIN firstw f USING (user_id)
GROUP BY 1, 2
"""


@query("win_retention_cohort", oracle=_COHORT_ORACLE, survey_id="B-29-ext")
def win_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    in each subsequent activity week — the canonical product-analytics
    rollup. Two keyed aggregations (first-week per user; distinct
    user-weeks) joined on user_id: both sides reduce to |users|-scale
    before the join, so the fact table is scanned twice but never
    joined at event grain — at 100 TB the join input is users, not
    events. Week truncation is ISO-Monday in both engines; the offset
    is exact integer day-arithmetic divided by 7."""
    ev = table(spark, sf_dir, "events")
    firstw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    j = act.join(firstw, "user_id")
    return j.groupBy(
        "cohort_week",
        (F.datediff("wk", "cohort_week") / 7).cast("long").alias("week_offset"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


_RESERVOIR_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY round(
             -ln((((doc_id & 2147483647) * 2654435761) % 1000003 + 1)
                 / 1000004.0) / n_chars, 6) ASC,
           doc_id
         ) AS rn
  FROM documents
) t
WHERE rn <= 25
GROUP BY source
"""


@query("sample_reservoir_weighted", oracle=_RESERVOIR_ORACLE, survey_id="B-2-ext")
def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis–Spirakis A-Res), exactly
    the distributed form: each row draws key = -ln(u)/w from a
    DETERMINISTIC uniform u (the engine's masked multiplicative hash
    mapped into (0,1]) with weight w = n_chars, and the k smallest keys
    per source win — longer documents are proportionally likelier to be
    kept, yet the draw replays identically across engines, runs, and
    repartitionings (no rand() stream). The per-group top-k runs as a
    WindowGroupLimit (each map task emits ≤ k rows per source before
    the shuffle) and A-Res keys MERGE: union the per-partition top-k
    and re-take top-k — the property that makes weighted sampling a
    single pass at 100 TB. Keys round to 1e-6 + doc_id tiebreak so an
    engine ulp can't flip a selection at the k boundary."""
    d = table(spark, sf_dir, "documents")
    u = (
        (F.col("doc_id").bitwiseAND(F.lit(2147483647)) * F.lit(2654435761))
        % F.lit(1000003)
        + 1
    ) / 1000004.0
    key = F.round(-F.log(u) / F.col("n_chars"), 6)
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id"))
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 25)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


_GAP_DETECT_ORACLE = """
SELECT user_id, event_id,
       CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
FROM (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
) t
WHERE prev_ts IS NOT NULL
  AND epoch_us(ts) - epoch_us(prev_ts) > 21600000000
"""


@query("win_gap_detection", oracle=_GAP_DETECT_ORACLE, survey_id="B-29-ext")
def win_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-outage detection: per-user silences longer than 6 hours,
    emitted with exact microsecond durations — the monitoring twin of
    sessionization (win_sessionize groups activity; this surfaces the
    holes, which is what an on-call for the reference's CloudTrail feed
    actually pages on). One lag window per user with the engine's
    standard (ts, event_id) total order; gap arithmetic in integer
    microseconds so the engines cannot disagree on a boundary."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.select("user_id", "event_id", gap_us.alias("gap_us"))
        .where(F.col("gap_us").isNotNull() & (F.col("gap_us") > 21600000000))
        .select("user_id", "event_id", F.col("gap_us").cast("long").alias("gap_us"))
    )


_ERROR_RATE_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_errors,
       CAST(floor(COUNT(*) FILTER (WHERE event_type = 'error') * 10000.0
                  / COUNT(*)) AS BIGINT) AS error_bp
FROM events
GROUP BY 1
"""


@query("agg_error_rate_daily", oracle=_ERROR_RATE_ORACLE, survey_id="A-11-ext")
def agg_error_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational error-rate rollup: per day, total events, error
    events, and the error share in integer basis points — the SLO
    dashboard number for the feed the reference forwards (A-11's
    metrics, aggregated rather than logged). One partial+final count
    keyed by day; the share is floor()ed integer arithmetic so both
    engines agree exactly at any volume."""
    ev = table(spark, sf_dir, "events")
    is_err = (F.col("event_type") == "error").cast("long")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(is_err).cast("long").alias("n_errors"),
        F.floor(F.sum(is_err) * 10000.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("error_bp"),
    )


_COMPACT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       TRUE AS compacted
FROM events
"""


@query("layout_compact_small_files", oracle=_COMPACT_ORACLE, survey_id="B-5-ext")
def layout_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the highest-frequency maintenance job on
    any 100 TB lake (streaming ingest writes a file per trigger per
    partition; a day later the table is a million 2 MB files and every
    scan pays a task per file). Simulated here end to end: events are
    deliberately fragmented into 64 shards (mode=overwrite into the
    query's scratch_dir — no residue growth, the join_bucketed_colocated
    discipline), then compacted by reading the fragmented table back
    and rewriting with AQE-coalesced shuffle-free repartition to the
    byte-targeted file count. The returned row is a certificate: the
    full content survives (count + id checksum + type cardinality,
    hash-checked against the source-of-truth table) and `compacted`
    asserts the rewrite produced <= 8 files from 64. On a real lake the
    same job runs per partition-predicate with a manifest swap."""
    import glob

    base = scratch_dir("layout_compact_small_files", sf_dir)
    ev = table(spark, sf_dir, "events")
    frag_path = f"{base}/frag"
    ev.repartition(64).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    compact_path = f"{base}/compact"
    frag.coalesce(4).write.mode("overwrite").parquet(compact_path)
    n_files = len(glob.glob(f"{compact_path}/part-*.parquet"))
    out = spark.read.parquet(compact_path)
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
        F.lit(n_files <= 8).alias("compacted"),
    )
