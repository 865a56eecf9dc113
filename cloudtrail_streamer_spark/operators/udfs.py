"""UDF / UDAF / UDTF surface (SURVEY.md §2.B B-51..B-54).

The declared Python escape hatches — everything else in the engine stays
JVM-side. Ordered by cost (SURVEY.md §4.2 "UDFs are the slow path"):

- B-51 row-at-a-time Python UDF: serialization per row; kept ONLY as the
  parity demonstration. bench.py shows the gap vs B-52.
- B-52 pandas UDF: Arrow batches, vectorized numpy/pandas ops — the
  acceptable Python hot path at 100 TB.
- B-53 applyInPandas: grouped-map — per-group pandas frame; group count
  must be large and group size bounded for scale.
- B-54 UDTF: Python table function (lateral generator).

The ARN parsing theme mirrors the reference's CloudTrail domain: records
carry userIdentity.arn (SURVEY.md §1.1); the reference never parses it
(opaque bytes) — we demonstrate the analytics-mode parse.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf
from pyspark.sql.functions import udtf
from pyspark.sql.types import LongType

from cloudtrail_streamer_spark.catalog import table
from cloudtrail_streamer_spark.registry import query


def _kernel_buckets(sf_dir: str, tbl: str, target_rows: int = 100_000) -> int:
    """Scale-adaptive grouped-map bucket count (r11, guide §4.5 "once
    per task, not per row or per batch" applied to GROUPS): Spark calls
    the Python kernel once per group, so keying a grouped/cogrouped map
    by a high-cardinality column (user_id — 1,500 tiny groups at sf0.1)
    pays the pandas fixed cost per TINY group and the kernel never
    vectorizes. Grouping by ``pmod(xxhash64(key), n_buckets)`` instead
    keeps the same one-shuffle plan but hands each kernel call a
    ~target_rows slice in which the per-key logic runs as vectorized
    pandas group operations. Derived from the parquet footer row count
    (the same metadata tier as the broadcast routing): ~one bucket per
    100k rows, floored at 16 so local fixtures still exercise multiple
    groups, and growing linearly with data so per-kernel memory stays
    bounded at 100 TB. Deterministic (xxhash64 of the key), so retried
    tasks rebuild identical buckets (guide §2.5)."""
    from cloudtrail_streamer_spark.stats import row_count

    return _buckets_for_rows(row_count(sf_dir, tbl), target_rows)


def _buckets_for_rows(n: int, target_rows: int = 100_000) -> int:
    """Bucket count for ``n`` rows: ceil(n / target_rows), floored at 16
    (16 when the row count is unknown)."""
    return max(16, -(-n // target_rows)) if n > 0 else 16

# Synthetic CloudTrail-style ARN built deterministically from orders rows.
_ARN_EXPR = (
    "concat('arn:aws:iam::', lpad(CAST(o_custkey AS {str_t}), 12, '0'), "
    "':user/u', CAST(o_orderkey AS {str_t}))"
)
_ARN_SPARK = _ARN_EXPR.format(str_t="STRING")
_ARN_DUCK = _ARN_EXPR.format(str_t="VARCHAR")

_UDF_ORACLE = f"""
SELECT
  o_orderkey,
  {_ARN_DUCK} AS arn,
  CAST(regexp_extract({_ARN_DUCK}, 'arn:aws:iam::(\\d{{12}}):', 1) AS BIGINT) AS account_id
FROM orders
"""


@udf(returnType=LongType())
def _parse_account_id(arn: str) -> int | None:
    """Row-at-a-time Python UDF: ARN → 12-digit account id."""
    if arn is None:
        return None
    parts = arn.split(":")
    return int(parts[4]) if len(parts) > 4 and parts[4].isdigit() else None


@query("udf_python_scalar", oracle=_UDF_ORACLE, survey_id="B-51")
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    arn = F.expr(_ARN_SPARK).alias("arn")
    return o.select("o_orderkey", arn).withColumn(
        "account_id", _parse_account_id(F.col("arn"))
    )


@pandas_udf(LongType())
def _parse_account_id_vec(arn: pd.Series) -> pd.Series:
    """Vectorized (Arrow-batched) equivalent of _parse_account_id."""
    return arn.str.extract(r"arn:aws:iam::(\d{12}):", expand=False).astype("Int64")


@query("udf_pandas_vectorized", oracle=_UDF_ORACLE, survey_id="B-52")
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    arn = F.expr(_ARN_SPARK).alias("arn")
    return o.select("o_orderkey", arn).withColumn(
        "account_id", _parse_account_id_vec(F.col("arn"))
    )


_ZSCORE_ORACLE = """
WITH cents AS (
  SELECT event_id, user_id,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), stats AS (
  SELECT event_id, user_id, c,
         SUM(c) OVER w AS s1,
         SUM(c * c) OVER w AS s2,
         COUNT(*) OVER w AS n
  FROM cents
  WINDOW w AS (PARTITION BY user_id)
)
SELECT event_id, user_id,
       CASE WHEN n > 1 AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) > 0
            THEN (c - CAST(s1 AS DOUBLE) / n)
                 / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
            ELSE 0.0 END AS zscore
FROM stats
"""


def _zscore_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: z-score normalize every user in one bucket.

    Moments from exact integer cents (value is 2dp-exact, FIXTURES.MD) so
    the result is the same IEEE expression the oracle SQL evaluates —
    cross-engine/merge-order independent (§5.3). Per-user moments come
    from a vectorized pandas groupby; the arithmetic mirrors the per-user
    form exactly (int64 sums are exact for cents × group sizes here;
    float64 multiply/divide in the same order), so results are
    bit-identical to the one-group-per-user kernel this replaced.
    """
    import numpy as np

    c = np.round(pdf["value"].to_numpy() * 100.0, 0).astype("int64")
    g = pd.DataFrame({"u": pdf["user_id"].to_numpy(), "c": c, "c2": c * c})
    m = g.groupby("u", sort=False)[["c", "c2"]].sum()
    n = g.groupby("u", sort=False)["c"].size()
    s1 = m["c"].reindex(g["u"]).to_numpy()
    s2 = m["c2"].reindex(g["u"]).to_numpy()
    nn = n.reindex(g["u"]).to_numpy()
    num = s2.astype("float64") - s1.astype("float64") * s1 / nn
    with np.errstate(divide="ignore", invalid="ignore"):
        std = np.sqrt(num / (nn - 1))
        z = np.where((nn > 1) & (num > 0), (c - s1.astype("float64") / nn) / std, 0.0)
    return pd.DataFrame(
        {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "zscore": z}
    )


@query("udaf_applyinpandas", oracle=_ZSCORE_ORACLE, survey_id="B-53")
def udaf_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score via grouped-map applyInPandas (custom UDAF shape).

    Scale: one shuffle on a scale-adaptive user BUCKET (``pmod(xxhash64
    (user_id), n)`` — see ``_kernel_buckets``): Spark invokes the Python
    kernel once per group, so grouping by raw user_id paid the pandas
    fixed cost per ~70-row user (1,500 kernel calls at sf0.1, 2.7 s);
    bucketing hands each call a ~100k-row slice whose per-user moments
    run as one vectorized groupby (0.3 s, identical output). Group size
    stays bounded because the bucket count grows with the footer row
    count — the safe applyInPandas regime even at 100 TB.
    """
    e = table(spark, sf_dir, "events")
    n_buckets = _kernel_buckets(sf_dir, "events")
    return (
        e.select("event_id", "user_id", "value")
        .groupBy(F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("_bucket"))
        .applyInPandas(
            lambda pdf: _zscore_bucket(pdf),
            schema="event_id long, user_id long, zscore double",
        )
    )


_UDTF_ORACLE = """
SELECT event_id, 'k' AS prop_key, json_extract_string(props, '$.k') AS prop_val
FROM events
WHERE props IS NOT NULL
"""


@udtf(returnType="prop_key string, prop_val string")
class _ExplodeProps:
    """Python UDTF: explode a JSON object into key/value rows (the
    Records[]-unwrap of A-7, upstream ``main.go:~150-165`` approx, as a
    user-defined generator)."""

    def eval(self, props: str):  # noqa: D102
        import json

        if props is None:
            return
        try:
            obj = json.loads(props)
        except (ValueError, TypeError):
            return
        if isinstance(obj, dict):
            for k in sorted(obj):
                yield str(k), str(obj[k])


@query("udtf_python", oracle=_UDTF_ORACLE, survey_id="B-54")
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "events").createOrReplaceTempView("events_udtf")
    spark.udtf.register("explode_props", _ExplodeProps)
    return spark.sql(
        """
        SELECT e.event_id, p.prop_key, p.prop_val
        FROM events_udtf e, LATERAL explode_props(e.props) p
        """
    )


def _make_explode_props_arrow_native():
    """Build the Arrow-NATIVE Python UDTF (Spark 4.1 ``arrow_udtf``):
    ``eval`` receives whole ``pyarrow.RecordBatch``es of (event_id,
    props) and yields Arrow tables — true batch execution, vs
    ``useArrow=True`` on a classic UDTF, which only swaps the WIRE
    format while still calling ``eval`` once per row (guide §4.1).
    Deferred to a factory because the ``@arrow_udtf`` decorator imports
    pyarrow at definition time."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udtf

    @arrow_udtf(returnType="event_id long, prop_key string, prop_val string")
    class _ExplodePropsArrowNative:
        def eval(self, batch: "pa.RecordBatch"):  # noqa: D102
            import json

            ids = batch.column("event_id").to_pylist()
            props = batch.column("props").to_pylist()
            out_id: list[int] = []
            out_k: list[str] = []
            out_v: list[str] = []
            for eid, p in zip(ids, props):
                if p is None:
                    continue
                try:
                    obj = json.loads(p)
                except (ValueError, TypeError):
                    continue
                if isinstance(obj, dict):
                    for k in sorted(obj):
                        out_id.append(eid)
                        out_k.append(str(k))
                        out_v.append(str(obj[k]))
            yield pa.table(
                {
                    "event_id": pa.array(out_id, pa.int64()),
                    "prop_key": pa.array(out_k, pa.string()),
                    "prop_val": pa.array(out_v, pa.string()),
                }
            )

    return _ExplodePropsArrowNative


@query("udtf_arrow", oracle=_UDTF_ORACLE, survey_id="B-54-ext")
def udtf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow UDTF rung of the ladder — same explode-props contract and
    oracle as ``udtf_python``, on the Spark 4.1 Arrow-NATIVE UDTF API
    (``arrow_udtf`` + TABLE argument).

    r12 replan (guide §4, VERDICT r11 #6): the previous surface was a
    classic UDTF with ``useArrow=True``, which changes only the
    serialization — ``eval`` still runs once per input ROW, and the
    evaluator materializes a per-row Arrow slice each call. Measured at
    sf0.1 (150k events, min-of-3 noop): useArrow lateral 12.4 s vs
    pickle lateral 1.0 s vs this arrow-native form 0.43 s — the per-row
    Arrow materialization made the "optimized" mode 12x SLOWER than
    pickle, and batch-native eval beats both. The TABLE-argument call
    stays fully distributed: no PARTITION BY is declared, so Spark maps
    the UDTF over the scan's own partitions (verified: 5 scan tasks ->
    5 UDTF tasks, zero Exchange, ArrowEvalPythonUDTF directly above the
    parquet scan — plans/r12/udtf_arrow_{before,after}.txt), which is
    the right 100 TB shape: event_id rides the batch, so no lateral
    join re-association is needed."""
    ev = table(spark, sf_dir, "events")
    ev.select("event_id", "props").createOrReplaceTempView("events_udtf_arrow")
    spark.udtf.register("explode_props_arrow", _make_explode_props_arrow_native())
    return spark.sql(
        """
        SELECT event_id, prop_key, prop_val
        FROM explode_props_arrow(TABLE(SELECT event_id, props
                                       FROM events_udtf_arrow))
        """
    )


_ARROW_BATCH_ORACLE = """
SELECT o_orderkey,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
       CAST(o_orderkey % 97 AS BIGINT) AS bucket
FROM orders
"""


def _arrow_price_cents(batches):
    """mapInArrow kernel: operates directly on pyarrow RecordBatches —
    no pandas materialization at all, the leanest Python hop Spark
    offers. Arithmetic via pyarrow.compute (vectorized C++)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        key = batch.column("o_orderkey")
        cents_col = pc.cast(
            pc.round(pc.multiply(batch.column("o_totalprice"), 100.0)), pa.int64()
        )
        # no modulo kernel in this pyarrow build; numpy view is zero-copy
        bucket = pa.array(np.asarray(key) % 97, type=pa.int64())
        yield pa.RecordBatch.from_arrays(
            [key, cents_col, bucket], ["o_orderkey", "price_cents", "bucket"]
        )


@query("udf_arrow_batch", oracle=_ARROW_BATCH_ORACLE, survey_id="B-52-ext")
def udf_arrow_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth rung of the Python-UDF ladder (after scalar, pandas,
    applyInPandas): mapInArrow processes raw Arrow RecordBatches with
    zero pandas conversion overhead — the right shape when the kernel is
    itself columnar (pyarrow.compute / numpy on buffers). Hash-checked
    against plain SQL arithmetic."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return o.mapInArrow(
        _arrow_price_cents,
        schema="o_orderkey long, price_cents long, bucket long",
    )


_COGROUP_ORACLE = """
SELECT c.user_id, c.event_id AS click_id,
       CAST(p.event_id AS BIGINT) AS purchase_id
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN
     (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def _merge_asof_group(clicks_iter, purchases_iter):
    """cogrouped-map kernel: per-user pandas merge_asof (latest purchase
    at-or-before each click) for every user in one bucket — merge_asof's
    ``by=`` argument runs the per-key backward search vectorized, with
    semantics identical to calling it once per user (at-or-before,
    NULL when the user has no earlier purchase, users absent from the
    purchase side included)."""
    import pandas as pd

    clicks = pd.concat(list(clicks_iter)) if not isinstance(clicks_iter, pd.DataFrame) else clicks_iter
    purchases = pd.concat(list(purchases_iter)) if not isinstance(purchases_iter, pd.DataFrame) else purchases_iter
    clicks = clicks.sort_values("ts", kind="mergesort")
    purchases = purchases.sort_values("ts", kind="mergesort")
    if len(purchases):
        merged = pd.merge_asof(
            clicks,
            purchases.rename(columns={"event_id": "purchase_id"})[
                ["user_id", "ts", "purchase_id"]
            ],
            on="ts",
            by="user_id",
            direction="backward",
        )
    else:
        merged = clicks.assign(purchase_id=pd.array([None] * len(clicks), dtype="Int64"))
    return pd.DataFrame(
        {
            "user_id": merged["user_id"],
            "click_id": merged["event_id"],
            "purchase_id": merged["purchase_id"].astype("Int64"),
        }
    )


@query("udaf_cogrouped_asof", oracle=_COGROUP_ORACLE, survey_id="B-53-ext")
def udaf_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped pandas map — the remaining member of the pandas-API
    family (scalar UDF, grouped agg, grouped map, mapInPandas,
    mapInArrow, applyInPandasWithState are all covered elsewhere):
    clicks and purchases are co-grouped by a scale-adaptive USER BUCKET
    (``pmod(xxhash64(user_id), n)`` — both sides bucket identically, so
    a user's clicks and purchases still always meet in one kernel call)
    and each pair of per-bucket frames meets in one Python kernel
    running pandas ``merge_asof(by='user_id')`` — the per-key two-sided
    custom merge that has no single built-in expression. Spark
    co-partitions both inputs on the bucket (one shuffle each side) and
    streams matching groups through Arrow together; memory is bounded
    because the bucket count grows with the footer row count
    (``_kernel_buckets``). r11: co-grouping by raw user_id paid the
    pandas fixed cost per ~13-row group — 1,500 kernel invocations,
    12 s at sf0.1; bucketing runs the identical per-user semantics
    vectorized in ~16 calls (0.4 s, identical output).
    The oracle is DuckDB's native ASOF LEFT JOIN — the pandas kernel
    must reproduce exact as-of semantics including no-purchase users
    (NULL) and ties (at-or-before)."""
    ev = table(spark, sf_dir, "events")
    n_buckets = _kernel_buckets(sf_dir, "events")
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("_bucket")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    return (
        clicks.groupBy(bucket)
        .cogroup(purchases.groupBy(bucket))
        .applyInPandas(
            _merge_asof_group,
            schema="user_id long, click_id long, purchase_id long",
        )
    )


@query("udf_arrow_scalar", oracle=_UDF_ORACLE, survey_id="B-51-ext")
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Arrow-OPTIMIZED scalar Python UDF (useArrow=True): the
    author writes the same one-value-at-a-time function as B-51, but
    the boundary serializes whole Arrow batches instead of pickled rows
    — the row-UDF ergonomics with most of the pandas-UDF transfer cost
    removed. Same ARN-parse logic and the same oracle as the other two
    UDF variants, so all three boundary modes (pickled row, Arrow
    scalar, pandas batch) are proven value-identical on one contract."""
    import re

    @F.udf(returnType=LongType(), useArrow=True)
    def parse_arrow(arn: str) -> int | None:
        m = re.search(r"arn:aws:iam::(\d{12}):", arn)
        return int(m.group(1)) if m else None

    o = table(spark, sf_dir, "orders")
    arn = F.expr(_ARN_SPARK).alias("arn")
    return o.select("o_orderkey", arn).withColumn("account_id", parse_arrow(F.col("arn")))


# ---------------------------------------------------------------------------
# udtf_analyze_dynamic — polymorphic UDTF with analyze-time schema (round 7)
# ---------------------------------------------------------------------------

_UDTF_DYNAMIC_ORACLE = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events
WHERE json_extract(props, '$.k') IS NOT NULL
"""


class _ExtractFields:
    """Polymorphic UDTF (Spark 4 ``analyze`` static method): the OUTPUT
    SCHEMA is computed at PLAN time from the constant argument — one
    output column per requested JSON field, typed long. The generator
    body then reads the resolved schema's field list. This is the
    catalog-driven extractor shape (columns chosen per call site), which
    a fixed returnType UDTF cannot express."""

    @staticmethod
    def analyze(event_id, props, fields):
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.types import LongType, StructType

        if not fields.isConstantExpression:
            raise Exception("fields must be a constant")
        st = StructType().add("event_id", LongType())
        for f in str(fields.value).split(","):
            st = st.add(f.strip(), LongType())
        return AnalyzeResult(schema=st)

    def eval(self, event_id, props, fields):
        import json

        try:
            obj = json.loads(props) if props is not None else {}
        except (ValueError, TypeError):
            obj = {}
        names = [f.strip() for f in str(fields).split(",")]
        vals = [obj.get(n) for n in names]
        if all(v is None for v in vals):
            return
        yield (event_id, *[int(v) if v is not None else None for v in vals])


@query("udtf_analyze_dynamic", oracle=_UDTF_DYNAMIC_ORACLE, survey_id="B-54-ext")
def udtf_analyze_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last UDTF rung: a POLYMORPHIC table function whose output
    schema is resolved by its ``analyze()`` static method at plan time
    from a constant argument — here ``fields => 'k'`` produces columns
    (event_id, k). Catalyst sees a fully-typed relation before
    execution, so downstream pruning/pushdown work exactly as for a
    static UDTF; only the schema derivation moved from author time to
    plan time. At 100 TB this is the extract-columns-per-call-site
    contract (one registered function serving many feed shapes) without
    a per-shape code deploy."""
    from pyspark.sql.functions import lit, udtf

    dyn = udtf(_ExtractFields)
    spark.udtf.register("extract_fields_dyn", dyn)
    table(spark, sf_dir, "events").createOrReplaceTempView("events_udtf_dyn")
    return spark.sql(
        """
        SELECT p.event_id, p.k
        FROM events_udtf_dyn e,
             LATERAL extract_fields_dyn(e.event_id, e.props, 'k') p
        """
    )
