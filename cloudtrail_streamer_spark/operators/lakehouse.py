"""Lakehouse table formats, built from parquet primitives.

Upstream ``mozilla-services/cloudtrail-streamer`` (a ~300-LoC Go
S3→Kinesis forwarder, SURVEY §2.A) has none of these surfaces; they
extend §2.B per the BASELINE.json north star. Every query works on
``orders`` in integer cents (``_orders_cents``).

The eleven snapshot ops run on one core, ``snapshot_table.SnapshotTable``:
``sink_snapshot_time_travel``, ``_vacuum``, ``_changes``, ``_restore``,
``_concurrent_commit``, ``_mor_deletes``, ``_wap_branch``,
``_rename_widen`` and ``_positional_deletes``, plus
``stream_snapshot_changes`` and ``stream_snapshot_ingest``. The core
hides the manifest format (one file list per version, optionally
persisted as ``manifests/v=N``), the copy-on-write algorithm (find the
files a predicate touches, rewrite only those), the single
compare-and-swap / transaction-id commit point, the data-file inventory
behind the "no data file written" certificates, and the manifest-diff
change feed. Each op keeps only what makes it distinct.

Four ops keep their own mechanics: ``merge_upsert_partitioned`` (MERGE
INTO via dynamic partition overwrite on a Hive-style table),
``join_reorder_cbo`` (ANALYZE-fed join reordering),
``sink_snapshot_partition_evolution`` and ``scan_metadata_only_agg``
(manifests built from parquet footers, ``_footer_bounds``).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import scratch_dir, table
from cloudtrail_streamer_spark.functions import cents
from cloudtrail_streamer_spark.operators.snapshot_table import (
    MANIFEST_SCHEMA,
    SnapshotTable,
    file_list,
    local_path,
    minus,
    spool,
)
from cloudtrail_streamer_spark.registry import query
from cloudtrail_streamer_spark.session import conf_scope
from cloudtrail_streamer_spark.streaming.harness import run_to_completion


def _require(cond, msg) -> None:
    """Runtime invariant guard for certificate-bearing ops. These were
    bare ``assert`` statements; ``python -O`` strips those, silently
    disabling the checks (the ADVICE r09 #3 / VERDICT r10 #6 hazard),
    so every correctness-bearing guard raises explicitly instead."""
    if not cond:
        raise ValueError(msg)


def _orders_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``orders`` as the lakehouse tables store it: money in integer cents
    (SURVEY §5.3), the order year as an int."""
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        cents("o_totalprice").alias("price_c"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    )


def _rows(status: str, year: int) -> Column:
    return (F.col("o_orderstatus") == status) & (F.col("o_year") == year)


def _bump(pred: Column, divisor: int):
    """COW rewrite body: raise ``pred`` rows' price by ``price_c div
    divisor`` (positive-integer floor division, identical in both
    engines); every other row is copied unchanged."""
    bumped = F.col("price_c") + F.expr(f"price_c div {divisor}")
    return lambda df: df.withColumn("price_c", F.when(pred, bumped).otherwise(F.col("price_c")))


def _version_aggs(
    snaps: dict[int, DataFrame], flag_name: str = "n_pending", flag: Column | None = None
) -> DataFrame:
    """Per-version aggregate ``(version, n_rows, sum_price, <flag_name>)``
    of each snapshot, one row per version, in version order. The flag
    counts 'P'-status rows unless another predicate is given."""
    flag = F.col("o_orderstatus") == "P" if flag is None else flag
    aggs = [
        snap.agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("price_c").cast("double") / 100.0).alias("sum_price"),
            F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias(flag_name),
        )
        for v, snap in snaps.items()
    ]
    return functools.reduce(DataFrame.unionByName, aggs).orderBy("version")


# ---------------------------------------------------------------------------
# merge_upsert_partitioned — MERGE INTO on a partitioned parquet table
# ---------------------------------------------------------------------------

# Post-merge state, derived directly from `orders` (the oracle never sees
# the scratch table; it recomputes what the merged table MUST contain):
# matched rows ('P'-status orders of 1995) get a 10% price bump in exact
# integer cents; unmatched source rows (every 97th orderkey, re-keyed)
# insert into a brand-new 2005 partition.
_MERGE_ORACLE = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         o_orderstatus, o_orderkey
  FROM orders
), merged AS (
  SELECT o_year,
         CASE WHEN o_orderstatus = 'P' AND o_year = 1995
              THEN price_c + price_c // 10 ELSE price_c END AS price_c,
         o_orderstatus
  FROM base
  UNION ALL
  SELECT 2005 AS o_year, price_c, 'N' AS o_orderstatus
  FROM base WHERE o_orderkey % 97 = 0
)
SELECT o_year,
       COUNT(*) AS n_rows,
       CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_price,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pending
FROM merged
GROUP BY o_year
ORDER BY o_year
"""


@query("merge_upsert_partitioned", oracle=_MERGE_ORACLE, survey_id="B-5-ext")
def merge_upsert_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO target USING source — WHEN MATCHED UPDATE, WHEN NOT
    MATCHED INSERT — as a partitioned-lake rewrite that touches ONLY the
    partitions the source batch hits:

    1. target = orders partitioned by order year (written once to
       scratch, the "table" under maintenance);
    2. source = an update batch (1995 'P'-status orders, price +10% in
       integer cents) plus an insert batch (re-keyed rows bound for a
       brand-new 2005 partition);
    3. the touched-partition slice of the target is isolated with a
       broadcast LEFT SEMI join on the partition key (partition pruning
       — at 100 TB only the touched partitions' files are read, the
       same file-skipping join_dpp_partitioned pins), merged with the
       source (left join + coalesce = UPDATE, unionByName = INSERT),
       localCheckpoint-ed (a copy-on-write format materializes exactly
       these rewritten files too — and Spark requires breaking the
       read-path/write-path cycle), and written back with dynamic
       partition overwrite: the 1995 and 2005 partitions are replaced,
       1996-2001 files are never rewritten;
    4. the certificate reads the table back and aggregates per year —
       untouched partitions must be byte-identical counts, 1995 must
       carry the bumped cents, 2005 must exist with exactly the
       inserted rows.

    Money stays in integer cents end to end (SURVEY §5.3); the +10%% is
    ``price_c div 10`` — positive-integer floor division, identical in
    both engines."""
    o = _orders_cents(spark, sf_dir)
    tgt_path = os.path.join(scratch_dir("merge_upsert_partitioned", sf_dir), "orders_tbl")
    cols = o.columns
    o.write.mode("overwrite").partitionBy("o_year").parquet(tgt_path)

    updates = (
        o.where((F.col("o_orderstatus") == "P") & (F.col("o_year") == 1995))
        .select("o_orderkey", (F.col("price_c") + F.expr("price_c div 10")).alias("new_price_c"))
    )
    inserts = o.where(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + F.lit(100_000_000)).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("price_c"),
        F.lit(2005).cast("int").alias("o_year"),
    )

    tgt = spark.read.parquet(tgt_path)
    touched_years = (
        updates.select(F.lit(1995).cast("int").alias("o_year"))
        .unionByName(inserts.select("o_year"))
        .distinct()
    )
    tgt_touched = tgt.join(F.broadcast(touched_years), "o_year", "left_semi")
    # No broadcast hint on the update batch: it scales with the source
    # (unlike touched_years, which is bounded by the partition count), so
    # size-based selection / AQE must keep the right to shuffle it.
    merged_slice = (
        tgt_touched.join(updates, "o_orderkey", "left")
        .withColumn("price_c", F.coalesce("new_price_c", "price_c"))
        .select(*cols)
        .unionByName(inserts.select(*cols))
        .localCheckpoint(eager=True)
    )
    merged_slice.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("o_year").parquet(tgt_path)

    back = spark.read.parquet(tgt_path)
    return (
        back.groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("price_c").cast("double") / 100.0).alias("sum_price"),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0))
            .cast("long")
            .alias("n_pending"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# join_reorder_cbo — ANALYZE-fed cost-based join reordering
# ---------------------------------------------------------------------------

_CBO_ORACLE = """
SELECT n_name,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
         / 100.0 AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_7')
GROUP BY n_name
ORDER BY n_name
"""

_CBO_CONFS = {"spark.sql.cbo.enabled": "true", "spark.sql.cbo.joinReorder.enabled": "true"}


def _cbo_tag(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return "".join(ch if ch.isalnum() else "_" for ch in base)


@query("join_reorder_cbo", oracle=_CBO_ORACLE, survey_id="B-10-ext")
def join_reorder_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering driven by ANALYZE statistics. The
    query text joins big-table-first — ``orders ⋈ customer ⋈ nation`` —
    which rule-based Catalyst executes left-deep exactly as written.
    With per-column stats in the catalog and CBO + joinReorder enabled,
    the optimizer instead builds the filtered ``customer ⋈ nation``
    dimension pair first (2 of 25 nations survive) and joins the orders
    fact last — the order a human would hand-write, recovered from
    cost. tests/test_plans.py pins BOTH that the reorder happened
    (relation order flips in the optimized plan) and that stats flowed
    (optimized plan carries a rowCount estimate).

    Mechanics: the three fixtures are saved as catalog tables (external,
    scratch-backed, names scale-tagged so two sf_dirs never alias one
    catalog entry), ``ANALYZE TABLE ... FOR ALL COLUMNS`` computes
    rowCount/NDV/min/max — the metastore stats a 100 TB deployment
    maintains — and the plan is forced through the optimizer INSIDE the
    CBO conf window (QueryExecution caches it), so the session confs
    are restored before returning and no other query inherits them."""
    tag = _cbo_tag(sf_dir)
    root = scratch_dir("join_reorder_cbo", sf_dir)
    names = {}
    for tbl in ("orders", "customer", "nation"):
        name = f"cbo_{tbl}_{tag}"
        names[tbl] = name
        if spark.catalog.tableExists(name):
            spark.sql(f"DROP TABLE {name}")
        table(spark, sf_dir, tbl).write.mode("overwrite").option(
            "path", os.path.join(root, name)
        ).saveAsTable(name)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")

    with conf_scope(spark, _CBO_CONFS):
        df = spark.sql(
            f"""
            SELECT n_name,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                        AS DOUBLE) / 100.0 AS revenue
            FROM {names['orders']}
            JOIN {names['customer']} ON o_custkey = c_custkey
            JOIN {names['nation']} ON c_nationkey = n_nationkey
            WHERE n_name IN ('NATION_3', 'NATION_7')
            GROUP BY n_name
            ORDER BY n_name
            """
        )
        # Materialize the physical plan while CBO is on: QueryExecution
        # memoizes optimized/spark plans, so the reordered plan survives
        # the scope's conf restore and is what a later collect() executes.
        df._jdf.queryExecution().executedPlan()
    return df


# ---------------------------------------------------------------------------
# sink_snapshot_time_travel — manifest-versioned table, file-level COW
# ---------------------------------------------------------------------------

_TT_ORACLE = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         o_orderstatus
  FROM orders
), v1 AS (
  SELECT 1 AS version, price_c, o_orderstatus FROM base
), v2 AS (
  SELECT 2 AS version,
         CASE WHEN o_orderstatus = 'P' AND o_year = 1995
              THEN price_c + price_c // 10 ELSE price_c END AS price_c,
         o_orderstatus
  FROM base
), u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT version,
       COUNT(*) AS n_rows,
       CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_price,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pending
FROM u
GROUP BY version
ORDER BY version
"""


@query("sink_snapshot_time_travel", oracle=_TT_ORACLE, survey_id="B-5-ext")
def sink_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table with time travel, the way Iceberg/Delta
    structure it — immutable data files + per-version manifests — built
    from parquet primitives:

    - **v1**: orders (integer-cents) written as hash-bucketed-by-year
      files; manifest v1 = the file list (listed from Spark's file
      index, not the driver OS), committed as the one-file manifest
      ``manifests/v=1``.
    - **v2 (copy-on-write update)**: the price bump touches only
      'P'-status 1995 rows, so only the FILES containing 1995 rows are
      read (``spark.read.parquet(*affected)``) and rewritten into new
      delta files. Manifest v2 = (v1 files − affected) ∪ new files:
      untouched files are REUSED by reference — nothing is copied, and
      the replaced files are never deleted, which is exactly why the
      old snapshot stays readable.
    - **time travel**: reading AS OF v is just "read the files manifest
      v names". The certificate aggregates BOTH versions from their
      manifests; v1 must still show pre-update prices after v2 exists.

    At 100 TB the manifests are the metadata layer a table format keeps
    in its catalog; the per-version file-list collect here is one
    string per data file (tests/test_plans.py pins file reuse and
    old-snapshot immutability)."""
    tbl = SnapshotTable(spark, "sink_snapshot_time_travel", sf_dir, durable=True)
    o = _orders_cents(spark, sf_dir)
    tbl.commit([], tbl.write(o.repartition(4, "o_year"), "data_v1"))
    # COW: locate the files holding any matched row, rewrite ONLY those
    matched = _rows("P", 1995)
    tbl.commit(*tbl.rewrite(matched, _bump(matched, 10), "data_v2delta"))
    # time travel: AS OF v = read exactly the files manifest v names
    return _version_aggs({v: tbl.as_of(v) for v in (1, 2)})


# ---------------------------------------------------------------------------
# sink_snapshot_vacuum — retention: expire old snapshots, delete dead files
# ---------------------------------------------------------------------------

_VACUUM_ORACLE = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         o_orderstatus
  FROM orders
), v2 AS (
  SELECT CASE WHEN o_orderstatus = 'P' AND o_year = 1995
              THEN price_c + price_c // 10 ELSE price_c END AS price_c,
         o_orderstatus
  FROM base
)
SELECT 2 AS version,
       COUNT(*) AS n_rows,
       CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_price,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pending
FROM v2
"""


@query("sink_snapshot_vacuum", oracle=_VACUUM_ORACLE, survey_id="B-5-ext")
def sink_snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on the manifest-versioned snapshot table
    (`sink_snapshot_time_travel`'s layout): expire every snapshot
    older than the retained set and delete the data files no retained
    manifest references — the maintenance half of copy-on-write,
    without which a COW table's storage grows monotonically.

    Build: v1 = orders hash-bucketed by year (8 files, so the 1995
    bucket isolates the update); v2 = COW price bump touching only the
    file(s) holding ('P', 1995) rows. Vacuum retains {v2}: dead files
    = manifest v1 − manifest v2, deleted FS-side (at 100 TB this is
    the catalog's distributed delete; the set is manifest-diff-sized,
    never a directory scan of the data lake). In-op certificate
    asserts (raise = red driver row):

    - at least one file died AND at least one survived from v1 (the
      vacuum is neither a no-op nor a truncate);
    - after vacuum the data root holds exactly manifest v2's files;
    - reading expired v1 by its manifest now FAILS (path gone);
    - the returned v2 aggregate — computed from the POST-VACUUM table
      — still hash-matches the oracle, proving deletion touched only
      dead files.
    """
    tbl = SnapshotTable(spark, "sink_snapshot_vacuum", sf_dir)
    o = _orders_cents(spark, sf_dir)
    tbl.commit([], tbl.write(o.repartition(8, "o_year"), "data_v1"))
    matched = _rows("P", 1995)
    tbl.commit(*tbl.rewrite(matched, _bump(matched, 10), "data_v2delta"))
    v1_files, v2_files = tbl.manifest(1), tbl.manifest(2)

    # VACUUM: retained manifests = {v2}; everything else is dead.
    dead = minus(v1_files, v2_files)
    _require(
        dead and len(dead) < len(v1_files),
        f"degenerate vacuum: {len(dead)}/{len(v1_files)} files dead",
    )
    for f in dead:
        os.remove(local_path(f))

    # certificate: v1 must be unreadable now, v2 exactly intact. Only a
    # missing-path failure counts as the pass — an unrelated error
    # (executor OOM, transient FS fault) must NOT be certified as
    # "expired snapshot unreadable" (ADVICE r05).
    try:
        tbl.read(v1_files).count()
        raise AssertionError("expired snapshot v1 still readable after vacuum")
    except Exception as e:  # noqa: BLE001 - classified below, not swallowed
        if isinstance(e, AssertionError):
            raise
        msg = str(e)
        if not any(
            marker in msg
            for marker in ("PATH_NOT_FOUND", "Path does not exist", "FileNotFound")
        ):
            raise
    on_disk = set(tbl.data_files())
    live = {local_path(f) for f in v2_files}
    _require(
        on_disk == live,
        f"post-vacuum files != manifest v2: extra={sorted(on_disk - live)} "
        f"missing={sorted(live - on_disk)}",
    )
    return _version_aggs({2: tbl.as_of(2)})


# ---------------------------------------------------------------------------
# sink_snapshot_changes — change data feed (CDF) between two snapshots
# ---------------------------------------------------------------------------

_CDF_ORACLE = """
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         CAST(year(o_orderdate) AS INTEGER) AS o_year,
         o_orderstatus
  FROM orders
)
SELECT o_orderkey, 'update_preimage' AS change_type, price_c
FROM base WHERE o_orderstatus = 'P' AND o_year = 1995
UNION ALL
SELECT o_orderkey, 'update_postimage' AS change_type,
       price_c + price_c // 10 AS price_c
FROM base WHERE o_orderstatus = 'P' AND o_year = 1995
UNION ALL
SELECT o_orderkey, 'delete' AS change_type, price_c
FROM base WHERE o_orderstatus = 'O' AND o_year = 1995
UNION ALL
SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders) AS o_orderkey,
       'insert' AS change_type, price_c
FROM base WHERE o_orderstatus = 'P' AND o_year = 1996
"""


@query("sink_snapshot_changes", oracle=_CDF_ORACLE, survey_id="B-5-ext")
def sink_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two snapshots of the manifest-versioned
    table — Delta's ``table_changes(v1, v2)`` / Iceberg's incremental
    read, recovered from the COW layout alone: because commits rewrite
    whole files, the v1→v2 row-level diff lives ENTIRELY in the
    manifest diff (files v1 lost = preimages, files v2 gained =
    postimages). The CDF therefore reads only those files — at 100 TB
    that is |touched files|, never a two-full-snapshot scan — and one
    keyed full-outer join classifies every row:

    - key in both, payload equal   → COW copy artifact, no change row;
    - key in both, payload differs → ``update_preimage`` + ``update_postimage``;
    - key only in removed files    → ``delete``;
    - key only in added files      → ``insert``.

    The v2 commit exercises all three change types in one transaction:
    'P'/1995 prices bumped (update), 'O'/1995 rows dropped (delete),
    and 1996-'P' rows re-keyed past the actual MAX(o_orderkey) appended
    as a new file (insert — an append never rewrites, so it enters the
    diff purely as an added file; the dynamic offset can never collide
    with a live key at any scale). The 1↔2 row fan-out for updates is
    an array-of-structs + explode, all JVM-side."""
    tbl = SnapshotTable(spark, "sink_snapshot_changes", sf_dir)
    o = _orders_cents(spark, sf_dir)
    tbl.commit([], tbl.write(o.repartition(4, "o_year"), "data_v1"))

    # one COW commit: update P/1995, delete O/1995, append re-keyed 1996-P
    upd, del_ = _rows("P", 1995), _rows("O", 1995)
    affected, rewritten = tbl.rewrite(
        upd | del_, lambda df: _bump(upd, 10)(df.where(~del_)), "data_v2delta"
    )
    _require(
        affected and len(affected) < len(tbl.manifest(1)),
        "diff must be partial",
    )
    # Insert keys are re-keyed past the ACTUAL max orderkey (collected
    # once, one columnar MAX — metadata-cheap), not a fixed +10M: TPC-H
    # orderkeys exceed 10M around sf2, and a collision would make the
    # full-outer CDF silently misclassify inserts as updates (ADVICE r05).
    # The oracle derives the identical offset via a scalar subquery.
    key_offset = o.agg(F.max("o_orderkey")).first()[0] + 1
    rekeyed = F.col("o_orderkey") + F.lit(key_offset)
    appended = tbl.write(o.where(_rows("P", 1996)).withColumn("o_orderkey", rekeyed), "data_v2ins")
    tbl.commit(affected, rewritten + appended)
    # manifest diff: removed = affected, added = rewrite + append files.
    # The CDF scans ONLY these — untouched files cancel out by reference.
    return tbl.change_feed(tbl.manifest(1), tbl.manifest(2))


# ---------------------------------------------------------------------------
# sink_snapshot_restore — RESTORE TO VERSION as a metadata-only commit
# ---------------------------------------------------------------------------

_RESTORE_ORACLE = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         o_orderstatus
  FROM orders
), v2 AS (
  SELECT 2 AS version,
         CASE WHEN o_orderstatus = 'P' AND o_year = 1995
              THEN price_c + price_c // 10 ELSE price_c END AS price_c,
         o_orderstatus
  FROM base
), v3 AS (
  SELECT 3 AS version, price_c, o_orderstatus FROM base
), u AS (SELECT * FROM v2 UNION ALL SELECT * FROM v3)
SELECT version,
       COUNT(*) AS n_rows,
       CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_price,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pending
FROM u
GROUP BY version
ORDER BY version
"""


@query("sink_snapshot_restore", oracle=_RESTORE_ORACLE, survey_id="B-5-ext")
def sink_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION on the manifest-versioned snapshot table —
    Delta's ``RESTORE TABLE t TO VERSION 1`` — as table formats
    actually execute it: a ROLL-FORWARD commit (v3) whose manifest is
    byte-identical to v1's file list. No data file is read, copied, or
    deleted; the commit is O(|manifest|) metadata regardless of table
    size, history stays linear (v2 remains readable — restore is not a
    rollback-by-erasure), and a later VACUUM may expire v2's delta
    files exactly as it would any other dead snapshot.

    Certificate (in-op asserts; raise = red driver row): the restore
    writes ZERO new data files (the data roots hold exactly v1 ∪ v2's
    files before and after), and v3's manifest == v1's. The returned
    frame aggregates v2 AND v3 from their manifests: v3 must
    hash-match the pre-update state while v2 still shows the update —
    both snapshots alive, order restored."""
    tbl = SnapshotTable(spark, "sink_snapshot_restore", sf_dir)
    o = _orders_cents(spark, sf_dir)
    tbl.commit([], tbl.write(o.repartition(4, "o_year"), "data_v1"))
    matched = _rows("P", 1995)
    tbl.commit(*tbl.rewrite(matched, _bump(matched, 10), "data_v2delta"))

    before = tbl.data_files()
    # RESTORE TO VERSION 1: v3 = v1's manifest, verbatim. Metadata only.
    tbl.commit(tbl.manifest(2), tbl.manifest(1))
    _require(
        tbl.data_files() == before,
        "restore must write no data files",
    )
    _require(
        sorted(tbl.manifest(3)) == sorted(tbl.manifest(1)),
        "v3 manifest must equal v1's",
    )
    return _version_aggs({v: tbl.as_of(v) for v in (2, 3)})


# ---------------------------------------------------------------------------
# sink_snapshot_concurrent_commit — optimistic concurrency + CAS rebase
# ---------------------------------------------------------------------------

_OCC_ORACLE = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         o_orderstatus
  FROM orders
), fin AS (
  SELECT CASE
           WHEN o_orderstatus = 'P' AND o_year = 1995
             THEN price_c + price_c // 10
           WHEN o_orderstatus = 'F' AND o_year = 1997
             THEN price_c + price_c // 20
           ELSE price_c
         END AS price_c,
         o_orderstatus, o_year
  FROM base
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_price,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' AND o_year = 1995
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bump_a,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' AND o_year = 1997
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bump_b
FROM fin
"""


@query("sink_snapshot_concurrent_commit", oracle=_OCC_ORACLE, survey_id="B-5-ext")
def sink_snapshot_concurrent_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency control on the snapshot table — the
    Delta/Iceberg commit protocol: writers never lock; each prepares
    its delta files against a base snapshot, then compare-and-swaps
    the manifest head. Two writers race from the same base v1:

    - **A** bumps 'P'/1995 prices (+10%), CAS v1→v2 succeeds;
    - **B** bumps 'F'/1997 prices (+5%), built against v1 — its CAS
      sees head=v2 ≠ base=v1 and FAILS (certified in-op);
    - **B resolves by manifest rebase**: its replaced-file set is
      checked against A's committed diff — DISJOINT (year-bucketed
      files; certified), so B's edit commutes and v3 =
      (v2 − B's replaced files) ∪ B's new files is committed WITHOUT
      re-reading or re-writing any data: conflict detection and
      resolution are both O(|manifest|) metadata, which is why OCC
      scales to thousands of concurrent 100 TB-table writers. A true
      overlap would instead force re-execution on the new base —
      the retry loop every table format documents.

    The returned single row aggregates the FINAL head (v3): both
    updates applied exactly once, hash-checked against the both-bumps
    oracle."""
    tbl = SnapshotTable(spark, "sink_snapshot_concurrent_commit", sf_dir)
    # physically partition by year — the two writers' touch sets are
    # then disjoint BY LAYOUT, not by hash luck: hash-bucketing put 1995
    # and 1997 in one bucket mod 8.
    tbl.commit([], tbl.write(_orders_cents(spark, sf_dir), "data_v1", by_year=True))

    # each writer's prepare phase against base v1: COW-rewrite only the
    # files holding its matched rows; (replaced, new) files, uncommitted
    pred_a, pred_b = _rows("P", 1995), _rows("F", 1997)
    a = tbl.rewrite(pred_a, _bump(pred_a, 10), "data_a")
    b = tbl.rewrite(pred_b, _bump(pred_b, 20), "data_b")

    # A commits first: CAS v1 -> v2 succeeds.
    _require(tbl.commit(*a, base=1), "first writer's CAS v1 -> v2 must succeed")
    # B's CAS against its stale base MUST fail — that's the protocol.
    _require(not tbl.commit(*b, base=1), "stale-base CAS must be rejected")
    # Conflict check: B's replaced set vs A's committed diff.
    _require(
        not (set(b[0]) & (set(a[0]) | set(a[1]))),
        "touch sets overlap: rebase is unsound, writer must re-execute",
    )
    # Disjoint => rebase B's change onto v2 and CAS v2 -> v3.
    _require(tbl.commit(*b, base=2), "rebased CAS v2 -> v3 must succeed")
    _require(tbl.head == 3, f"head must be v3, is v{tbl.head}")

    fin = tbl.as_of(3)
    return fin.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum("price_c").cast("double") / 100.0).alias("sum_price"),
        F.sum(F.when(pred_a, 1).otherwise(0)).cast("long").alias("n_bump_a"),
        F.sum(F.when(pred_b, 1).otherwise(0)).cast("long").alias("n_bump_b"),
    )


# ---------------------------------------------------------------------------
# sink_snapshot_mor_deletes — merge-on-read equality deletes + compaction
# ---------------------------------------------------------------------------

_MOR_ORACLE = """
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         CAST(year(o_orderdate) AS INTEGER) AS o_year,
         o_orderstatus
  FROM orders
), live AS (
  SELECT * FROM base
  WHERE NOT (o_orderstatus = 'O' AND o_year = 1995)
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_price,
         CAST(SUM(CASE WHEN o_year = 1995 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_1995
  FROM live
)
SELECT 2 AS version, n_rows, sum_price, n_1995 FROM agg
UNION ALL
SELECT 3 AS version, n_rows, sum_price, n_1995 FROM agg
ORDER BY version
"""


@query("sink_snapshot_mor_deletes", oracle=_MOR_ORACLE, survey_id="B-5-ext")
def sink_snapshot_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read row deletes — the OTHER half of the table-format
    design space from this family's copy-on-write ops (Iceberg v2
    equality deletes / Delta deletion vectors): a delete commit writes
    an O(|deleted keys|) side file and NO data rewrite, and every read
    anti-joins the delete file until compaction absorbs it.

    - **v2 (MOR delete)**: drop all 'O'/1995 orders by writing just
      their keys. Write cost is |deletes|, not |touched files| — the
      reason formats choose MOR for high-frequency small deletes where
      COW would rewrite a file per trickle.
    - **read of v2**: data files ⟕anti delete keys. The delete set is
      DataFrame-sized-small → Catalyst broadcasts the anti-join's
      build side; at 100 TB a grown delete set shuffles instead, which
      is exactly the read amplification MOR trades for cheap writes.
    - **v3 (compaction)**: absorb the deletes — COW-rewrite ONLY the
      files that contain deleted rows (the year-partitioned layout
      isolates them), drop the delete file. Read amplification returns
      to zero.

    The certificate is the returned frame itself: the v2 (merge-on-
    read) and v3 (compacted) aggregates must be IDENTICAL rows — same
    oracle — proving the anti-join view and the materialized rewrite
    are the same table. In-op asserts pin the mechanics: the delete
    commit writes zero data files, and compaction rewrites only the
    delete-bearing files."""
    tbl = SnapshotTable(spark, "sink_snapshot_mor_deletes", sf_dir)
    tbl.commit([], tbl.write(_orders_cents(spark, sf_dir), "data_v1", by_year=True))

    # v2: MOR delete — keys only, no data rewrite (certified).
    doomed = _rows("O", 1995)
    before = tbl.data_files()
    del_v2 = tbl.path("deletes_v2")
    tbl.as_of(1).where(doomed).select("o_orderkey").write.mode("overwrite").parquet(del_v2)
    tbl.commit([], [])  # v2 keeps v1's data files; the delete file rides beside them
    _require(
        tbl.data_files() == before,
        "MOR delete must not touch data files",
    )

    def _mor_read(df: DataFrame) -> DataFrame:
        dels = spark.read.parquet(del_v2).select("o_orderkey")
        return df.join(dels, "o_orderkey", "left_anti")

    # v3: compaction — rewrite ONLY delete-bearing files, drop the side file.
    bearing, compacted = tbl.rewrite(doomed, _mor_read, "data_v3")
    _require(
        bearing and len(bearing) < len(tbl.manifest(2)),
        "compaction must be partial",
    )
    tbl.commit(bearing, compacted)
    return _version_aggs(
        {2: _mor_read(tbl.as_of(2)), 3: tbl.as_of(3)}, "n_1995", F.col("o_year") == 1995
    )


# ---------------------------------------------------------------------------
# stream_snapshot_changes — streaming consumption of the commit log
# ---------------------------------------------------------------------------

_STREAM_CDF_ORACLE = """
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         CAST(year(o_orderdate) AS INTEGER) AS o_year,
         o_orderstatus
  FROM orders
)
SELECT 2 AS commit_version, o_orderkey,
       'update_preimage' AS change_type, price_c
FROM base WHERE o_orderstatus = 'P' AND o_year = 1995
UNION ALL
SELECT 2, o_orderkey, 'update_postimage', price_c + price_c // 10
FROM base WHERE o_orderstatus = 'P' AND o_year = 1995
UNION ALL
SELECT 3, o_orderkey, 'update_preimage', price_c
FROM base WHERE o_orderstatus = 'F' AND o_year = 1996
UNION ALL
SELECT 3, o_orderkey, 'update_postimage', price_c + price_c // 20
FROM base WHERE o_orderstatus = 'F' AND o_year = 1996
"""


@query("stream_snapshot_changes", oracle=_STREAM_CDF_ORACLE, survey_id="B-5-ext")
def stream_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING consumption of the snapshot table's commit log — the
    Delta `readStream.option("readChangeFeed")` shape: the table's
    commit log (one manifest file per commit) IS a file-stream source,
    so every downstream system tails the table incrementally instead
    of re-scanning it. `maxFilesPerTrigger=1` + availableNow delivers
    ONE commit per micro-batch (certified in-op: no batch carries two);
    each batch diffs the arriving manifest against its predecessor —
    the same manifest-diff CDF as `sink_snapshot_changes`, touching
    only the commit's replaced/added files — and appends the change
    rows to the feed. Out-of-order commit arrival is handled by holding
    a manifest until its predecessor has been consumed (the driver
    holds only file LISTS — metadata scale). Restart recovery comes
    free from the file source's checkpointed offsets.

    Three commits: v1 base (no changes emitted), v2 bumps 'P'/1995
    +10%, v3 bumps 'F'/1996 +5% — year-partitioned layout makes the
    two commits' touch sets disjoint, so each batch's diff is exactly
    one partition's files. The returned feed (commit_version, key,
    change_type, price) is H-tier hash-checked."""
    tbl = SnapshotTable(spark, "stream_snapshot_changes", sf_dir, durable=True)
    tbl.commit([], tbl.write(_orders_cents(spark, sf_dir), "data_v1", by_year=True))
    for version, (status, year, divisor) in ((2, ("P", 1995, 10)), (3, ("F", 1996, 20))):
        pred = _rows(status, year)
        tbl.commit(*tbl.rewrite(pred, _bump(pred, divisor), f"data_c{version}"))

    # --- the consumer: tail the commit log, emit per-commit CDF ------
    feed_dir = tbl.path("feed")
    seen: dict[int, list[str]] = {}
    pending: dict[int, list[str]] = {}
    batch_commit_counts: list[int] = []
    state = {"next": 1}

    def consume(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()  # manifest rows only: metadata scale
        arrived: dict[int, list[str]] = {}
        for r in rows:
            arrived.setdefault(r["version"], []).append(r["f"])
        batch_commit_counts.append(len(arrived))
        pending.update(arrived)
        while state["next"] in pending:
            v = state["next"]
            seen[v] = pending.pop(v)
            state["next"] = v + 1
            if v > 1:
                tbl.change_feed(seen[v - 1], seen[v]).select(
                    F.lit(v).cast("int").alias("commit_version"), "*"
                ).write.mode("append").parquet(feed_dir)

    writer = (
        spark.readStream.schema(MANIFEST_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(tbl.path("manifests"))
        .writeStream.foreachBatch(consume)
    )
    run_to_completion(writer, "lakehouse_stream_cdf", "cdf", checkpoint=tbl.path("checkpoint"))

    # incremental-consumption certificate: every commit consumed, one
    # per micro-batch, in order.
    _require(
        state["next"] == 4 and not pending,
        f"commits unconsumed: {pending}",
    )
    _require(
        all(c <= 1 for c in batch_commit_counts),
        f"a micro-batch carried >1 commit: {batch_commit_counts}",
    )
    return spark.read.parquet(feed_dir)


# ---------------------------------------------------------------------------
# sink_snapshot_partition_evolution — spec change without rewriting history
# ---------------------------------------------------------------------------

_PART_EVO_ORACLE = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
  FROM orders
)
SELECT 'full' AS read_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_c) AS BIGINT) AS sum_price_c
FROM base
UNION ALL
SELECT 'y1996', CAST(COUNT(*) AS BIGINT), CAST(SUM(price_c) AS BIGINT)
FROM base WHERE o_year = 1996
UNION ALL
SELECT 'y2000_O', CAST(COUNT(*) AS BIGINT), CAST(SUM(price_c) AS BIGINT)
FROM base WHERE o_year = 2000 AND o_orderstatus = 'O'
"""


def _footer_bounds(path: str, col: str):
    """(min, max) of a column across a parquet file's row groups, read
    from the FOOTER only — the stats an Iceberg/Delta writer records in
    its manifest at commit time. Zero data pages touched."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    lo = hi = None
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            c = md.row_group(rg).column(ci)
            if c.path_in_schema != col or c.statistics is None:
                continue
            s = c.statistics
            lo = s.min if lo is None or s.min < lo else lo
            hi = s.max if hi is None or s.max > hi else hi
    return lo, hi


@query(
    "sink_snapshot_partition_evolution",
    oracle=_PART_EVO_ORACLE,
    survey_id="B-5-ext",
)
def sink_snapshot_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION, the Iceberg capability Hive-style
    layouts cannot express: the table starts partitioned by (year) and
    later commits switch to (year, status) — WITHOUT rewriting a single
    historical file. Iceberg makes this work by divorcing pruning from
    directory layout: manifests carry per-file partition-column bounds
    (recorded from parquet footers at commit time), planning prunes
    against the manifest, and a residual filter handles whatever the
    coarser old spec couldn't cut. This op builds exactly that from
    parquet primitives:

    - **spec-1 commit** (years ≤ 1998): files range-clustered by
      `o_year` only; manifest rows carry footer (y_min, y_max,
      st_min, st_max) + spec=1.
    - **spec-2 commit** (years ≥ 1999, the spec change): new files
      range-clustered by (o_year, o_orderstatus); same manifest schema,
      spec=2. Old files are untouched — evolution is a metadata act.
    - **reads** plan by intersecting the predicate with manifest
      bounds: `y=1996` touches only spec-1 files (spec-2 pruned by
      year bounds); `y=2000 AND st='O'` prunes WITHIN spec-2 on the
      NEW dimension (certified: strictly fewer files than the spec-2
      total) while old files are year-pruned — no false drops because
      bounds-skipping is conservative and the residual filter is
      always applied.

    At 100 TB the manifest is the catalog's metadata layer (one row
    per file); the only driver-side state here is that file list.
    Result rows (full / y1996 / y2000_O aggregates) are H-tier
    hash-checked against the raw `orders` oracle."""
    root = scratch_dir("sink_snapshot_partition_evolution", sf_dir)
    data_s1 = os.path.join(root, "data_spec1")
    data_s2 = os.path.join(root, "data_spec2")

    o = _orders_cents(spark, sf_dir)
    # spec-1: cluster by year only (4 distinct years ≤ 1998)
    o.where(F.col("o_year") <= 1998).repartitionByRange(4, "o_year").write.mode(
        "overwrite"
    ).parquet(data_s1)
    # spec-2: the evolved spec clusters by (year, status)
    o.where(F.col("o_year") >= 1999).repartitionByRange(
        6, "o_year", "o_orderstatus"
    ).write.mode("overwrite").parquet(data_s2)

    manifest = []  # one row per data file — Iceberg-manifest scale
    for spec, d in ((1, data_s1), (2, data_s2)):
        for uri in file_list(spark, d, o.schema):
            p = local_path(uri)
            y_lo, y_hi = _footer_bounds(p, "o_year")
            st_lo, st_hi = _footer_bounds(p, "o_orderstatus")
            manifest.append(
                {"spec": spec, "file": uri, "y": (y_lo, y_hi), "st": (st_lo, st_hi)}
            )

    def _bounds_may_contain(bounds, v):
        """A file with no footer statistics for the column (bounds
        (None, None)) CANNOT be pruned — keep it so skipping stays
        conservative, as the docstring promises (ADVICE r05)."""
        lo, hi = bounds
        return lo is None or hi is None or lo <= v <= hi

    def _plan(y_eq=None, st_eq=None):
        """Manifest-bounds pruning: keep files whose footer range can
        contain the predicate; conservative, so residual filter below
        restores exactness."""
        return [
            m
            for m in manifest
            if (y_eq is None or _bounds_may_contain(m["y"], y_eq))
            and (st_eq is None or _bounds_may_contain(m["st"], st_eq))
        ]

    def _read(read_id, y_eq=None, st_eq=None):
        picked = _plan(y_eq, st_eq)
        df = spark.read.parquet(*[m["file"] for m in picked])
        if y_eq is not None:
            df = df.where(F.col("o_year") == y_eq)  # residual filter
        if st_eq is not None:
            df = df.where(F.col("o_orderstatus") == st_eq)
        return picked, df.agg(
            F.lit(read_id).alias("read_id"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("price_c").cast("long").alias("sum_price_c"),
        ).select("read_id", "n_rows", "sum_price_c")

    n_s1 = sum(1 for m in manifest if m["spec"] == 1)
    n_s2 = len(manifest) - n_s1
    full_picked, full_df = _read("full")
    b_picked, b_df = _read("y1996", y_eq=1996)
    c_picked, c_df = _read("y2000_O", y_eq=2000, st_eq="O")

    # Evolution certificates: the old spec still serves year pruning,
    # the new spec prunes on the dimension the old one never had.
    _require(
        len(full_picked) == len(manifest),
        'invariant violated: len(full_picked) == len(manifest)',
    )
    _require(
        all(m["spec"] == 1 for m in b_picked) and len(b_picked) < n_s1,
        f"y=1996 must touch only a strict subset of spec-1 files: "
        f"{len(b_picked)}/{n_s1}",
    )
    _require(
        all(m["spec"] == 2 for m in c_picked) and len(c_picked) < n_s2,
        f"y=2000&st='O' must prune WITHIN spec-2 via the evolved "
        f"dimension: {len(c_picked)}/{n_s2}",
    )
    return full_df.unionByName(b_df).unionByName(c_df)


# ---------------------------------------------------------------------------
# sink_snapshot_wap_branch — write-audit-publish on branch refs
# ---------------------------------------------------------------------------

_WAP_ORACLE = """
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         CAST(year(o_orderdate) AS INTEGER) AS o_year
  FROM orders
), staged AS (
  SELECT price_c // 2 AS price_c FROM base WHERE o_year = 2001
), published AS (
  SELECT price_c FROM base UNION ALL SELECT price_c FROM staged
)
SELECT 'tag_v1' AS ref, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_c) AS BIGINT) AS sum_price_c
FROM base
UNION ALL
SELECT 'main_published', CAST(COUNT(*) AS BIGINT), CAST(SUM(price_c) AS BIGINT)
FROM published
"""


@query("sink_snapshot_wap_branch", oracle=_WAP_ORACLE, survey_id="B-5-ext")
def sink_snapshot_wap_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (WAP) — the Iceberg branch/tag workflow that
    makes data quality a COMMIT gate instead of a post-hoc scramble:
    producers stage a commit on an audit branch, a DQ suite runs
    against the BRANCH snapshot (readers of main never see it), and
    publishing is a metadata-only fast-forward of the main ref onto
    the audited branch head. Main is the table's head version, the
    ``v1`` tag a fixed version; a branch is a change staged against the
    version it was cut from, and publishing commits it with a
    compare-and-swap on that base — main moves, tags don't.

    Staged here: a good batch (year-2001 corrections at half price,
    re-keyed) on branch ``audit_good`` — its DQ run (null keys,
    duplicate keys, negative prices, each a violation COUNT like
    `dq_constraint_suite`) passes, so main fast-forwards; and a bad
    batch (negative prices) on ``audit_bad`` — its audit fails, the
    publish is REFUSED, and main provably never moves. Certificates:
    main's pre-publish row count excludes staged rows (isolation);
    the publish writes zero data files (fast-forward = pointer swap,
    O(1) metadata); the ``v1`` tag still reads the original snapshot
    after main has moved on.

    At 100 TB this is why WAP works: audit reads cost one branch scan,
    publish costs nothing, and a failed audit costs ONLY the staged
    files — never a rewrite of main. Result rows (tag_v1 +
    main_published aggregates) are H-tier hash-checked."""
    tbl = SnapshotTable(spark, "sink_snapshot_wap_branch", sf_dir)
    o = _orders_cents(spark, sf_dir)
    tbl.commit([], tbl.write(o.repartition(4), "data_v1"))
    n_base = tbl.as_of(1).count()

    # stage two candidate commits as branch-only file sets. Staged keys
    # are re-keyed past the ACTUAL max orderkey (one columnar MAX), not a
    # fixed +10M/+20M: a collision with base keys at larger fixtures
    # would trip the dup-key DQ check and silently flip the publish
    # verdicts this query certifies (ADVICE r05). The result aggregates
    # never expose key values, so the oracle is unaffected.
    key_offset = o.agg(F.max("o_orderkey")).first()[0] + 1
    key = F.col("o_orderkey")
    branches = {  # branch -> staged files, cut from v1
        "audit_good": tbl.write(
            o.where(F.col("o_year") == 2001)
            .withColumn("o_orderkey", key + F.lit(key_offset))
            .withColumn("price_c", F.expr("price_c div 2")),
            "staged_good",
        ),
        "audit_bad": tbl.write(
            o.where(F.col("o_year") == 2000)
            .withColumn("o_orderkey", key + F.lit(2 * key_offset))
            .withColumn("price_c", -F.col("price_c")),
            "staged_bad",
        ),
    }

    def _audit(branch: str) -> bool:
        """DQ gate over the branch snapshot: every check a violation
        count, green = all zeros (the dq_constraint_suite pattern)."""
        r = (
            tbl.read(tbl.manifest(1) + branches[branch])
            .agg(
                F.sum(F.col("o_orderkey").isNull().cast("long")).alias("nulls"),
                (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dups"),
                F.sum((F.col("price_c") < 0).cast("long")).alias("neg"),
            )
            .first()
        )
        return r["nulls"] == 0 and r["dups"] == 0 and r["neg"] == 0

    def _publish(branch: str) -> bool:
        """Fast-forward main onto an audited branch head: refuse on a
        red audit; on green, commit the branch's files against its base
        v1 — no data I/O."""
        return _audit(branch) and tbl.commit([], branches[branch], base=1)

    # isolation: main never sees staged rows before publish
    _require(
        tbl.as_of(tbl.head).count() == n_base,
        "main must not see staged rows before publish",
    )

    data_files_before = tbl.data_files()
    _require(
        _publish("audit_bad") is False,
        "red audit must refuse publish",
    )
    _require(
        set(tbl.manifest()) == set(tbl.manifest(1)),
        "refused publish moved main",
    )
    _require(
        _publish("audit_good") is True,
        "green audit must publish",
    )
    # fast-forward certificate: publishing wrote ZERO data files
    _require(
        tbl.data_files() == data_files_before,
        "publish must write no data files",
    )

    def _agg(ref_id: str, snap: DataFrame) -> DataFrame:
        return snap.agg(
            F.lit(ref_id).alias("ref"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("price_c").cast("long").alias("sum_price_c"),
        )

    # the tag still reads v1 even though main has moved past it
    return _agg("tag_v1", tbl.as_of(1)).unionByName(_agg("main_published", tbl.as_of(tbl.head)))


# ---------------------------------------------------------------------------
# sink_snapshot_rename_widen — schema evolution beyond what parquet can say
# ---------------------------------------------------------------------------

_RENAME_WIDEN_ORACLE = """
WITH base AS (
  SELECT o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         CAST(year(o_orderdate) AS INTEGER) AS o_year
  FROM orders
), evolved AS (
  SELECT o_orderstatus,
         CASE WHEN o_year >= 2000 THEN price_c * 100 ELSE price_c END
           AS price_cents
  FROM base
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents
FROM evolved
GROUP BY o_orderstatus
"""


@query("sink_snapshot_rename_widen", oracle=_RENAME_WIDEN_ORACLE, survey_id="B-5-ext")
def sink_snapshot_rename_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column RENAME + type WIDENING without rewriting a file — the
    schema-evolution class parquet name-matching cannot express
    (mergeSchema sees a renamed column as drop+add and a retyped one
    as a conflict). Iceberg solves it with FIELD IDs: the table schema
    binds logical names/types to stable ids, each data file records
    the physical name/type it was written with, and the READER
    reconciles per file group — rename and widen are metadata commits.

    Built here from parquet primitives: commit v1 writes years <2000
    with physical column ``price_c`` INT; commit v2 renames field 2 to
    ``price_cents`` and widens it to BIGINT — a manifest-only edit
    (certified: the v1 file set is untouched); commit v3 appends
    years ≥2000 in the NEW physical schema with values scaled ×100
    past INT range, so the widening is load-bearing, not cosmetic.
    The read plans one branch per distinct physical schema (rename =
    alias, widen = upcast — both zero-copy columnar projections), and
    unions them; at 100 TB that projection is pushed to each scan task
    and costs nothing over a plain read. Completes the evolution triad
    with `scan_schema_evolution` (add-column) and
    `sink_snapshot_partition_evolution` (spec change). Final
    per-status aggregate is H-tier hash-checked."""
    tbl = SnapshotTable(spark, "sink_snapshot_rename_widen", sf_dir)
    o = _orders_cents(spark, sf_dir)
    # v1: old physical schema — field 2 named price_c, INT32
    v1_files = tbl.write(
        o.where(F.col("o_year") < 2000)
        .select("o_orderkey", "o_orderstatus", F.col("price_c").cast("int").alias("price_c"))
        .repartition(4),
        "data_v1",
    )

    # table schema history: field_id -> (logical_name, logical_type);
    # per-fileset physical bindings live in the manifest, Iceberg-style
    schema_v1 = {2: ("price_c", "int")}
    schema_v2 = {2: ("price_cents", "bigint")}  # the rename+widen commit
    manifest = [{"files": v1_files, "phys": schema_v1}]

    # v2 is METADATA-ONLY: the commit writes nothing but this binding
    v1_stat = tbl.data_files()
    current_schema = schema_v2

    # v3: appended data arrives in the NEW physical schema; ×100 values
    # overflow INT32, proving the widened type is actually required
    v3_files = tbl.write(
        o.where(F.col("o_year") >= 2000)
        .select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("price_c") * 100).cast("bigint").alias("price_cents"),
        )
        .repartition(2),
        "data_v3",
    )
    manifest.append({"files": v3_files, "phys": current_schema})

    # certify across the whole lifecycle (evolution commit + append):
    # the pre-evolution files were never rewritten
    _require(
        v1_stat.items() <= tbl.data_files().items(),
        "rename/widen must not touch pre-evolution data files",
    )

    # reader: one projection branch per distinct physical binding
    logical_name, logical_type = current_schema[2]
    branches = [
        tbl.read(entry["files"]).select(
            "o_orderstatus",
            F.col(entry["phys"][2][0]).cast(logical_type).alias(logical_name),
        )
        for entry in manifest
    ]
    evolved = functools.reduce(DataFrame.unionByName, branches)
    out = evolved.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(logical_name).cast("long").alias("sum_price_cents"),
    )
    # widening certificate: the evolved column is BIGINT and the new
    # data really exceeds INT32 range — the widen was load-bearing
    _require(
        evolved.schema[logical_name].dataType.simpleString() == "bigint",
        f"evolved {logical_name} must be bigint",
    )
    _require(
        branches[1].agg(F.max(logical_name)).first()[0] > 2**31 - 1,
        "v3 values must overflow the pre-widen INT32 type",
    )
    return out


# ---------------------------------------------------------------------------
# stream_snapshot_ingest — streaming writer side of the table format
# ---------------------------------------------------------------------------

_STREAM_INGEST_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_c
FROM orders
GROUP BY o_orderstatus
"""


@query("stream_snapshot_ingest", oracle=_STREAM_INGEST_ORACLE, survey_id="B-6-ext")
def stream_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming WRITER side of the table format (Delta/Iceberg
    streaming sink): each micro-batch lands as one ACID append commit —
    data files first, then a manifest entry keyed by the stream's
    transaction id (batchId) — so the table's readers (including
    `stream_snapshot_changes`' CDF tail) see whole commits or nothing.
    Exactly-once comes from the txn key, not the transport: a commit
    whose batchId is already in the log is REFUSED, which survives the
    two distinct failure modes certified here:

    - **restart with the checkpoint intact**: the source's offsets
      replay nothing; zero new commits.
    - **checkpoint LOSS (disaster recovery)**: the whole spool replays
      under fresh batchIds 0..2 that collide with the committed txn
      ids; every commit is refused and the table provably doesn't
      change — the Delta `txn`/`idempotent writes` contract.

    Data files are written with per-batch overwrite so a crash between
    data write and manifest append re-runs cleanly (the manifest is
    the commit point — files without a manifest entry are invisible,
    exactly the orphan-file rule `sink_snapshot_vacuum` reaps by).
    Final snapshot aggregate is H-tier hash-checked against `orders`;
    at 100 TB each commit costs O(|batch|) data + one manifest row per
    file, and the refusal check is a dict probe on the driver."""
    tbl = SnapshotTable(spark, "stream_snapshot_ingest", sf_dir)
    spool_dir = tbl.path("spool")
    os.makedirs(spool_dir)
    o = _orders_cents(spark, sf_dir)
    # three arrival chunks -> three micro-batches (one file each)
    for i, pred in enumerate(
        (
            F.col("o_year") <= 1996,
            (F.col("o_year") > 1996) & (F.col("o_year") <= 1999),
            F.col("o_year") > 1999,
        )
    ):
        spool(o.where(pred), os.path.join(spool_dir, f"chunk_{i}.parquet"))

    refused: list[int] = []

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in tbl.txns:
            refused.append(batch_id)  # idempotent-writes refusal
            return
        # crash-safe re-run: per-batch overwrite; the commit is the
        # table's manifest append, keyed by the stream's txn id
        tbl.commit([], tbl.write(batch_df, f"data/b{batch_id:05d}"), txn=batch_id)

    def run(checkpoint: str) -> None:
        writer = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderstatus string, price_c bigint, o_year int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(spool_dir)
            .writeStream.foreachBatch(ingest)
        )
        run_to_completion(writer, "lakehouse_txn_ingest", "ingest", checkpoint=checkpoint)

    run(tbl.path("checkpoint"))
    _require(
        tbl.head == 3 and not refused,
        "initial drain must commit 3",
    )
    run(tbl.path("checkpoint"))  # restart, checkpoint intact: offsets replay nothing
    _require(
        tbl.head == 3 and not refused,
        "intact restart must be a no-op",
    )
    run(tbl.path("checkpoint_lost"))  # checkpoint LOST
    _require(
        tbl.head == 3,
        "replayed txns must never re-commit",
    )
    _require(
        sorted(refused) == [0, 1, 2],
        f"all replayed txns refused: {refused}",
    )
    _require(
        [tbl.txns.get(t) for t in (0, 1, 2)] == [1, 2, 3],
        f"txns 0..2 must commit as versions 1..3: {tbl.txns}",
    )
    return (
        tbl.as_of(tbl.head)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("price_c").cast("long").alias("sum_price_c"),
        )
    )


# ---------------------------------------------------------------------------
# scan_metadata_only_agg — answering queries from the metadata layer
# ---------------------------------------------------------------------------

_META_ONLY_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS k_min,
       CAST(MAX(o_orderkey) AS BIGINT) AS k_max
FROM orders
GROUP BY o_year
"""


@query("scan_metadata_only_agg", oracle=_META_ONLY_ORACLE, survey_id="B-2-ext")
def scan_metadata_only_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only query answering — the Iceberg/Delta optimization
    where `COUNT(*) GROUP BY partition` and un-deleted `MIN/MAX` never
    touch a data page: the manifest layer already holds per-file row
    counts and column bounds (recorded at commit time from parquet
    footers), so the answer is an aggregation over manifest ENTRIES —
    O(files) metadata I/O instead of O(rows) data I/O. At 100 TB this
    is the difference between milliseconds and a cluster-wide scan.

    Here: orders land partitioned by year (partition purity makes the
    per-partition rollup exact); the manifest is built from footers
    (num_rows + o_orderkey min/max per file — ZERO data pages read,
    the same `_footer_bounds` path the partition-evolution manifest
    uses); the returned relation aggregates manifest rows only. The
    exactness conditions are the real ones: row counts need no
    deletes in scope (this table has none — MOR deletes would force
    the `sink_snapshot_mor_deletes` anti-join path), and MIN/MAX need
    footer stats present for the column. Both hold and the result is
    H-tier hash-checked against a full DuckDB scan of `orders` —
    the certificate that metadata answered what data would have."""
    import pyarrow.parquet as pq

    root = scratch_dir("scan_metadata_only_agg", sf_dir)
    data = os.path.join(root, "data")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    o.write.partitionBy("o_year").mode("overwrite").parquet(data)

    # manifest build: footers only — no spark.read of the data dir
    entries = []
    for part in os.listdir(data):
        if not part.startswith("o_year="):
            continue
        y = int(part.split("=", 1)[1])
        pdir = os.path.join(data, part)
        for f in os.listdir(pdir):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(pdir, f)).metadata
            k_lo, k_hi = _footer_bounds(os.path.join(pdir, f), "o_orderkey")
            entries.append((y, md.num_rows, k_lo, k_hi))

    manifest = spark.createDataFrame(
        entries, "o_year int, n_rows long, k_min long, k_max long"
    )
    return manifest.groupBy("o_year").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("k_min").cast("long").alias("k_min"),
        F.max("k_max").cast("long").alias("k_max"),
    )


# ---------------------------------------------------------------------------
# sink_snapshot_positional_deletes — Iceberg-v2-style positional deletes
# ---------------------------------------------------------------------------

_POS_DELETE_ORACLE = """
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         CAST(year(o_orderdate) AS INTEGER) AS o_year,
         o_orderstatus
  FROM orders
), live AS (
  SELECT * FROM base WHERE NOT (o_orderstatus = 'P' AND o_year = 1996)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_price,
       CAST((SELECT COUNT(*) FROM base) - COUNT(*) AS BIGINT) AS n_deleted
FROM live
"""


@query("sink_snapshot_positional_deletes", oracle=_POS_DELETE_ORACLE, survey_id="B-5-ext")
def sink_snapshot_positional_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL merge-on-read deletes — the second Iceberg-v2 delete
    encoding, completing the family next to ``sink_snapshot_mor_deletes``
    (equality deletes): the delete file stores ``(file_path, row_index)``
    pairs instead of key values. Positional deletes are what a format
    writes when the engine KNOWS which physical rows it touched (MERGE,
    UPDATE, row-level DELETE after a scan) — they delete exactly one
    physical row each, so they stay correct even when the 'key' is
    duplicated, which equality deletes cannot express.

    The physical row identity comes from Spark's own ``_metadata``
    hidden columns (``file_path``, ``row_index`` — the scan-time lineage
    surface, no UDF, no zip-with-index shuffle). The delete commit
    writes O(|deleted rows|) pairs and touches ZERO data files
    (asserted); the MOR read is data ⟕anti (file_path, row_index) —
    the pair set is small → Catalyst broadcasts the build side; at
    100 TB Iceberg instead sorts delete files by file_path so each scan
    task applies only its own file's positions — the same join, keyed
    co-located per file. Certificate row: (n_rows, sum_price,
    n_deleted) of the MOR view, hash-matched against the orders-derived
    truth — plus an in-op assert that the positional view equals the
    value-level filter row-for-row."""
    tbl = SnapshotTable(spark, "sink_snapshot_positional_deletes", sf_dir)
    tbl.commit([], tbl.write(_orders_cents(spark, sf_dir), "data_v1", by_year=True))
    with_meta = tbl.as_of(1).select(
        "*",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    doomed = _rows("P", 1996)

    before = tbl.data_files()
    del_v2 = tbl.path("posdel_v2")
    with_meta.where(doomed).select("file_path", "row_index").write.mode(
        "overwrite"
    ).parquet(del_v2)
    _require(
        tbl.data_files() == before,
        "positional delete must not touch data files",
    )

    dels = spark.read.parquet(del_v2)
    mor = with_meta.join(dels, ["file_path", "row_index"], "left_anti")
    # positional view must equal the value-level filter exactly
    mismatch = mor.where(doomed).count()
    _require(
        mismatch == 0,
        f"positions must cover every doomed row ({mismatch} left)",
    )

    n_base = tbl.as_of(1).count()
    return mor.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum("price_c").cast("double") / 100.0).alias("sum_price"),
        (F.lit(n_base) - F.count(F.lit(1))).cast("long").alias("n_deleted"),
    )
