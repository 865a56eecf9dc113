"""Shared test fixtures: one local SparkSession + a DuckDB oracle harness
that mirrors the driver's t2 check (row-count + schema-name + order-
insensitive exact value compare) as closely as possible.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from cloudtrail_streamer_spark.catalog import TABLES
from cloudtrail_streamer_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


def pytest_addoption(parser):
    parser.addoption(
        "--shard",
        default=None,
        metavar="k/n",
        help=(
            "Run only the k-th (1-indexed) of n deterministic hash-shards "
            "of the per-query oracle sweep (test_oracle_match[...]); all "
            "other tests run in shard 1 only. Three concurrent shards "
            "reproduce the full suite exactly once (VERDICT r05 #5)."
        ),
    )


def pytest_collection_modifyitems(config, items):
    shard = config.getoption("--shard")
    if not shard:
        return
    k, n = (int(x) for x in shard.split("/"))
    if not (1 <= k <= n):
        raise pytest.UsageError(f"--shard {shard}: need 1 <= k <= n")
    import zlib

    keep = []
    for item in items:
        params = getattr(getattr(item, "callspec", None), "params", None)
        # only the per-query oracle sweep is hash-sharded; every other
        # test (even a future one parametrized with a "name" param) runs
        # in shard 1, per the option's contract (ADVICE r06)
        is_sweep = getattr(item, "originalname", item.name) == "test_oracle_match"
        qname = params.get("name") if (is_sweep and params) else None
        if qname is not None:
            # stable across processes and pytest orderings (hash() is
            # salted per-process; zlib.crc32 is not)
            mine = zlib.crc32(qname.encode()) % n == k - 1
        else:
            mine = k == 1
        if mine:
            keep.append(item)
    items[:] = keep


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_session("cts-tests")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    yield con
    con.close()


def register_duckdb_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    # Cap DuckDB's spill: a pathological oracle (e.g. a fact-table CTE
    # re-inlined per reference — the graph_pagerank_trade lesson) must
    # ERROR, not silently fill the disk and take down every concurrent
    # engine process with "No space left on device".
    try:
        con.execute("SET max_temp_directory_size='16GB'")
    except duckdb.Error:
        pass  # older DuckDB without the setting
    # A bench dir may hold only the tables it times (sf10), and DuckDB
    # refuses a view over a missing file, so absent tables get no view.
    for t in TABLES:
        if os.path.isfile(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted canonical frame (driver-style)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: schema mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        # Mixed integer/floating dtype classes are a hard FAIL, not a
        # coercion: the driver hashes the actual cell values per dtype, so
        # e.g. a DuckDB HUGEINT (fetched as float64/object) vs a Spark
        # BIGINT hash-mismatches even when the numbers are equal. The
        # local gate must reject exactly what the driver rejects
        # (VERDICT r04 item 3 — tpch_q12_late_shipments).
        a_int = np.issubdtype(av.dtype, np.integer)
        b_int = np.issubdtype(bv.dtype, np.integer)
        a_flt = np.issubdtype(av.dtype, np.floating)
        b_flt = np.issubdtype(bv.dtype, np.floating)
        if (a_int and b_flt) or (a_flt and b_int):
            raise AssertionError(
                f"{name}: column {c!r} dtype-class mismatch: "
                f"spark={av.dtype} vs oracle={bv.dtype} "
                f"(integer vs floating — CAST the oracle, e.g. HUGEINT sums AS BIGINT)"
            )
        if a_flt or b_flt:
            av = av.astype(np.float64)
            bv = bv.astype(np.float64)
            both_nan = np.isnan(av) & np.isnan(bv)
            eq = (av == bv) | both_nan
        elif np.issubdtype(av.dtype, np.datetime64) and np.issubdtype(bv.dtype, np.datetime64):
            av = av.astype("datetime64[ns]")
            bv = bv.astype("datetime64[ns]")
            both_nat = np.isnat(av) & np.isnat(bv)
            eq = (av == bv) | both_nat
        else:
            eq = av == bv
        if not np.all(eq):
            bad = np.nonzero(~eq)[0][:5]
            raise AssertionError(
                f"{name}: column {c!r} mismatch at rows {bad.tolist()}: "
                f"spark={av[bad].tolist()} oracle={bv[bad].tolist()}"
            )


def run_conf_checked(spark, name: str, sf_dir: str):
    """Run one registry query to pandas; fail naming every key whose
    ``spark.conf.getAll`` value the query changed."""
    from cloudtrail_streamer_spark.registry import all_queries

    q = all_queries()[name]
    before = spark.conf.getAll
    sdf = q(spark, sf_dir).toPandas()
    after = spark.conf.getAll
    leaked = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    assert not leaked, f"{name}: session conf changed: " + ", ".join(
        f"{k}: {before.get(k)!r} -> {after.get(k)!r}" for k in leaked
    )
    return sdf


def run_pair(spark, con, name: str, sf_dir: str = SF_DIR):
    """Run one registry query + its oracle; assert exact match, and that
    the query left the session conf exactly as it found it."""
    from cloudtrail_streamer_spark.registry import all_oracles

    sdf = run_conf_checked(spark, name, sf_dir)
    # op-local persisted subtrees are per-execution scratch; across a
    # ~300-query session they otherwise accumulate GBs of storage
    # (ADVICE r07 cache-hygiene theme — drive_entry.py does the same)
    spark.catalog.clearCache()
    register_duckdb_views(con, sf_dir)
    odf = con.execute(all_oracles()[name]).fetchdf()
    assert_frames_match(sdf, odf, name)
    return sdf


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Explicit final-counts line (VERDICT r10 "What's wrong" #3): the
    quiet-mode full-suite log has repeatedly ended at the warnings
    block with no counts line, forcing readers to count progress dots.
    This prints an unambiguous, grep-able verdict as the LAST line,
    flushed, regardless of -q."""
    import sys

    tr = terminalreporter
    counts = {
        k: len(tr.stats.get(k, []))
        for k in ("passed", "failed", "error", "skipped", "deselected")
    }
    line = (
        f"SUITE RESULT: exitstatus={exitstatus} "
        + " ".join(f"{k}={v}" for k, v in counts.items())
    )
    tr.write_line(line)
    print(line, file=sys.stderr, flush=True)
