"""Driver-sim: exercise __spark_entry__ exactly as the external harness does.

Fresh process, driver-owned plain SparkSession (no engine confs), every
queries()[name] at sf0.01 compared against oracle_sql()[name] in DuckDB.
Usage: python tools/drive_entry.py [--skip a,b] [--first N] [--shard K/N]
                                   [sf_dir] [query_name ...]
(flags in any order).
"""

from __future__ import annotations

import argparse
import os
import sys

# the checkout this script lives in, so a second checkout drives its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from tests.conftest import assert_frames_match, register_duckdb_views


def _shard(text: str) -> tuple[int, int]:
    k, _, n = text.partition("/")
    if not (k.isdigit() and n.isdigit() and 1 <= int(k) <= int(n)):
        raise argparse.ArgumentTypeError(f"need K/N with 1 <= K <= N, got {text!r}")
    return int(k), int(n)


def parse_args(argv: list[str]) -> argparse.Namespace:
    """The flags, in any order, then ``[sf_dir] [query_name ...]``."""
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--skip", default="", help="comma-separated query names to leave out")
    # Simulate the external driver's exact protocol: the FIRST N registry
    # entries (the certification window), run in registry order in ONE
    # process — the strictest local replica of the per-round capture,
    # including any cross-query session-state interactions (conf
    # windows, scratch reuse) in driver order.
    ap.add_argument("--first", type=int, default=0, metavar="N", help="first N registry entries")
    ap.add_argument("--shard", type=_shard, default=(1, 1), metavar="K/N")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*", help="check only these queries")
    return ap.parse_args(argv)


def select(
    names: list[str], subset: set[str], skip: set[str], shard: tuple[int, int], first: int
) -> list[str]:
    """The queries to run, in run order, from ``names`` in registry order.

    ``subset`` (when given) and ``skip`` filter first. ``shard`` K/N then
    keeps every N-th of the remaining names in sorted order, starting at
    K-1, so a shard holds the same queries whatever the registry order.
    The kept names stay in registry order, and ``first`` takes the first
    N of them, to be run in that order (the driver's). Without ``first``
    the run is sorted by name."""
    kept = [n for n in names if (not subset or n in subset) and n not in skip]
    k, n = shard
    if n > 1:
        member = set(sorted(kept)[k - 1 :: n])
        kept = [q for q in kept if q in member]
    return kept[:first] if first else sorted(kept)


def main() -> int:
    """With query names, checks only those (fast iteration on a changed
    op); the no-args form is the full registry gate. ``--shard K/N``
    (K in 1..N) keeps only every N-th query of the sorted name order
    starting at K-1, so N processes can split the full gate and run it
    in ~1/N wall-clock:
        for k in 1 2 3 4; do python tools/drive_entry.py --shard $k/4 & done
    """
    args = parse_args(sys.argv[1:])
    skip = set(filter(None, args.skip.split(",")))
    shard_k, shard_n = args.shard
    first_n, sf_dir, subset = args.first, args.sf_dir, set(args.names)
    # Driver-protocol default: a PLAIN session (1 g heap, no engine
    # confs). CTS_DRIVER_MEM exists for cross-scale STRESS drives only
    # (sf1 = 100x the gate scale on the same heap is an under-provision
    # artifact, not an engine defect, once the plan itself is
    # broadcast-free — plans are separately pinned by tests/test_plans).
    mem = os.environ.get("CTS_DRIVER_MEM")
    builder = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
    )
    if mem:
        builder = builder.config("spark.driver.memory", mem).config(
            # stress drives collect full result sets driver-side for the
            # t2 compare; linear-but-large outputs (6M fuzzy-join pairs
            # at sf1) overflow the 1 GiB default
            "spark.driver.maxResultSize",
            "8g",
        )
    spark = builder.getOrCreate()
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    print(f"entry rows: {len(rows)}")
    if len(rows) < 1:  # not assert: the gate must survive python -O
        print("entry returned zero rows")
        return 2

    qs, oracles = e.queries(), e.oracle_sql()
    unknown = subset - set(qs)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}")
        return 2
    if skip:
        print(f"skipping {sorted(skip)}")
    names = select(list(qs), subset, skip, args.shard, first_n)
    if shard_n > 1:
        print(f"shard {shard_k}/{shard_n}: {len(names)} queries")
    if first_n:
        print(f"first {len(names)} registry entries, driver order")
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)
    failed = []
    for name in names:
        import time

        t0 = time.perf_counter()
        sdf = qs[name](spark, sf_dir).toPandas()
        t_spark = time.perf_counter() - t0
        # op-local persists otherwise accumulate across ~250 queries in
        # this long-lived session (ADVICE r03: memory pressure + LRU churn)
        spark.catalog.clearCache()
        if name not in oracles:
            print(
                f"{name:32s} rows {len(sdf):>8} (R-tier, rows-only)"
                f"  [s={t_spark:.1f}s]",
                flush=True,
            )
            continue
        t0 = time.perf_counter()
        odf = con.execute(oracles[name]).fetchdf()
        t_duck = time.perf_counter() - t0
        try:
            assert_frames_match(sdf, odf, name)
            print(
                f"{name:32s} rows {len(sdf):>8} MATCH  "
                f"[s={t_spark:.1f}s d={t_duck:.1f}s]",
                flush=True,
            )
        except AssertionError as exc:
            failed.append(name)
            print(f"{name:32s} FAIL: {exc}", flush=True)
    print(f"\n{len(names) - len(failed)}/{len(names)} queries OK")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
