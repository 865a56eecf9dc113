"""Derive an sf1 benchmark dataset (10x sf0.1) for the marginal-scaling
bench column (VERDICT r04 next-#5).

The driver testdata stops at sf0.1, so one more decade of the scaling
curve needs a local derivation: each scaling table is replicated 10x
with every key domain shifted by rep * (max_key + 1), keeping join
integrity (lineitem rows of replica i join orders/part/supplier rows of
replica i) and growing GROUP COUNTS (new customers/users/docs per
replica) rather than group sizes, which is what a real 10x scale-up
does. nation/region stay fixed-size (TPC-H dims don't scale).

This is BENCH data only — correctness runs stay on the driver fixtures.
Output is written to a repo-local gitignored dir and built lazily (once
per checkout, ~10 s); a _DONE marker makes the build idempotent and safe
against a half-finished previous run.

PHYSICAL LAYOUT MATTERS: the driver fixtures are pyarrow-written with
ONE row group per file, so a Spark scan of sf0.1 is a SINGLE task
(parquet's minimal read unit is the row group) and DuckDB's scan
parallelism is equally capped at one thread per file. Measured effect of
crossing layouts in a marginal fit: with sf1 at ~50 DuckDB-default row
groups, Spark's absolute time DROPPED on 10× the data (1-way → 49-way
scans) and DuckDB's q1/q3/dedup times went near-FLAT, making the 0.1→1
"marginal" measure the physical design change, not the data scale.

The marginal therefore uses MATCHED-parallelism endpoints, both built
here:
- ``sf1``: 10 key-shifted replicas, pyarrow-written as 10 row groups
  (one per replica) — 10-way scans;
- ``sf0.1r``: the driver's sf0.1 data UNCHANGED, re-chunked into 10 row
  groups — also 10-way scans.
Δ(sf0.1r → sf1) holds scan parallelism at 10 tasks on both engines and
both endpoints, so the subtraction cancels constants and compares
per-row cost only. The sf0.1-vs-sf0.1r delta is reported separately as
the LAYOUT EFFECT — how much of the headline sequential gap is the
fixture's 1-row-group file, which no 100 TB deployment would have.
"""

from __future__ import annotations

import os

SRC_DEFAULT = "/root/testdata/sf0.1"
OUT_DEFAULT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".benchdata", "sf1")

# table -> list of (column, key_domain); key domains shared across tables
_SHIFTS: dict[str, list[tuple[str, str]]] = {
    "customer": [("c_custkey", "cust")],
    "supplier": [("s_suppkey", "supp")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "lineitem": [("l_orderkey", "order"), ("l_partkey", "part"), ("l_suppkey", "supp")],
    "events": [("event_id", "event"), ("user_id", "user")],
    "documents": [("doc_id", "doc")],
    "embeddings": [("vec_id", "vec")],
}
_DOMAIN_SOURCE = {  # key domain -> (table, column) that defines its max
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "order": ("orders", "o_orderkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}
_COPY_ASIS = ("region", "nation")
_REPS = 10


def ensure_scaled(
    reps: int, out: str, src: str = SRC_DEFAULT, tables: list[str] | None = None
) -> str | None:
    """Build a ``reps``× key-shifted replication of ``src`` if missing.

    Streams ONE replica at a time through a ParquetWriter (a 100× build
    never materializes the full table in memory), writing each replica
    as one row group of the source's size — so rows-per-row-group (the
    task/thread work unit on both engines) is CONSTANT across scales and
    the task COUNT grows with data, exactly how a real deployment scales
    (fixed-size files, more of them). ``tables=None`` builds everything;
    passing a subset (e.g. only what sf10 queries touch) keeps the 100×
    build to the tables that need it."""
    marker = os.path.join(out, "_DONE")
    all_tables = set(_COPY_ASIS) | set(_SHIFTS)
    want = set(tables) if tables is not None else set(all_tables)
    if os.path.isfile(marker):
        have = set(open(marker).read().split())
        if "ok" in have:
            # legacy all-built sentinel (pre table-list markers): treat as
            # every table present, and drop the token so it isn't carried
            # into rewritten markers forever (ADVICE r07)
            have = (have - {"ok"}) | all_tables
        have &= all_tables  # ignore any non-table tokens
        if want <= have:
            return out
        want -= have
    try:
        import shutil

        import duckdb
        import pyarrow.parquet as pq

        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        offsets = {
            dom: con.execute(
                f"SELECT MAX({col}) + 1 FROM read_parquet('{src}/{tbl}.parquet')"
            ).fetchone()[0]
            for dom, (tbl, col) in _DOMAIN_SOURCE.items()
        }
        for t in _COPY_ASIS:
            if t not in want:
                continue
            shutil.copyfile(f"{src}/{t}.parquet", f"{out}/{t}.parquet")
        for t, shifts in _SHIFTS.items():
            if t not in want:
                continue
            src_path = f"{src}/{t}.parquet"
            shifted = {c: f"({c} + {{rep}} * {offsets[dom]}) AS {c}" for c, dom in shifts}
            cols = [
                r[0]
                for r in con.execute(
                    f"DESCRIBE SELECT * FROM read_parquet('{src_path}')"
                ).fetchall()
            ]
            writer = None
            try:
                for rep in range(reps):
                    sel = ", ".join(
                        shifted.get(c, c).format(rep=rep) for c in cols
                    )
                    batch = con.execute(
                        f"SELECT {sel} FROM read_parquet('{src_path}')"
                    ).arrow()
                    if writer is None:
                        writer = pq.ParquetWriter(
                            f"{out}/{t}.parquet", batch.schema, compression="snappy"
                        )
                    writer.write_table(batch, row_group_size=max(1, batch.num_rows))
            finally:
                if writer is not None:
                    writer.close()
        con.close()
        prior = set()
        if os.path.isfile(marker):
            prior = set(open(marker).read().split())
        if "ok" in prior:  # legacy sentinel == all tables (see read path)
            prior |= all_tables
        prior &= all_tables  # never carry non-table tokens forward
        with open(marker, "w") as f:
            f.write("\n".join(sorted(prior | want)) + "\n")
        return out
    except Exception:
        return None


def ensure_sf1(src: str = SRC_DEFAULT, out: str = OUT_DEFAULT) -> str | None:
    """Build the sf1 dir (10× src, one row group per replica) if missing."""
    return ensure_scaled(_REPS, out, src=src)


OUT_SF10 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".benchdata", "sf10"
)

# sf10 exists to settle the sf1 marginal exceedances (VERDICT r06 #4):
# queries whose DuckDB denominators sat at/near the noise floor at sf1
# (dedup_exact 26→37 ms, stream_tumbling 14 ms deltas, q5 56 ms,
# sim_search 158 ms) plus q3, whose scaling term is the join-build
# choice. Only the tables those queries touch are built at 100×.
SF10_TABLES = [
    "documents",
    "customer",
    "orders",
    "lineitem",
    "events",
    "embeddings",
    "supplier",
    "region",
    "nation",
]


def ensure_sf10(src: str = SRC_DEFAULT, out: str = OUT_SF10) -> str | None:
    """Build the sf10 dir (100× src) for the third marginal decade."""
    return ensure_scaled(100, out, src=src, tables=SF10_TABLES)


OUT_RECHUNK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".benchdata", "sf0.1r"
)


def ensure_rechunked(src: str = SRC_DEFAULT, out: str = OUT_RECHUNK) -> str | None:
    """Rewrite the sf0.1 tables byte-identical in VALUES but chunked into
    10 row groups per file — the matched-parallelism lower endpoint for
    the sf1 marginal (see module docstring)."""
    marker = os.path.join(out, "_DONE")
    if os.path.isfile(marker):
        return out
    try:
        import pyarrow.parquet as pq

        os.makedirs(out, exist_ok=True)
        for t in list(_COPY_ASIS) + list(_SHIFTS):
            src_path = f"{src}/{t}.parquet"
            tbl = pq.read_table(src_path)
            n = max(1, tbl.num_rows)
            pq.write_table(
                tbl,
                f"{out}/{t}.parquet",
                row_group_size=max(1, (n + _REPS - 1) // _REPS),
                compression="snappy",
            )
        with open(marker, "w") as f:
            f.write("ok\n")
        return out
    except Exception:
        return None


if __name__ == "__main__":
    import sys

    print(ensure_sf1())
    print(ensure_rechunked())
    if "--sf10" in sys.argv:
        print(ensure_sf10())
