"""Plan audit: flag registered queries that scan the same parquet table
more than once.

Catalyst re-expands every DataFrame reference into a fresh logical
subtree — it does NOT deduplicate common subexpressions across the plan
tree — so a relation referenced by N subtrees is scanned (and fully
recomputed) N times unless it is persisted or the query is
restructured. At 100 TB each accidental rescan is a full-corpus pass.

This sweep prints every query whose formatted plan contains the same
table location more than once, with the per-table scan count. Some
multi-scans are semantic (self-joins, set ops, bloom build+probe,
TPC-H Q7/Q8's two nation roles, correlated subqueries); the rest are
recomputed-subtree bugs. SCALE.md records the adjudication.

Usage: python tools/scan_sweep.py [sf_dir]
"""

from __future__ import annotations

import collections
import contextlib
import io
import os
import re
import sys

# the checkout this script lives in, so a second checkout drives its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloudtrail_streamer_spark.registry import all_specs
from cloudtrail_streamer_spark.session import get_session


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("scan-sweep")
    n_flagged = 0
    for name, spec in all_specs().items():
        try:
            df = spec.fn(spark, sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            plan = buf.getvalue()
        except Exception as ex:  # streaming / sink ops have no batch plan
            first = str(ex).splitlines()[0][:100]
            print(f"{name:40s} SKIP  {first}")
            continue
        locs = re.findall(r"Location: InMemoryFileIndex[^\n]*/(\w+)\.parquet", plan)
        multi = {t: n for t, n in collections.Counter(locs).items() if n > 1}
        if multi:
            tree = plan.split("\n\n(1)")[0]
            cached = tree.count("InMemoryTableScan")
            note = f" (cached refs: {cached})" if cached else ""
            print(f"{name:40s} MULTI {multi}{note}")
            n_flagged += 1
    print(f"flagged: {n_flagged}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
