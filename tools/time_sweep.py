"""Cross-scale timing sweep over the full batch registry (r11 probe).

For every non-streaming, non-lakehouse query, measure at each given sf
dir: build time (the registry call, which may include driver-side
fixture/certificate work) and min-of-N noop-sink execution time
(guide §1.4). Emits one JSON line per query so a killed run keeps its
partial results. Usage:

    python tools/time_sweep.py out.jsonl sf_dir [sf_dir ...]

Run it from the checkout root (Spark's Python workers import the engine
from the working directory). ``SWEEP_FAMILIES=streaming`` sweeps only
the streaming modules; ``SWEEP_ONLY=a,b`` limits it to named queries.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

# the checkout this script lives in, so a second checkout times its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import best_of, noop
from cloudtrail_streamer_spark.session import get_session

SKIP_MODULES = (
    "streaming",  # harness replay ops: measured/optimized via the gate logs
    "lakehouse",  # fixture-write dominated; examined separately
)

# r12 (VERDICT r11 #4): SWEEP_FAMILIES=streaming,lakehouse inverts the
# default skip — sweep ONLY those modules. For streaming ops the
# registry call runs the whole replay, so the interesting number is
# "build"; for lakehouse ops "build" is the fixture write + snapshot
# setup and "exec" the snapshot-read data path.

N_RUNS = 3


def main() -> int:
    out_path = sys.argv[1]
    sf_dirs = sys.argv[2:]
    from cloudtrail_streamer_spark.registry import all_queries

    queries = all_queries()
    spark = get_session("time_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    only = os.environ.get("SWEEP_ONLY")
    names = sorted(queries)
    if only:
        names = [n for n in names if n in set(only.split(","))]
    with open(out_path, "a") as out:
        fams = os.environ.get("SWEEP_FAMILIES")
        for name in names:
            fn = queries[name]
            if fams:
                if not any(s in fn.__module__ for s in fams.split(",")):
                    continue
            elif any(s in fn.__module__ for s in SKIP_MODULES):
                continue
            rec: dict = {"name": name, "module": fn.__module__}
            for sf_dir in sf_dirs:
                key = os.path.basename(sf_dir.rstrip("/"))
                try:
                    spark.sparkContext.setJobDescription(f"sweep:{name}@{key}")
                    t0 = time.perf_counter()
                    df = fn(spark, sf_dir)
                    t_build = time.perf_counter() - t0
                    rec[key] = {
                        "build": round(t_build, 3),
                        "warm": round(best_of(partial(noop, df), 1), 3),  # plan + codegen
                        "exec": round(best_of(partial(noop, df), N_RUNS), 3),
                    }
                except Exception as exc:  # noqa: BLE001 - probe must survive
                    rec[key] = {"err": f"{type(exc).__name__}: {exc}"[:300]}
                finally:
                    spark.sparkContext.setJobDescription(None)
                    spark.catalog.clearCache()
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(name, rec.get(key, {}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
