"""Benchmark entry point.

    python3 perfbench/run.py --workload headline_sf0.1 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. ``headline_sf0.1``
reads the fixture tables in ``perfbench/data/sf0.1`` and draws its query
order from ``--seed``; ``cloudtrail_replay`` generates its log files from
``--seed`` under ``.perfbench_work/``. It drives the engine through its
public modules on a warm ``local[nproc]`` session, checks every output,
and prints one JSON result as the last line of stdout (the line before it
is a ``{"detail": ...}`` record: environment, session conf, floor probes,
sample counts). ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("headline_sf0.1", "cloudtrail_replay")
# byte copy of the engine's sf0.1 test fixture (SHA256SUMS beside it)
HEADLINE_DATA = os.path.join(HERE, "data", "sf0.1")


def _pin_environment(root: str, work: str) -> None:
    """Keep every file Spark, its Python workers and the engine write
    inside the run's scratch dir, and let the workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM, the spark-submit launcher included; -XX:-UsePerfData keeps
    # them from writing /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    for p in (root, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--perturb",
        action="store_true",
        help="smoke check: corrupt one expected answer; the run must report a failure",
    )
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cloudtrail_streamer_spark", "__init__.py")):
        print("perfbench: run from the repository root (engine package not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _pin_environment(root, work)

    import probes
    import workloads as wl

    run = wl.Run(None, args.seed, args.seconds, bool(args.trace), work, HEADLINE_DATA, args.perturb)
    logs = warm = None
    if args.workload == "cloudtrail_replay":
        logs, warm = wl.replay_inputs(run, os.path.join(root, ".perfbench_work", "data"))

    spark = None
    try:
        t_setup = time.perf_counter()
        from cloudtrail_streamer_spark.session import get_session

        spark = get_session("perfbench")
        run.spark = spark
        run.detail["session.start_s"] = time.perf_counter() - t_setup
        if args.workload == "headline_sf0.1":
            queries = wl.headline_setup(run)
        else:
            listener = wl.replay_setup(run, warm)
        setup_s = time.perf_counter() - t_setup

        steal0, total0 = probes.cpu_jiffies()
        run.detail["floor_before_s"] = probes.floor_probe_s(spark)
        if args.workload == "headline_sf0.1":
            out = wl.headline(run, queries)
        else:
            out = wl.replay(run, logs, listener)
        run.detail["floor_after_s"] = probes.floor_probe_s(spark)
        steal1, total1 = probes.cpu_jiffies()
        run.detail["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)

        import pyspark

        run.detail.update(
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
            nproc=os.cpu_count(),
            pyspark=pyspark.__version__,
            master=spark.sparkContext.master,
            conf=dict(sorted(spark.sparkContext.getConf().getAll())),
            sql_conf={k: spark.conf.get(k) for k in _SQL_CONF_KEYS},
            failure_share=out.failed / max(1, out.attempted),
        )
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = dict(out.metrics)
    run.detail["peak_rss_mb"] = metrics["process.peak_rss_mb"]
    if args.trace:
        metrics["session.start_s"] = run.detail["session.start_s"]
        metrics["registry.load_s"] = run.detail["registry.load_s"]
        units = wl.PER_LAYER
    else:
        metrics["setup_s"] = setup_s
        units = wl.END_TO_END
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps(result))
    if out.failed:
        print(f"perfbench: {out.failed} of {out.attempted} operations failed", file=sys.stderr)
        return 1
    return 0


_SQL_CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.session.timeZone",
)

if __name__ == "__main__":
    sys.exit(main())
