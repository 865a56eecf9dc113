"""Benchmark harness (BASELINE.md §2): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], full materialization via the noop sink.

Prints ONE compact JSON line ({"metric": "...", "value": <total sec>,
"queries": {name: sec, ...}, "marginal_sf1": {...}, ...}) and writes the
full record (per_sf curves, ratios, decades) to BENCH_DETAIL.json.

The duckdb/ratio keys time the same H-tier oracle SQL single-process on
the same parquet (the BASELINE "within 2×" comparison); R-tier headline
queries report Spark time only.

per_sf / marginal_ratio make the scaling argument machine-checkable
(BASELINE.md §2 "honest read"): at sf0.1 most headline queries sit at
Spark's fixed per-job scheduling floor (~0.1 s), so the end-to-end ratio
measures constants, not operators. The marginal ratio
  (spark[sf_hi] - spark[sf_lo]) / (duckdb[sf_hi] - duckdb[sf_lo])
cancels both engines' fixed constants and compares the per-row cost that
actually scales to 100 TB. Queries whose marginal ratio exceeds 2 are
the real optimization targets.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from functools import partial

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

HEADLINE = [
    "scan_pruned",
    "agg_group_q1",
    "join_inner_hash",
    "join_broadcast",
    "join_asof",
    "win_rank",
    "top_n_per_group",
    "agg_rollup",
    "text_tfidf",
    "dedup_exact",
    "sim_search_topk",
    "stream_tumbling",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
]

N_RUNS = 5  # min-of-N; 5 not 3 — the host's periodic external harness
# inflates individual runs 10-30%, and two extra hot runs (~1 s each)
# buy materially more stable minima

# ALL 14 headline queries re-timed at sf1 (a locally derived 10x
# replication of sf0.1 — tools/make_sf1.py) so the per-row marginal fit
# spans two decades for the whole headline set (VERDICT r06 #2 — the 7
# queries previously excluded carried the worst sf0.1 optics precisely
# because their sub-100 ms deltas were constant-dominated; sf1 deltas
# are the decade where the constants cancel).
SF1_QUERIES = list(HEADLINE)

# The LLM-pipeline heavies (VERDICT r06 #3): the north-star ops a
# 100 TB training-data user runs longest, benched on the same matched-
# layout endpoints (sf0.1r -> sf1) with their DuckDB oracle twins.
LLM_HEADLINE = [
    "text_crossdoc_substring",
    "pipeline_dedup_e2e",
    "sim_search_arrow_kernel",
    # r8 (VERDICT r07 #2): the full pretraining funnel — the single
    # query a 100 TB training-data user runs longest
    "pipeline_pretrain_e2e",
    # r8 wave 3: the distributed Gram/covariance kernel (whitening/PCA
    # precursor) — Arrow mapInArrow + adaptive exact dgemm
    "embed_covariance_matrix",
]

# Third decade (VERDICT r06 #4): sf1 -> sf10 (100x the driver fixture)
# for the queries whose sf1 marginals exceeded 2x with sub-noise DuckDB
# denominators. At sf10 the denominators are 100s of ms to seconds —
# far above the noise floor the r4 verdict set. win_rank/text_tfidf
# added r8 (VERDICT r07 #6): their sf1 marginals sit closest to the
# bar (1.45/1.48), so they get the third decade too.
SF10_QUERIES = [
    "dedup_exact",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "sim_search_topk",
    "stream_tumbling",
    "win_rank",
    "text_tfidf",
]

# LLM third decade (VERDICT r07 #1 for crossdoc; r8 also for the
# pretrain funnel, whose sf1 "marginal" is a denominator artifact —
# DuckDB's sf0.1r→sf1 delta is 40-60 ms against a 3-stage Spark plan,
# so only the sf10 decade carries signal): query -> BENCH_DETAIL key
# under "sf10". runs=2 keeps the ~30 s/run crossdoc pair affordable.
LLM_SF10 = {
    "text_crossdoc_substring": "crossdoc_sf10",
    "pipeline_pretrain_e2e": "pretrain_sf10",
    "embed_covariance_matrix": "covariance_sf10",
}

# The registered ops `--scaling` times: the Q1 hash aggregate,
# tokenize + count, the brute-force cosine scan, the cross-document
# shingle windows and the covariance Gram kernel.
SCALING_QUERIES = [
    "agg_group_q1",
    "text_tokenize_wordcount",
    "sim_search_topk",
    "text_crossdoc_substring",
    "embed_covariance_matrix",
]

# The scaling decades as data, keyed by the SPARK_GRAFT_<key>=0 switch
# that skips them. Each row is one timed cell, (label, dir, queries,
# runs), run in table order on both engines; dir names a sibling of the
# headline dir (sf0.001, sf0.01) or a tools/make_sf1.py build, and a
# row whose dir is not available is skipped.
DECADES = {
    "PER_SF": [
        ("0.001", "sf0.001", HEADLINE, N_RUNS),
        ("0.01", "sf0.01", HEADLINE, N_RUNS),
    ],
    "SF1": [
        ("0.1r", "sf0.1r", SF1_QUERIES, N_RUNS),
        ("1", "sf1", SF1_QUERIES, N_RUNS),
    ],
    "LLM": [
        ("llm_0.1r", "sf0.1r", LLM_HEADLINE, N_RUNS),
        ("llm_1", "sf1", LLM_HEADLINE, N_RUNS),
        ("llm_10", "sf10", list(LLM_SF10), 2),
    ],
    "SF10": [("10", "sf10", SF10_QUERIES, N_RUNS)],
}


def _sf_of(sf_dir: str) -> str:
    return sf_dir.rstrip("/").split("sf")[-1]


def _on(switch: str) -> bool:
    return os.environ.get(f"SPARK_GRAFT_{switch}", "1") != "0"


def best_of(action, runs: int, reset=None) -> float:
    """Min wall-clock seconds over ``runs`` timed calls of ``action``;
    ``reset``, when given, runs untimed before each call. Min, not mean:
    the host runs a periodic external harness whose CPU spikes can
    inflate any single run 10-30x. Warm-up is the caller's: run
    ``action`` once untimed first."""
    best = float("inf")
    for _ in range(runs):
        if reset is not None:
            reset()
        t0 = time.perf_counter()
        action()
        best = min(best, time.perf_counter() - t0)
    return best


def noop(df) -> None:
    """Materialize ``df`` fully through the noop sink (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


def probe_floor(spark, runs: int = 2) -> float:
    """Min wall-clock of a 1-row noop action — the per-run scheduling
    floor. Re-probed BETWEEN headline queries (r11 VERDICT #1: the host
    runs a periodic external harness whose load bursts inflated 7 tail
    cells 3-4x in the r11 driver run; a floor probe taken next to each
    measurement makes a contaminated cell machine-readable)."""
    return best_of(partial(noop, spark.range(1)), runs)


def time_spark(
    spark, queries, sf_dir: str, names: list[str] | None = None, runs: int = N_RUNS
) -> dict[str, float]:
    """Min-of-N hot wall-clock per headline query, full materialization
    via the noop sink (no driver collect). Each query runs once untimed
    first so plan analysis + whole-stage-codegen compile are amortized."""
    out: dict[str, float] = {}
    for name in names or HEADLINE:
        df = queries[name](spark, sf_dir)
        noop(df)  # warm: plan + codegen
        # Drop op-local persisted subtrees before every timed run so each
        # pays the true single-execution cost (materialize + reuse), not
        # a cached re-read — DuckDB recomputes fully each run, so this
        # keeps the comparison honest (ADVICE r03). Also stops cache
        # accumulation across the 14 headline queries.
        out[name] = round(best_of(partial(noop, df), runs, spark.catalog.clearCache), 3)
    return out


def time_spark_batched(spark, queries, sf_dir: str) -> float:
    """Min-of-N wall-clock of ALL headline queries in flight at once:
    one thread per query submits its noop write, the clock stops when
    the last action finishes. This is the multi-query-sharing
    measurement (VERDICT r03 #4): a real analytics session runs many
    queries against one warm SparkSession, so the ~0.07 s per-action
    scheduling floor overlaps across queries instead of summing — at
    sf0.1 the sequential sum is ~90% floor, which amortizes to zero
    both here and at the 100 TB design point. Plans are untouched;
    only the driver-side submission overlaps (plain FIFO scheduler)."""
    from concurrent.futures import ThreadPoolExecutor

    dfs = [queries[name](spark, sf_dir) for name in HEADLINE]
    for df in dfs:  # warm: plan + codegen, same protocol as time_spark
        noop(df)
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        best = best_of(lambda: list(pool.map(noop, dfs)), N_RUNS, spark.catalog.clearCache)
    return round(best, 3)


def time_duckdb_batched(oracles, sf_dir: str) -> float:
    """The identical multi-query protocol for DuckDB: one connection per
    headline oracle query (DuckDB parallelizes within AND across
    connections), all submitted at once, wall-clock to last finish."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from tests.conftest import register_duckdb_views

    pairs = [(duckdb.connect(), name) for name in HEADLINE if name in oracles]
    for con, _ in pairs:
        register_duckdb_views(con, sf_dir)

    def run_one(args) -> None:
        con, name = args
        con.execute(oracles[name]).fetchall()

    for p in pairs:  # warm
        run_one(p)
    with ThreadPoolExecutor(max_workers=len(pairs)) as pool:
        best = best_of(lambda: list(pool.map(run_one, pairs)), N_RUNS)
    for con, _ in pairs:
        con.close()
    return round(best, 3)


def time_duckdb(
    oracles, sf_dir: str, names: list[str] | None = None, runs: int = N_RUNS
) -> dict[str, float]:
    """Same warm + min-of-N protocol for the DuckDB oracle SQL."""
    import duckdb

    from tests.conftest import register_duckdb_views

    out: dict[str, float] = {}
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)
    for name in names or HEADLINE:
        if name not in oracles:
            continue
        sql = oracles[name]
        con.execute(sql).fetchall()  # warm (same protocol)
        out[name] = round(best_of(lambda: con.execute(sql).fetchall(), runs), 3)
    con.close()
    return out


def _marginal(hi: dict, lo: dict, floor: float) -> dict[str, float | None]:
    """Marginal per-row ratio Δspark/ΔDuckDB from cell ``lo`` to cell
    ``hi`` (each ``{"spark": {...}, "duckdb": {...}}``) for every query
    with a DuckDB time in both: both engines' fixed constants cancel.
    None when DuckDB's delta is at or below ``floor`` — sub-noise
    deltas print as fake ratios."""
    out: dict[str, float | None] = {}
    for n, s_hi in hi["spark"].items():
        if n not in hi["duckdb"] or n not in lo["duckdb"]:
            continue
        dd = hi["duckdb"][n] - lo["duckdb"][n]
        out[n] = round((s_hi - lo["spark"].get(n, 0.0)) / dd, 2) if dd > floor else None
    return out


def _null_reasons(hi: dict, lo: dict, ratios: dict, floor: float, job_floor: float):
    """Machine-readable reason for each marginal ``_marginal`` nulled."""
    return {
        n: f"duckdb sf10-sf1 delta {round(hi['duckdb'][n] - lo['duckdb'][n], 3)}s "
        f"below the {round(floor, 3)}s noise floor (3x job-floor probe "
        f"{round(job_floor, 3)}s); spark delta "
        f"{round(hi['spark'][n] - lo['spark'][n], 3)}s — ratio would be "
        "denominator noise, not signal"
        for n, r in ratios.items()
        if r is None
    }


def floor_mode() -> None:
    """``bench.py --floor``: the reproducible floor decomposition
    (BASELINE.md §2 "honest read", VERDICT r02 next-#5). Fits the linear
    model t(sf) = c + m·sf per headline query from timings at sf0.01 and
    sf0.1 and prints, per query: the measured sf0.1 time, the fitted
    per-query constant c (Spark's scheduling/launch floor × number of
    actions/stages), the scaling term m·sf at sf0.1, and the share of
    the measured time that is constant. A query whose overhead share is
    high is floor-bound — its end-to-end DuckDB ratio measures Spark's
    fixed constants, which amortize to zero at the 100 TB design point;
    only the m·sf term scales."""
    from cloudtrail_streamer_spark.registry import all_queries
    from cloudtrail_streamer_spark.session import get_session

    spark = get_session("cts-bench-floor")
    queries = all_queries()

    probe_floor(spark, 1)  # warm
    job_floor = probe_floor(spark, N_RUNS)

    # Interleave the lo/hi measurements PER QUERY (lo,hi,lo,hi,...)
    # rather than timing all queries at one sf and then the other: the
    # host's periodic external harness spikes CPU for minutes at a time,
    # and with phase-separated timing a spike lands on one whole sf
    # column, inverting every fitted slope (observed r4: const_share 1.0
    # across the board). Interleaved, a spike inflates both sides of
    # the same query's pair and the slope survives.
    root = "/root/testdata"
    lo_dir, hi_dir = os.path.join(root, "sf0.01"), os.path.join(root, "sf0.1")
    t_lo: dict[str, float] = {}
    t_hi: dict[str, float] = {}
    for name in HEADLINE:
        dfs = {}
        for sf_dir in (lo_dir, hi_dir):
            dfs[sf_dir] = queries[name](spark, sf_dir)
            noop(dfs[sf_dir])  # warm
        runs: dict[str, list[float]] = {lo_dir: [], hi_dir: []}
        for _ in range(N_RUNS):
            for sf_dir, df in dfs.items():
                runs[sf_dir].append(best_of(partial(noop, df), 1, spark.catalog.clearCache))
        t_lo[name] = round(min(runs[lo_dir]), 3)
        t_hi[name] = round(min(runs[hi_dir]), 3)
    rows = {}
    for n in HEADLINE:
        # linear fit through (0.01, t_lo) and (0.1, t_hi):
        # m = Δt / Δsf ; c = t_lo − m·0.01  (clamped at 0)
        m = (t_hi[n] - t_lo[n]) / 0.09
        # clamp to [0, t_hi]: timing noise can make the fitted slope
        # negative, which would put c above the measured time
        c = min(max(0.0, t_lo[n] - m * 0.01), t_hi[n])
        scale_term = max(0.0, t_hi[n] - c)
        rows[n] = {
            "t_sf01_sec": t_hi[n],
            "const_c_sec": round(c, 3),
            "scale_term_sec": round(scale_term, 3),
            "const_share": round(c / t_hi[n], 2) if t_hi[n] > 0 else None,
            "est_jobs_at_floor": round(c / job_floor, 1) if job_floor > 0 else None,
        }
    out = {
        "metric": "floor_decomposition",
        "spark_job_floor_sec": round(job_floor, 3),
        "unit": "sec",
        "queries": rows,
        "total_const_sec": round(sum(r["const_c_sec"] for r in rows.values()), 3),
        "total_sf01_sec": round(sum(r["t_sf01_sec"] for r in rows.values()), 3),
    }
    print(json.dumps(out))


def _decade_dirs(sf_dir: str, sf: str) -> dict[str, str]:
    """The DECADES dir names available for this run -> their paths.

    sf0.1r -> sf1 is the matched-layout decade (VERDICT r04 #5): both
    endpoints use the SAME physical layout (10 row groups → 10-way scans
    on both engines). The fixture's 1-row-group sf0.1 files cap both
    engines at one scan thread, so a raw sf0.1→sf1 delta measures the
    layout change, not data scale (measured: Spark's absolute time DROPS
    on 10× rows); the sf0.1 layout effect itself is reported as
    layout_effect_sf01. sf10 keeps rows-per-row-group constant
    (tools/make_sf1.py ensure_scaled), so its decade varies task COUNT,
    not task size — the real scale-up shape. The derived dirs exist only
    for an sf0.1 headline with SPARK_GRAFT_SF1 on (sf10 also needs
    SPARK_GRAFT_SF10 on), so the LLM and sf10 decades need sf1."""
    root = os.path.dirname(sf_dir.rstrip("/"))
    dirs = {
        name: os.path.join(root, name)
        for name in ("sf0.001", "sf0.01")
        if os.path.isdir(os.path.join(root, name))
        and os.path.join(root, name) != sf_dir.rstrip("/")
    }
    if sf == "0.1" and _on("SF1"):
        from tools.make_sf1 import ensure_rechunked, ensure_sf1, ensure_sf10

        sf1_dir, lo_dir = ensure_sf1(), ensure_rechunked()
        if sf1_dir and lo_dir:
            dirs.update({"sf1": sf1_dir, "sf0.1r": lo_dir})
            dirs["sf10"] = ensure_sf10() if _on("SF10") else None
    return {k: d for k, d in dirs.items() if d}


def compact_line(detail: dict, detail_path: str | None) -> str:
    """The final stdout line. The external bench harness keeps only the
    LAST 2000 bytes of stdout and parses the final line (observed: BENCH_r01/
    r02 both recorded "parsed": null because a full-detail line exceeded
    that window), so it stays compact and the scaling curves / marginal
    ratios live in BENCH_DETAIL.json instead."""
    batched = detail["batched_wall_clock_sec"]
    duck_batched = detail["duckdb_batched_wall_clock_sec"]
    compact = {
        "metric": "headline_queries_wall_clock",
        "value": detail["value"],
        "unit": "sec",
        "queries": detail["queries"],
        "sf": detail["sf"],
        "duckdb_total_sec": round(sum(detail["duckdb"].values()), 3),
        "spark_job_floor_sec": detail["spark_job_floor_sec"],
        # headline cells whose per-cell floor probe ran >=3x the session
        # median — i.e. a host-load burst landed on them; read their
        # seconds with that in mind (detail has floor_at_measure)
        "load_suspect": detail["load_suspect"],
        # multi-query sharing (VERDICT r03 #4): all 14 queries in flight
        # at once on BOTH engines, wall-clock to last finish — the
        # sequential sums above are ~90% per-action floor at sf0.1
        "batched_wall_clock_sec": batched,
        "duckdb_batched_wall_clock_sec": duck_batched,
        "batched_ratio": round(batched / duck_batched, 2) if duck_batched else None,
        # sf0.1 → sf1 marginal per-row ratio, all 14 headline queries
        # (two-decade fit, deltas in seconds — the 100 TB signal)
        "marginal_sf1": detail["marginal_ratio_sf1"],
        # sf1 → sf10 third decade for the noise-floor stragglers
        "marginal_sf10": detail["sf10"].get("marginal_ratio_sf10", {}),
        "detail": detail_path,
    }
    line = json.dumps(compact)
    for key in ("queries", "marginal_sf1"):  # never exceed the tail window
        if len(line) <= 1900:
            break
        compact.pop(key)
        line = json.dumps(compact)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_of(sf_dir)

    from cloudtrail_streamer_spark.registry import all_oracles, all_queries
    from cloudtrail_streamer_spark.session import CONF_ERRORS, get_session

    spark = get_session("cts-bench")
    queries, oracles = all_queries(), all_oracles()

    # Empty-job floor: min wall-clock of a 1-row noop action. At sf0.1
    # most headline queries are within ~2-4× of this constant — per-query
    # end-to-end ratios measure Spark's scheduling floor, not the
    # operators (see BASELINE.md §2 "honest read"); marginal ratios below
    # are the scale signal.
    probe_floor(spark, 1)  # warm
    job_floor = probe_floor(spark, N_RUNS)

    # JIT stabilization: a fresh JVM runs the noop/scheduler path 3-4x
    # slower for its first seconds (measured: per-cell floor probes
    # decay 0.085 -> 0.022 across the headline loop on a quiet host).
    # Probe until two consecutive probes agree within 25% (bounded at
    # 12) so the FIRST headline cells are neither inflated by warm-up
    # nor falsely flagged load-suspect against the later, warmer base.
    prev = job_floor
    for _ in range(12):
        cur = probe_floor(spark)
        if max(cur, prev) <= 1.25 * min(cur, prev):
            break
        prev = cur
    job_floor = min(job_floor, prev, cur)

    # Headline cells with a floor probe BESIDE each measurement (r11
    # VERDICT #1): the probe is taken immediately before each query's
    # timed runs, so a host-load burst that lands on a cell also lands
    # on its probe. Timed region per query is unchanged (same warm +
    # min-of-N noop protocol via time_spark); the probes are extra
    # bookkeeping between cells, ~0.1 s each.
    spark_times: dict[str, float] = {}
    probe_at: dict[str, float] = {}  # unrounded; rounded only for output
    for name in HEADLINE:
        probe_at[name] = probe_floor(spark)
        spark_times.update(time_spark(spark, queries, sf_dir, [name]))
    probe_at["_after_last"] = probe_floor(spark)
    floor_at_measure = {n: round(t, 3) for n, t in probe_at.items()}
    # A cell is load-suspect when its neighbouring probe ran well above
    # the session's TYPICAL probe: 3x the median, with a 0.05 s absolute
    # slack. Median, not min — the JVM keeps JIT-warming through the
    # first cells (probes decay ~0.09 -> ~0.02 across a quiet run even
    # after the stabilization block above), so a min-based base flags
    # the head of every quiet run; the median is insensitive to that
    # decay while a genuine 10-30x host burst (the r11 failure mode)
    # still trips 3x easily. A burst long enough to move the median
    # would contaminate most cells — the in-run DuckDB control catches
    # that case. The base is the median of the per-cell probes only (the
    # _after_last sentinel is no cell), taken before any rounding: on a
    # fast host 3-decimal rounding collapses the probes and the 3x
    # relative threshold stops contributing.
    floor_base = statistics.median(probe_at[n] for n in HEADLINE)
    load_suspect = sorted(
        n for n in HEADLINE if probe_at[n] > max(3.0 * floor_base, floor_base + 0.05)
    )
    duck_times = time_duckdb(oracles, sf_dir)
    spark_batched = time_spark_batched(spark, queries, sf_dir)
    # Each engine gets its BEST multi-query strategy: Spark overlaps its
    # per-action floor across concurrent jobs; DuckDB has no floor to
    # amortize and is fastest back-to-back on one warm connection
    # (measured: 14 concurrent connections are 3-6x SLOWER than the
    # sequential sum at any per-connection thread cap), so its
    # multi-query number is min(concurrent wall, sequential sum).
    duck_batched = min(time_duckdb_batched(oracles, sf_dir), round(sum(duck_times.values()), 3))
    ratio = {n: round(spark_times[n] / t, 2) for n, t in duck_times.items() if t > 0}

    # The scaling decades: the same protocol at every sibling sf (the
    # marginal per-row cost is in the artifact, not just prose), then
    # the derived sf0.1r -> sf1 -> sf10 decades.
    dirs = _decade_dirs(sf_dir, sf)
    cells = {
        label: {
            "spark": time_spark(spark, queries, dirs[d], names, runs),
            "duckdb": time_duckdb(oracles, dirs[d], names, runs),
        }
        for switch, rows in DECADES.items()
        if _on(switch)
        for label, d, names, runs in rows
        if d in dirs
    }
    per_sf = {sf: {"spark": spark_times, "duckdb": duck_times}}
    per_sf.update({k: cells[k] for k in ("0.001", "0.01", "0.1r", "1") if k in cells})

    # Marginal ratio across the widest available sibling step (default
    # 0.01 → 0.1 = 10× rows); None when DuckDB's delta is ≤ noise (1 ms).
    sfs = sorted([sf] + [k for k in ("0.001", "0.01") if k in cells], key=float)
    marginal_ratio = (
        _marginal(per_sf[sfs[-1]], per_sf[sfs[-2]], 0.001) if len(sfs) >= 2 else {}
    )

    # sf0.1r → sf1: the sf1 deltas are seconds, not tens of ms, so this
    # marginal ratio is the noise-proof per-row comparison. 0.02 s
    # floor: the r4-set noise band for marginal denominators.
    marginal_sf1: dict[str, float | None] = {}
    layout_effect: dict[str, dict[str, float]] = {}
    if "1" in cells:
        lo = cells["0.1r"]
        marginal_sf1 = _marginal(cells["1"], lo, 0.02)
        layout_effect = {
            n: {
                "spark_1group": spark_times.get(n),
                "spark_10group": lo["spark"].get(n),
                "duckdb_1group": duck_times.get(n),
                "duckdb_10group": lo["duckdb"].get(n),
            }
            for n in SF1_QUERIES
        }

    # LLM-pipeline heavies (VERDICT r06 #3): kept in a separate block so
    # the 14-query headline total stays comparable across rounds.
    llm_block: dict = {}
    if "llm_1" in cells:
        llm_block = {
            "queries": LLM_HEADLINE,
            "sf0.1r": cells["llm_0.1r"],
            "sf1": cells["llm_1"],
            "marginal_ratio_sf1": _marginal(cells["llm_1"], cells["llm_0.1r"], 0.001),
        }

    # Third decade, sf1 -> sf10 (VERDICT r06 #4): settles the queries
    # whose sf1 DuckDB denominators sat below the noise floor.
    # Denominator floor = max(0.02, 3x the measured job-floor probe)
    # (VERDICT r10 #5): the 0.02 s r4 band was too low — r10 printed
    # stream_tumbling at "4.66" off a 0.07 s DuckDB delta that swung
    # 2.85/4.66/7.09 across runs (Spark's absolute time was FLAT across
    # the decade, i.e. the cell was all denominator noise). The floor
    # probe is this host's per-run noise scale, so a trustworthy
    # marginal needs the denominator comfortably above it; anything
    # below nulls WITH a machine-readable reason instead of printing a
    # number that needs prose.
    sf10_block: dict = {}
    if "10" in cells:
        dd_floor = max(0.02, 3.0 * job_floor)
        hi, lo = cells["10"], cells["1"]
        marginal_sf10 = _marginal(hi, lo, dd_floor)
        sf10_block = {
            "sf10": hi,
            "marginal_ratio_sf10": marginal_sf10,
            "marginal_null_reason_sf10": _null_reasons(
                hi, lo, marginal_sf10, dd_floor, job_floor
            ),
        }
        if "llm_10" in cells:
            hi, lo = cells["llm_10"], cells["llm_1"]
            m = _marginal(hi, lo, dd_floor)
            why = _null_reasons(hi, lo, m, dd_floor, job_floor)
            for xq, key in LLM_SF10.items():
                sf10_block[key] = {
                    "spark_sec": hi["spark"][xq],
                    "duckdb_sec": hi["duckdb"].get(xq),
                    "marginal_ratio_sf10": m.get(xq),
                    **({"marginal_null_reason": why[xq]} if xq in why else {}),
                }

    detail = {
        "metric": "headline_queries_wall_clock",
        "value": round(sum(spark_times.values()), 3),
        "unit": "sec",
        "queries": spark_times,
        "sf": float(sf),
        "duckdb": duck_times,
        "ratio": ratio,
        "spark_job_floor_sec": round(job_floor, 3),
        "floor_at_measure": floor_at_measure,
        "load_suspect": load_suspect,
        "batched_wall_clock_sec": spark_batched,
        "duckdb_batched_wall_clock_sec": duck_batched,
        "per_sf": per_sf,
        "marginal_ratio": marginal_ratio,
        "marginal_ratio_sf1": marginal_sf1,
        "layout_effect_sf01": layout_effect,
        "llm_headline": llm_block,
        "sf10": sf10_block,
        # every engine conf configure() could not set on this build
        "conf_errors": dict(CONF_ERRORS),
    }
    detail_path = os.path.join(ROOT, "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        detail_path = None
    line = compact_line(detail, detail_path)
    sys.stdout.flush()
    print(line)


def scaling_cell() -> None:
    """One ``--scaling`` cell, run in its own process: the
    SCALING_QUERIES at sf1 on a fresh ``get_session`` of
    $SPARK_GRAFT_CPUS cores, warm + min-of-3 through ``time_spark``,
    printed as one JSON line."""
    from cloudtrail_streamer_spark.registry import all_queries
    from cloudtrail_streamer_spark.session import get_session
    from tools.make_sf1 import ensure_sf1

    spark = get_session("cts-bench-scaling")
    print(json.dumps(time_spark(spark, all_queries(), ensure_sf1(), SCALING_QUERIES, runs=3)))


def scaling_mode() -> None:
    """``bench.py --scaling``: strong-scaling curve of the registered
    SCALING_QUERIES on 1, 8 and all host cores.

    The headline queries at sf0.1 are ~90% per-action scheduling floor
    (see --floor), so they cannot show parallel speedup; this times the
    compute-heavy registered ops at sf1 (tools/make_sf1.py), one fresh
    JVM per core count. Prints one JSON line with each query's seconds
    per core count and its speedup from 1 core to the largest count —
    the local-mode audit that the plans are data-parallel, which is what
    transfers to executors at 100 TB. sf1's 10 row groups per file cap
    a scan stage at 10 tasks."""
    import subprocess

    counts = sorted({1, 8, os.cpu_count() or 1})
    results: dict[str, dict[str, float]] = {}
    for cores in counts:
        proc = subprocess.run(
            [sys.executable, "-c", "import bench; bench.scaling_cell()"],
            cwd=ROOT,
            env={**os.environ, "SPARK_GRAFT_CPUS": str(cores)},
            stdout=subprocess.PIPE,
            text=True,
            timeout=1800,
            check=True,
        )
        results[str(cores)] = json.loads(proc.stdout.splitlines()[-1])
    lo, hi = results[str(counts[0])], results[str(counts[-1])]
    speedup = {q: round(lo[q] / hi[q], 2) for q in SCALING_QUERIES if hi[q] > 0}
    print(
        json.dumps(
            {"metric": "strong_scaling", "sf": 1.0, "cores": results, "speedup_1_to_max": speedup}
        )
    )


if __name__ == "__main__":
    if "--floor" in sys.argv:
        floor_mode()
    elif "--scaling" in sys.argv:
        scaling_mode()
    else:
        main()
