"""Benchmark harness (BASELINE.md §2): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], full materialization via the noop sink.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "duckdb": {...}, "ratio": {...},
   "per_sf": {"0.001": {"spark": {...}, "duckdb": {...}}, ...},
   "marginal_ratio": {name: r, ...}}

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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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


def _sf_of(sf_dir: str) -> str:
    return sf_dir.rstrip("/").split("sf")[-1]


def time_one_df(spark, df, runs: int = N_RUNS) -> float:
    """Warm + min-of-N noop-sink wall-clock for one DataFrame (the same
    protocol as time_spark, for plan-A/B alternatives built inline)."""
    df.write.format("noop").mode("overwrite").save()  # warm: plan + codegen
    best = float("inf")
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def probe_floor(spark, runs: int = 2) -> float:
    """Min wall-clock of a 1-row noop action — the per-run scheduling
    floor. Re-probed BETWEEN headline queries (r11 VERDICT #1: the host
    runs a periodic external harness whose load bursts inflated 7 tail
    cells 3-4x in the r11 driver run; a floor probe taken next to each
    measurement makes a contaminated cell machine-readable)."""
    df = spark.range(1)
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def time_spark(
    spark,
    queries,
    sf_dir: str,
    names: list[str] | None = None,
    runs: int = N_RUNS,
) -> dict[str, float]:
    """Min-of-N hot wall-clock per headline query, full materialization
    via the noop sink (no driver collect). Each query runs once untimed
    first so plan analysis + whole-stage-codegen compile are amortized —
    min, not mean, because the host runs a periodic external harness
    whose CPU spikes can inflate any single run 10-30×."""
    out: dict[str, float] = {}
    for name in names or HEADLINE:
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm: plan + codegen
        best = float("inf")
        for _ in range(runs):
            # Drop op-local persisted subtrees so every timed run pays the
            # true single-execution cost (materialize + reuse), not a
            # cached re-read — DuckDB recomputes fully each run, so this
            # keeps the comparison honest (ADVICE r03). Also stops cache
            # accumulation across the 14 headline queries.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
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
        df.write.format("noop").mode("overwrite").save()

    def run_one(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    best = float("inf")
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        for _ in range(N_RUNS):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            list(pool.map(run_one, dfs))
            best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def time_duckdb_batched(oracles, sf_dir: str) -> float | None:
    """The identical multi-query protocol for DuckDB: one connection per
    headline oracle query (DuckDB parallelizes within AND across
    connections), all submitted at once, wall-clock to last finish."""
    from concurrent.futures import ThreadPoolExecutor

    try:
        import duckdb
    except ImportError:
        return None
    names = [n for n in HEADLINE if n in oracles]
    cons = []
    for _ in names:
        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        cons.append(con)

    def run_one(args) -> None:
        con, name = args
        con.execute(oracles[name]).fetchall()

    pairs = list(zip(cons, names))
    for p in pairs:  # warm
        run_one(p)
    best = float("inf")
    with ThreadPoolExecutor(max_workers=len(pairs)) as pool:
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            list(pool.map(run_one, pairs))
            best = min(best, time.perf_counter() - t0)
    for con in cons:
        con.close()
    return round(best, 3)


def time_duckdb(
    oracles, sf_dir: str, names: list[str] | None = None, runs: int = N_RUNS
) -> dict[str, float]:
    """Same warm + min-of-N protocol for the DuckDB oracle SQL."""
    out: dict[str, float] = {}
    try:
        import duckdb
    except ImportError:
        return out
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        if not os.path.isfile(os.path.join(sf_dir, f"{t}.parquet")):
            continue  # partial bench dirs (sf10 builds only what it times)
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name in names or HEADLINE:
        if name not in oracles:
            continue
        con.execute(oracles[name]).fetchall()  # warm (same protocol)
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            con.execute(oracles[name]).fetchall()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    con.close()
    return out


def _covariance_int64_matmul_plan(spark, sf_dir: str):
    """embed_covariance_matrix with the naive kernel (pandas objects +
    numpy int64 matmul, no BLAS path) — the measured A/B alternative
    for the kept mapInArrow + adaptive-dgemm kernel
    (operators/stats_tests.py docstring)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from cloudtrail_streamer_spark.catalog import table

    dim = 64
    emb = table(spark, sf_dir, "embeddings").select(
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long"),
        ).alias("qe")
    )
    iu = np.triu_indices(dim)

    def gram_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.int64) for v in pdf["qe"]],
                dtype=np.int64,
            )
            g = x.T @ x
            s = x.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu[0].astype(np.int64),
                    "j": iu[1].astype(np.int64),
                    "n": np.int64(len(pdf)),
                    "s_i": s[iu[0]],
                    "s_j": s[iu[1]],
                    "s_ij": g[iu],
                }
            )

    partials = emb.mapInPandas(
        gram_partials, "i long, j long, n long, s_i long, s_j long, s_ij long"
    )
    dec = "decimal(38,0)"
    m = partials.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum(F.col("s_i").cast(dec)).cast("double").alias("s_i"),
        F.sum(F.col("s_j").cast(dec)).cast("double").alias("s_j"),
        F.sum(F.col("s_ij").cast(dec)).cast("double").alias("s_ij"),
    )
    n = F.col("n")
    cov = (
        (F.col("s_ij") - F.col("s_i") * F.col("s_j") / n) / (n - 1)
        / 1000000000000.0
    )
    return m.select("i", "j", n.alias("n"), F.round(cov, 6).alias("cov")).orderBy(
        "i", "j"
    )


def _crossdoc_legacy_plan(spark, sf_dir: str):
    """The r8 text_crossdoc_substring physical shape (single scan, min/max
    WINDOW over the window-hash key — a full shuffle + sort of every
    window instance), kept ONLY as the measured plan-A/B alternative for
    the r10 sort-free hash-aggregate rewrite (operators/text.py docstring
    and SCALE.md §Round-10 have the decomposition; the r7 persist+join
    shape it replaced is decomposed in the r8 BENCH_DETAIL archive)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cloudtrail_streamer_spark.catalog import table

    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    da = d.withColumn("arr", F.split(F.lower(F.col("text")), " ")).withColumn(
        "ha", F.transform("arr", lambda t: F.xxhash64(t))
    )
    wins = da.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("ha") - 8, F.lit(0))),
                lambda i: F.xxhash64(*[F.get("ha", i + j) for j in range(8)]),
            )
        ).alias("w"),
    )
    wspec = Window.partitionBy("w")
    return (
        wins.select(
            "doc_id",
            (F.min("doc_id").over(wspec) != F.max("doc_id").over(wspec))
            .cast("long")
            .alias("sh"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("sh").alias("n_shared"),
        )
        .where(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_windows",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(F.col("n_shared").cast("double") / F.col("n_windows"), 4).alias(
                "shared_ratio"
            ),
        )
    )


def _sim_kernel_legacy_plan(spark, sf_dir: str):
    """The r7 sim_search_arrow_kernel shape (hash-block candidates,
    replicate probes per block via a blk join, applyInPandas per block)
    — the measured A/B alternative for the r8 mapInPandas+broadcast
    kernel (operators/similarity.py docstring). The blk join fans every
    candidate embedding out once per probe."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cloudtrail_streamer_spark.catalog import table
    from cloudtrail_streamer_spark.stats import row_count

    em = table(spark, sf_dir, "embeddings")
    n = row_count(sf_dir, "embeddings")
    n_blocks = max(8, -(-n // 65536)) if n > 0 else 8
    cand = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cand_emb"),
        F.pmod(F.xxhash64(F.col("vec_id").cast("long")), F.lit(n_blocks)).alias("blk"),
    )
    probes = (
        em.where(F.col("vec_id") <= 9)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb"))
        .crossJoin(
            F.broadcast(spark.range(n_blocks).select(F.col("id").cast("long").alias("blk")))
        )
    )
    blocks = cand.join(F.broadcast(probes), "blk")

    def score_block(pdf):
        import numpy as np

        c = pdf[["neighbor_id", "cand_emb"]].drop_duplicates("neighbor_id")
        p = pdf[["probe_id", "probe_emb"]].drop_duplicates("probe_id")
        cm = np.stack(c["cand_emb"].to_numpy()).astype(np.float64)
        pm = np.stack(p["probe_emb"].to_numpy()).astype(np.float64)
        sims = (cm @ pm.T) / (
            np.linalg.norm(cm, axis=1)[:, None] * np.linalg.norm(pm, axis=1)[None, :]
        )
        out = []
        cand_ids = c["neighbor_id"].to_numpy()
        for j, pid in enumerate(p["probe_id"].to_numpy()):
            col = np.round(sims[:, j], 4)
            mask = cand_ids != pid
            ids, sc = cand_ids[mask], col[mask]
            order = np.lexsort((ids, -sc))[:5]
            for i in order:
                out.append((int(pid), int(ids[i]), float(sc[i])))
        return pd.DataFrame(out, columns=["probe_id", "neighbor_id", "score"])

    local = blocks.groupBy("blk").applyInPandas(
        score_block, "probe_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        local.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("probe_id", "neighbor_id", "score", "rn")
    )


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

    floor_df = spark.range(1)
    floor_df.write.format("noop").mode("overwrite").save()
    job_floor = min(
        _timed(lambda: floor_df.write.format("noop").mode("overwrite").save())
        for _ in range(N_RUNS)
    )

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
        for sf_dir, out in ((lo_dir, t_lo), (hi_dir, t_hi)):
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()  # warm
            dfs[sf_dir] = df
        for sf_dir, out in ((lo_dir, t_lo), (hi_dir, t_hi)):
            out[name] = float("inf")
        for _ in range(N_RUNS):
            for sf_dir, out in ((lo_dir, t_lo), (hi_dir, t_hi)):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                dfs[sf_dir].write.format("noop").mode("overwrite").save()
                out[name] = min(out[name], time.perf_counter() - t0)
        t_lo[name] = round(t_lo[name], 3)
        t_hi[name] = round(t_hi[name], 3)
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


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_of(sf_dir)

    from cloudtrail_streamer_spark.registry import all_oracles, all_queries
    from cloudtrail_streamer_spark.session import get_session

    spark = get_session("cts-bench")
    queries, oracles = all_queries(), all_oracles()

    # Empty-job floor: min wall-clock of a 1-row noop action. At sf0.1
    # most headline queries are within ~2-4× of this constant — per-query
    # end-to-end ratios measure Spark's scheduling floor, not the
    # operators (see BASELINE.md §2 "honest read"); marginal ratios below
    # are the scale signal.
    floor_df = spark.range(1)
    floor_df.write.format("noop").mode("overwrite").save()
    job_floor = float("inf")
    for _ in range(N_RUNS):
        t0 = time.perf_counter()
        floor_df.write.format("noop").mode("overwrite").save()
        job_floor = min(job_floor, time.perf_counter() - t0)

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
        n
        for n in HEADLINE
        if probe_at[n] > max(3.0 * floor_base, floor_base + 0.05)
    )
    duck_times = time_duckdb(oracles, sf_dir)
    spark_batched = time_spark_batched(spark, queries, sf_dir)
    # Each engine gets its BEST multi-query strategy: Spark overlaps its
    # per-action floor across concurrent jobs; DuckDB has no floor to
    # amortize and is fastest back-to-back on one warm connection
    # (measured: 14 concurrent connections are 3-6x SLOWER than the
    # sequential sum at any per-connection thread cap), so its
    # multi-query number is min(concurrent wall, sequential sum).
    duck_concurrent = time_duckdb_batched(oracles, sf_dir)
    duck_seq_total = round(sum(duck_times.values()), 3)
    duck_batched = (
        min(duck_concurrent, duck_seq_total)
        if duck_concurrent is not None
        else duck_seq_total
    )
    ratio = {
        n: round(spark_times[n] / duck_times[n], 2)
        for n in duck_times
        if duck_times[n] > 0
    }

    # Scaling curve: the same protocol at every sibling sf (sf0.001,
    # sf0.01, ...) so the marginal per-row cost is in the artifact, not
    # just prose. Skippable for quick iteration via SPARK_GRAFT_PER_SF=0.
    per_sf: dict[str, dict[str, dict[str, float]]] = {
        sf: {"spark": spark_times, "duckdb": duck_times}
    }
    if os.environ.get("SPARK_GRAFT_PER_SF", "1") != "0":
        root = os.path.dirname(sf_dir.rstrip("/"))
        for other in ("sf0.001", "sf0.01"):
            d = os.path.join(root, other)
            if not os.path.isdir(d) or d.rstrip("/") == sf_dir.rstrip("/"):
                continue
            per_sf[_sf_of(d)] = {
                "spark": time_spark(spark, queries, d),
                "duckdb": time_duckdb(oracles, d),
            }

    # Marginal ratio across the widest available sf step (default
    # 0.01 → 0.1 = 10× rows): Δspark/Δduckdb with both engines' fixed
    # constants cancelled. None when DuckDB's delta is ≤ noise (1 ms).
    marginal_ratio: dict[str, float | None] = {}
    sfs = sorted(per_sf, key=float)
    if len(sfs) >= 2:
        lo, hi = sfs[-2], sfs[-1]
        for n in per_sf[hi]["spark"]:
            if n not in per_sf[hi]["duckdb"] or n not in per_sf[lo]["duckdb"]:
                continue
            ds = per_sf[hi]["spark"][n] - per_sf[lo]["spark"].get(n, 0.0)
            dd = per_sf[hi]["duckdb"][n] - per_sf[lo]["duckdb"][n]
            marginal_ratio[n] = round(ds / dd, 2) if dd > 0.001 else None

    # One more decade for the marginal-clean queries (VERDICT r04 #5):
    # sf0.1 → sf1 (10× again, locally derived — tools/make_sf1.py). The
    # sf1 deltas are seconds, not tens of ms, so this marginal ratio is
    # the noise-proof per-row comparison. Both endpoints use the SAME
    # physical layout (10 row groups → 10-way scans on both engines):
    # the driver's 1-row-group sf0.1 files cap both engines at one scan
    # thread, so a raw sf0.1→sf1 delta measures the layout change, not
    # data scale (measured: Spark's absolute time DROPS on 10× rows).
    # The sf0.1 layout effect itself is reported as layout_effect_sf01.
    # Skippable: SPARK_GRAFT_SF1=0.
    marginal_sf1: dict[str, float | None] = {}
    layout_effect: dict[str, dict[str, float]] = {}
    q3_plan_choice: dict[str, float | str] = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and sf == "0.1":
        from tools.make_sf1 import ensure_rechunked, ensure_sf1

        sf1_dir = ensure_sf1()
        lo_dir = ensure_rechunked()
        if sf1_dir and lo_dir:
            lo_spark = time_spark(spark, queries, lo_dir, SF1_QUERIES)
            lo_duck = time_duckdb(oracles, lo_dir, SF1_QUERIES)
            sf1_spark = time_spark(spark, queries, sf1_dir, SF1_QUERIES)
            sf1_duck = time_duckdb(oracles, sf1_dir, SF1_QUERIES)
            per_sf["0.1r"] = {"spark": lo_spark, "duckdb": lo_duck}
            per_sf["1"] = {"spark": sf1_spark, "duckdb": sf1_duck}
            layout_effect = {
                n: {
                    "spark_1group": spark_times.get(n),
                    "spark_10group": lo_spark.get(n),
                    "duckdb_1group": duck_times.get(n),
                    "duckdb_10group": lo_duck.get(n),
                }
                for n in SF1_QUERIES
            }
            for n in SF1_QUERIES:
                if n not in sf1_duck or n not in lo_duck:
                    continue
                ds = sf1_spark[n] - lo_spark[n]
                dd = sf1_duck[n] - lo_duck[n]
                # 0.02 s floor: the r4-set noise band for marginal
                # denominators (sub-noise deltas print as fake ratios)
                marginal_sf1[n] = round(ds / dd, 2) if dd > 0.02 else None
            # q3 is 'weak' by the sf1 marginal letter because its scaling
            # term is the driver-side broadcast build of the filtered
            # orders dim. The plan is kept deliberately: the measured
            # alternative (forcing the shuffle path by disabling both
            # broadcast thresholds) is SLOWER at sf1, and broadcast is
            # the 100 TB shape (ship ~25 MB once per JVM, overlapped
            # with scan I/O, vs re-shuffling the fact table). Pin the
            # measurement into the artifact so the weak flag carries its
            # machine-readable justification (VERDICT r05 #6).
            q3 = "tpch_q3_shipping_priority"
            if q3 in sf1_spark:
                confs = (
                    "spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.adaptive.autoBroadcastJoinThreshold",
                )
                prior = {c: spark.conf.get(c, None) for c in confs}
                for c in confs:
                    spark.conf.set(c, "-1")
                try:
                    alt = time_spark(spark, queries, sf1_dir, [q3])[q3]
                finally:
                    for c, v in prior.items():
                        if v is None:
                            spark.conf.unset(c)
                        else:
                            spark.conf.set(c, v)
                q3_plan_choice = {
                    "q3_broadcast_plan_sec": sf1_spark[q3],
                    "q3_alternative_plan_sec": alt,
                    "note": "sf1, shuffled-join alternative forced by "
                    "autoBroadcastJoinThreshold=-1 (plan kept: broadcast)",
                }

    # LLM-pipeline heavies (VERDICT r06 #3): wall-clock + marginal on
    # the same matched-layout endpoints, DuckDB twins included. Kept in
    # a separate block so the 14-query headline total stays comparable
    # across rounds. Skippable: SPARK_GRAFT_LLM=0.
    llm_block: dict = {}
    if (
        os.environ.get("SPARK_GRAFT_LLM", "1") != "0"
        and sf == "0.1"
        and marginal_sf1  # sf1/lo dirs built successfully above
    ):
        llm_lo_spark = time_spark(spark, queries, lo_dir, LLM_HEADLINE)
        llm_lo_duck = time_duckdb(oracles, lo_dir, LLM_HEADLINE)
        llm_sf1_spark = time_spark(spark, queries, sf1_dir, LLM_HEADLINE)
        llm_sf1_duck = time_duckdb(oracles, sf1_dir, LLM_HEADLINE)
        llm_block = {
            "queries": LLM_HEADLINE,
            "sf0.1r": {"spark": llm_lo_spark, "duckdb": llm_lo_duck},
            "sf1": {"spark": llm_sf1_spark, "duckdb": llm_sf1_duck},
            "marginal_ratio_sf1": {
                n: (
                    round(
                        (llm_sf1_spark[n] - llm_lo_spark[n])
                        / (llm_sf1_duck[n] - llm_lo_duck[n]),
                        2,
                    )
                    if llm_sf1_duck.get(n, 0) - llm_lo_duck.get(n, 0) > 0.001
                    else None
                )
                for n in LLM_HEADLINE
                if n in llm_sf1_duck and n in llm_lo_duck
            },
        }
        # Plan A/B artifacts (VERDICT r07 #1/#3): the kept r8 plans vs
        # their r7 predecessors, measured on the same sf1 endpoint in
        # the same session — the weak-marginal justification machinery.
        llm_block["crossdoc_plan_choice"] = {
            "kept_sortfree_hashagg_sec": llm_sf1_spark.get("text_crossdoc_substring"),
            "r8_window_sort_sec": time_one_df(
                spark, _crossdoc_legacy_plan(spark, sf1_dir), runs=3
            ),
            "note": "sf1; kept r10 plan = arithmetic n_windows + unshared "
            "subtraction over one hash agg (map-side partial, no sort, no "
            "window); alternative = the r8 min/max-window plan it replaced "
            "(SCALE.md §Round-10 has the sf1/sf10 A/B: marginal "
            "2.05 -> 0.54/0.29)",
        }
        llm_block["covariance_plan_choice"] = {
            "kept_mapinarrow_adaptive_dgemm_sec": llm_sf1_spark.get(
                "embed_covariance_matrix"
            ),
            "int64_matmul_mapinpandas_sec": time_one_df(
                spark, _covariance_int64_matmul_plan(spark, sf1_dir), runs=3
            ),
            "note": "sf1; kept kernel = mapInArrow (flat int64 buffers, "
            "no pandas objects) + one exact float64 dgemm when "
            "rows*qmax^2 < 2^53 (split-GEMM fallback above); alternative "
            "= pandas-object transport + numpy int64 matmul (no BLAS "
            "path). Residual vs DuckDB is the Python/Arrow boundary "
            "constant, not per-row work (operators/stats_tests.py)",
        }
        llm_block["sim_kernel_plan_choice"] = {
            "kept_mapinpandas_bcast_sec": llm_sf1_spark.get("sim_search_arrow_kernel"),
            "r7_blk_join_fanout_sec": time_one_df(
                spark, _sim_kernel_legacy_plan(spark, sf1_dir), runs=3
            ),
            "note": "sf1; kept kernel streams candidates once through "
            "mapInPandas with the probe matrix on a broadcast variable "
            "(zero candidate shuffle); the r7 blk-join shipped every "
            "candidate once per probe (cogroup middle ground measured "
            "at 0.45 s during the r8 A/B, see similarity.py docstring)",
        }

    # Third decade, sf1 -> sf10 (VERDICT r06 #4): settles the two
    # queries whose sf1 DuckDB denominators sat below the noise floor.
    # Rows-per-row-group is constant across sf1/sf10 (tools/make_sf1.py
    # ensure_scaled), so the decade varies task COUNT, not task size —
    # the real scale-up shape. Skippable: SPARK_GRAFT_SF10=0.
    marginal_sf10: dict[str, float | None] = {}
    sf10_block: dict = {}
    if (
        os.environ.get("SPARK_GRAFT_SF10", "1") != "0"
        and sf == "0.1"
        and marginal_sf1
    ):
        from tools.make_sf1 import ensure_sf10

        sf10_dir = ensure_sf10()
        if sf10_dir:
            s10_spark = time_spark(spark, queries, sf10_dir, SF10_QUERIES)
            s10_duck = time_duckdb(oracles, sf10_dir, SF10_QUERIES)
            s1_spark = {n: per_sf["1"]["spark"][n] for n in SF10_QUERIES}
            s1_duck = {n: per_sf["1"]["duckdb"][n] for n in SF10_QUERIES}
            # Denominator floor = max(0.02, 3x the measured job-floor
            # probe) (VERDICT r10 #5): the 0.02 s r4 band was too low —
            # r10 printed stream_tumbling at "4.66" off a 0.07 s DuckDB
            # delta that swung 2.85/4.66/7.09 across runs (Spark's
            # absolute time was FLAT across the decade, i.e. the cell
            # was all denominator noise). The floor probe is this
            # host's per-run noise scale, so a trustworthy marginal
            # needs the denominator comfortably above it; anything
            # below nulls WITH a machine-readable reason instead of
            # printing a number that needs prose.
            dd_floor = max(0.02, 3.0 * job_floor)
            marginal_sf10_null_reason: dict[str, str] = {}
            for n in SF10_QUERIES:
                ds = s10_spark[n] - s1_spark[n]
                dd = s10_duck[n] - s1_duck[n]
                if dd > dd_floor:
                    marginal_sf10[n] = round(ds / dd, 2)
                else:
                    marginal_sf10[n] = None
                    marginal_sf10_null_reason[n] = (
                        f"duckdb sf10-sf1 delta {round(dd, 3)}s below the "
                        f"{round(dd_floor, 3)}s noise floor (3x job-floor "
                        f"probe {round(job_floor, 3)}s); spark delta "
                        f"{round(ds, 3)}s — ratio would be denominator "
                        "noise, not signal"
                    )
            # Plan A/B at sf10 for the star joins (same protocol as the
            # sf1 q3 one): pin WHICH plan ran and what the alternatives
            # cost — a weak marginal must carry its justification.
            sf10_ab: dict[str, dict] = {}
            confs = (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
            )

            def _with_confs(value, fn):
                prior = {c: spark.conf.get(c, None) for c in confs}
                for c in confs:
                    spark.conf.set(c, value)
                try:
                    return fn()
                finally:
                    for c, v in prior.items():
                        if v is None:
                            spark.conf.unset(c)
                        else:
                            spark.conf.set(c, v)

            for qn in ("tpch_q3_shipping_priority", "tpch_q5_local_supplier"):
                if qn not in s10_spark:
                    continue
                alts = {
                    label: _with_confs(
                        value, lambda: time_spark(spark, queries, sf10_dir, [qn], runs=3)[qn]
                    )
                    for label, value in (
                        ("auto_threshold_-1", "-1"),
                        ("forced_broadcast_512m", "512m"),
                    )
                }
                # SHJ leg: skip the SMJ sort on the post-broadcast fact
                # rows (measured ~8-10% at sf10). Recorded as an A/B, not
                # flipped as the engine default: SHJ's per-partition
                # build must fit executor memory, and SMJ is the shape
                # that degrades gracefully when a 100 TB partition
                # doesn't — the artifact shows what the lever buys.
                spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
                try:
                    alts["prefer_shj"] = time_spark(
                        spark, queries, sf10_dir, [qn], runs=3
                    )[qn]
                finally:
                    spark.conf.unset("spark.sql.join.preferSortMergeJoin")
                sf10_ab[qn] = {
                    "default_plan_sec": s10_spark[qn],
                    **{f"{k}_sec": v for k, v in alts.items()},
                    "note": "sf10: default (incl. stats-routed hints) vs "
                    "forced alternatives. auto_threshold_-1 disables only "
                    "SIZE-based broadcasts — explicit hints survive it",
                }
            # q5-only legs (ADVICE r07): isolate the stats-routed orders
            # hint itself — an explicit F.broadcast ignores the threshold
            # confs, so the leg above never removed it. The env flag does.
            q5 = "tpch_q5_local_supplier"
            if q5 in s10_spark:
                # r11 transitive nation shrink (operators/tpch.py
                # _region_nation_keys): the leg isolates the IN-list
                # pre-filter + stats-gated broadcast of the ASIA
                # customer/supplier slices, the same way no_orders_hint
                # isolates the orders routing below.
                os.environ["SPARK_GRAFT_Q5_NATION_SHRINK"] = "0"
                try:
                    sf10_ab[q5]["no_nation_shrink_sec"] = time_spark(
                        spark, queries, sf10_dir, [q5], runs=3
                    )[q5]
                finally:
                    os.environ.pop("SPARK_GRAFT_Q5_NATION_SHRINK", None)
                os.environ["SPARK_GRAFT_Q5_ORDERS_HINT"] = "0"
                try:
                    sf10_ab[q5]["no_orders_hint_sec"] = time_spark(
                        spark, queries, sf10_dir, [q5], runs=3
                    )[q5]
                    sf10_ab[q5]["no_broadcast_at_all_sec"] = _with_confs(
                        "-1",
                        lambda: time_spark(spark, queries, sf10_dir, [q5], runs=3)[q5],
                    )
                    # Layout lever (VERDICT r07 #7): lineitem+orders
                    # bucketed/sorted on orderkey (32 buckets both sides)
                    # deletes the fact-side exchange AND the SMJ sort from
                    # the l-o join — the alternative to broadcasting the
                    # filtered orders dim at all.
                    from cloudtrail_streamer_spark.catalog import table as _tbl
                    from cloudtrail_streamer_spark.operators.tpch import _q5_plan
                    from tools.make_sf1 import ensure_bucketed_sf10

                    bt = ensure_bucketed_sf10(spark, sf10_dir)
                    if bt:
                        bdf = _q5_plan(
                            spark,
                            sf10_dir,
                            spark.table(bt[0]),
                            spark.table(bt[1]),
                            _tbl(spark, sf10_dir, "customer"),
                        )
                        sf10_ab[q5]["bucketed_colocated_no_hint_sec"] = time_one_df(
                            spark, bdf, runs=3
                        )
                finally:
                    os.environ.pop("SPARK_GRAFT_Q5_ORDERS_HINT", None)
                sf10_ab[q5]["note"] += (
                    "; no_nation_shrink disables ONLY the r11 transitive "
                    "ASIA IN-list pre-filter of customer/supplier; "
                    "no_orders_hint disables ONLY the stats-routed "
                    "orders broadcast; bucketed_colocated reads l+o from "
                    "32-bucket orderkey-sorted tables with the hint off"
                )
            sf10_block = {
                "sf10": {"spark": s10_spark, "duckdb": s10_duck},
                "marginal_ratio_sf10": marginal_sf10,
                "marginal_null_reason_sf10": marginal_sf10_null_reason,
                "plan_choice_sf10": sf10_ab,
            }
            # LLM third decade (VERDICT r07 #1 for crossdoc; r8 also for
            # the pretrain funnel, whose sf1 "marginal" is a denominator
            # artifact — DuckDB's sf0.1r→sf1 delta is 40-60 ms against a
            # 3-stage Spark plan, so only the sf10 decade carries
            # signal). runs=2 keeps the ~30 s/run crossdoc pair
            # affordable; marginals use the llm block's sf1 endpoints
            # (same session, same layout rules).
            for xq, key in (
                ("text_crossdoc_substring", "crossdoc_sf10"),
                ("pipeline_pretrain_e2e", "pretrain_sf10"),
                ("embed_covariance_matrix", "covariance_sf10"),
            ):
                if not (llm_block and xq in llm_block.get("sf1", {}).get("spark", {})):
                    continue
                x10_s = time_spark(spark, queries, sf10_dir, [xq], runs=2)[xq]
                x10_d = time_duckdb(oracles, sf10_dir, [xq], runs=2).get(xq)
                x1_s = llm_block["sf1"]["spark"][xq]
                x1_d = llm_block["sf1"]["duckdb"].get(xq)
                xdd = (
                    x10_d - x1_d
                    if x10_d is not None and x1_d is not None
                    else None
                )
                sf10_block[key] = {
                    "spark_sec": x10_s,
                    "duckdb_sec": x10_d,
                    "marginal_ratio_sf10": (
                        round((x10_s - x1_s) / xdd, 2)
                        if xdd is not None and xdd > dd_floor
                        else None
                    ),
                }
                if xdd is not None and xdd <= dd_floor:
                    sf10_block[key]["marginal_null_reason"] = (
                        f"duckdb sf10-sf1 delta {round(xdd, 3)}s below the "
                        f"{round(dd_floor, 3)}s noise floor (3x job-floor "
                        f"probe); spark delta {round(x10_s - x1_s, 3)}s"
                    )

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
        "q3_plan_choice": q3_plan_choice,
        "llm_headline": llm_block,
        "sf10": sf10_block,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        detail_path = None

    # The external driver captures only the LAST 2000 bytes of stdout and
    # parses the final line (observed: BENCH_r01/r02 both recorded
    # "parsed": null because the full-detail line above exceeded that
    # window). Keep the final line compact (< ~1 KB) and put the scaling
    # curves / marginal ratios in BENCH_DETAIL.json instead.
    compact = {
        "metric": "headline_queries_wall_clock",
        "value": detail["value"],
        "unit": "sec",
        "queries": spark_times,
        "sf": float(sf),
        "duckdb_total_sec": round(sum(duck_times.values()), 3),
        "spark_job_floor_sec": round(job_floor, 3),
        # headline cells whose per-cell floor probe ran >=3x the session
        # minimum — i.e. a host-load burst landed on them; read their
        # seconds with that in mind (detail has floor_at_measure)
        "load_suspect": load_suspect,
        # multi-query sharing (VERDICT r03 #4): all 14 queries in flight
        # at once on BOTH engines, wall-clock to last finish — the
        # sequential sums above are ~90% per-action floor at sf0.1
        "batched_wall_clock_sec": spark_batched,
        "duckdb_batched_wall_clock_sec": duck_batched,
        "batched_ratio": (
            round(spark_batched / duck_batched, 2) if duck_batched else None
        ),
        # sf0.1 → sf1 marginal per-row ratio, all 14 headline queries
        # (two-decade fit, deltas in seconds — the 100 TB signal)
        "marginal_sf1": marginal_sf1,
        # sf1 → sf10 third decade for the two noise-floor stragglers
        "marginal_sf10": marginal_sf10,
        "detail": detail_path,
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # hard guard: never exceed the driver's tail window
        compact.pop("queries", None)
        line = json.dumps(compact)
    if len(line) > 1900:
        compact.pop("marginal_sf1", None)
        line = json.dumps(compact)
    sys.stdout.flush()
    print(line)




def scaling_mode() -> None:
    """``bench.py --scaling``: strong-scaling curve on local[1]/[8]/[32].

    The headline queries at sf0.1 are ~90% per-action scheduling floor
    (see --floor), so they cannot show parallel speedup — instead this
    times the same OPERATOR SHAPES on replicated input big enough to be
    compute-bound (lineitem ×16 ≈ 10M rows for the Q1 hash-agg shape;
    documents ×8 for the tokenize+count shape; a 100-probe brute-force
    cosine scan for the similarity shape). One fresh JVM per core
    count, warm + min-of-3 inside each. Prints one JSON line with the
    1→32-core speedup per shape — the local-mode audit that the plans
    are data-parallel, which is what transfers to executors at 100 TB.
    """
    import subprocess

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    results: dict[str, dict[str, float]] = {}
    for cores in (1, 8, 32):
        code = f"""
import json, sys, time, functools
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
spark = (SparkSession.builder.master("local[{cores}]")
         .config("spark.sql.shuffle.partitions", "{max(cores, 4)}")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
sf = {sf_dir!r}
li = spark.read.parquet(sf + "/lineitem.parquet")
li16 = functools.reduce(lambda a, b: a.unionAll(b), [li] * 16)
docs = spark.read.parquet(sf + "/documents.parquet")
docs8 = functools.reduce(lambda a, b: a.unionAll(b), [docs] * 8)
em = spark.read.parquet(sf + "/embeddings.parquet")
cents = lambda c: (F.col(c) * 100 + 0.5).cast("long")
import numpy as _np, pyarrow as _pa
from cloudtrail_streamer_spark.operators.stats_tests import exact_int_gram as _eig
_iu = _np.triu_indices(64)
_schema = _pa.schema([(c, _pa.int64()) for c in ("i", "j", "n", "s_i", "s_j", "s_ij")])
def _gram_map(batches):
    for rb in batches:
        if rb.num_rows == 0:
            continue
        x = rb.column(0).flatten().to_numpy(zero_copy_only=False).reshape(rb.num_rows, 64)
        g = _eig(x)
        s = x.sum(axis=0)
        yield _pa.RecordBatch.from_arrays(
            [_pa.array(_iu[0].astype(_np.int64)), _pa.array(_iu[1].astype(_np.int64)),
             _pa.array(_np.full(len(_iu[0]), rb.num_rows, dtype=_np.int64)),
             _pa.array(s[_iu[0]]), _pa.array(s[_iu[1]]), _pa.array(g[_iu])],
            schema=_schema)
# 32 replicas -> 32 scan splits: parallelism follows the input (the real
# op's shape — no forced repartition; a 256 MB exchange of the scaled
# arrays measured ~2x slower than scan-aligned kernels at 32 cores)
em32q = functools.reduce(lambda a, b: a.unionAll(b), [em] * 32).select(
    F.transform("embedding",
        lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long")).alias("qe"))
shapes = {{
  "q1_hash_agg_10m": lambda: li16.groupBy("l_returnflag", "l_linestatus").agg(
      F.sum(cents("l_extendedprice")).alias("s"),
      F.sum(F.col("l_quantity").cast("long")).alias("q"),
      F.count(F.lit(1)).alias("n")),
  "tokenize_count_4m": lambda: docs8.select(
      F.explode(F.split(F.lower("text"), " ")).alias("t"))
      .groupBy("t").agg(F.count(F.lit(1)).alias("n")),
  "cosine_scan_200k_pairs": lambda: em.repartition({max(cores, 4)}).alias("a").crossJoin(
      F.broadcast(em.where(F.col("vec_id") < 100)).alias("b")).select(
      F.aggregate(F.zip_with(F.col("a.embedding"), F.col("b.embedding"),
                             lambda x, y: x.cast("double") * y.cast("double")),
                  F.lit(0.0), lambda acc, v: acc + v).alias("dot"))
      .agg(F.sum("dot").alias("s")),
  "crossdoc_windows_2m": lambda: docs8.repartition({max(cores, 4)})
      .withColumn("arr", F.split(F.lower("text"), " "))
      .withColumn("ha", F.transform("arr", lambda t: F.xxhash64(t)))
      .select("doc_id", F.explode(F.transform(
          F.sequence(F.lit(0), F.greatest(F.size("ha") - 8, F.lit(0))),
          lambda i: F.xxhash64(*[F.get("ha", i + j) for j in range(8)]))).alias("w"))
      .select("doc_id", (F.min("doc_id").over(W.partitionBy("w"))
                         != F.max("doc_id").over(W.partitionBy("w"))).cast("long").alias("sh"))
      .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), F.sum("sh").alias("s"))
      .agg(F.sum("n").alias("tn"), F.sum("s").alias("ts")),
  "covariance_gram_1m6": lambda: em32q.mapInArrow(
      _gram_map, "i long, j long, n long, s_i long, s_j long, s_ij long")
      .groupBy("i", "j").agg(F.sum("s_ij").alias("g")),
}}
out = {{}}
for name, mk in shapes.items():
    df = mk()
    df.write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    out[name] = round(best, 3)
print("SCALING_JSON:" + json.dumps(out))
"""
        proc = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
        )
        for ln in proc.stdout.splitlines():
            if ln.startswith("SCALING_JSON:"):
                results[str(cores)] = json.loads(ln[len("SCALING_JSON:"):])
    speedup = {
        q: round(results["1"][q] / results["32"][q], 2)
        for q in results.get("1", {})
        if results.get("32", {}).get(q)
    }
    print(
        json.dumps(
            {
                "metric": "strong_scaling",
                "sf": float(_sf_of(sf_dir)),
                "cores": results,
                "speedup_1_to_32": speedup,
            }
        )
    )

if __name__ == "__main__":
    if "--floor" in sys.argv:
        floor_mode()
    elif "--scaling" in sys.argv:
        scaling_mode()
    else:
        main()
