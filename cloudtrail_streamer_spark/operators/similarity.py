"""Similarity-search operators over ``embeddings``
(SURVEY.md §2.B B-57, B-58, B-64 + north-star ANN variants).

Brute-force is the correctness baseline (B-57): broadcast the probe set,
score every (probe, vector) pair with codegen'd higher-order functions,
per-probe top-k via window. At 100 TB the scale path is bucketed search
(sim_search_ivf): a cheap coarse quantizer keys both sides so each probe
scores only its bucket — same top-k machinery, 1/|buckets| of the pairs.

Determinism (§5.3): ranking uses ROUND(score, 4) + vec_id tiebreak in
BOTH engines, so an engine-side ulp difference in the raw double can
never reorder the result. The cosine formula (dot/(|a|·|b|), double,
left-to-right fold) is written out identically in the oracle SQL rather
than relying on DuckDB's list_cosine_similarity internals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import scratch_dir, table
from cloudtrail_streamer_spark.functions.vector import as_double, cosine, dot, l2_norm
from cloudtrail_streamer_spark.registry import query

# Oracle-side building blocks (DuckDB), mirroring functions/vector.py.
_D_DOT_AB = "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
_D_NORM_A = "sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
_D_NORM_B = "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))"
_D_COS = f"round({_D_DOT_AB} / ({_D_NORM_A} * {_D_NORM_B}), 4)"

_TOPK_ORACLE = f"""
SELECT probe_id, neighbor_id, score, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         {_D_COS} AS score,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY {_D_COS} DESC, b.vec_id) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id <= 9
) t
WHERE rn <= 5
"""


# Measured crossover for the brute-force top-k physical strategy
# (local[32], min-of-5 warm): codegen SQL wins below ~10-20k candidate
# vectors (2k: 0.40 s SQL vs 0.50 s kernel; 5k: 0.68 vs 1.05 — the
# Python/Arrow boundary constant dominates), the BLAS block kernel wins
# above (64k: 2.59 vs 4.89 and the gap grows linearly — per-element cost
# ~100x lower once blocks amortize the boundary).
_KERNEL_CROSSOVER_ROWS = 16384


@query("sim_search_topk", oracle=_TOPK_ORACLE, survey_id="B-57")
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 probe vectors, with COST-BASED
    kernel routing (VERDICT r03 #5 + #8): the physical strategy is
    chosen from O(1) catalog metadata (stats.row_count, a parquet-footer
    read — what a metastore serves at 100 TB), never by scanning twice.
    Below _KERNEL_CROSSOVER_ROWS candidates the whole-stage-codegen SQL
    plan wins (broadcast probes, JVM-side F.aggregate dot products);
    above it the Arrow BLAS block kernel (sim_search_arrow_kernel's
    plan) is linearly faster. Both paths compute float64 cosines rounded
    to 4 dp with the same (score desc, neighbor_id) total order, so the
    routing is invisible to the hash check — same oracle either way."""
    from cloudtrail_streamer_spark.stats import row_count

    n = row_count(sf_dir, "embeddings")
    if n >= _KERNEL_CROSSOVER_ROWS:
        return _topk_arrow_kernel(spark, sf_dir)
    return _topk_sql(spark, sf_dir)


def _topk_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative twin: pure codegen SQL brute-force top-5."""
    em = table(spark, sf_dir, "embeddings")
    # Precompute each side's L2 norm ONCE (N + Q folds) instead of per
    # pair (3·N·Q folds) — the oracle's algebra is identical, only
    # factored, so the doubles match.
    probes = em.where(F.col("vec_id") <= 9).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_emb"),
        l2_norm(as_double(F.col("embedding"))).alias("probe_norm"),
    )
    cand = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cand_emb"),
        l2_norm(as_double(F.col("embedding"))).alias("cand_norm"),
    )
    score = F.round(
        dot(as_double(F.col("probe_emb")), as_double(F.col("cand_emb")))
        / (F.col("probe_norm") * F.col("cand_norm")),
        4,
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        cand.join(F.broadcast(probes), F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("probe_id", "neighbor_id", "score", "rn")
    )


_KNN_ORACLE = f"""
WITH topk AS (
  SELECT probe_id, neighbor_id, rn FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY {_D_COS} DESC, b.vec_id) AS rn
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id <= 9
  ) t WHERE rn <= 5
), votes AS (
  SELECT probe_id, e.label, COUNT(*) AS n_votes
  FROM topk JOIN embeddings e ON e.vec_id = topk.neighbor_id
  GROUP BY probe_id, e.label
)
SELECT probe_id, CAST(label AS BIGINT) AS pred_label, n_votes
FROM (
  SELECT probe_id, label, n_votes,
         row_number() OVER (PARTITION BY probe_id ORDER BY n_votes DESC, label) AS vr
  FROM votes
) v
WHERE vr = 1
"""


@query("sim_knn_classify", oracle=_KNN_ORACLE, survey_id="B-58")
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority vote over B-57's top-5 (tie → smallest label)."""
    em = table(spark, sf_dir, "embeddings")
    topk = sim_search_topk(spark, sf_dir)
    labels = em.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        topk.join(F.broadcast(labels), "neighbor_id")
        .groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("n_votes").desc(), "label")
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .where(F.col("vr") == 1)
        .select("probe_id", F.col("label").cast("long").alias("pred_label"), "n_votes")
    )


_NORMALIZE_ORACLE = """
SELECT
  vec_id,
  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4)
    AS l2_norm,
  round(CAST(embedding[1] AS DOUBLE)
        / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4)
    AS unit_first,
  round(CAST(embedding[64] AS DOUBLE)
        / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4)
    AS unit_last
FROM embeddings
"""


@query("embed_normalize", oracle=_NORMALIZE_ORACLE, survey_id="B-64")
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization via transform(e, x -> x/|e|); emitted as scalars
    (norm + first/last unit components) for cross-engine value compare."""
    em = table(spark, sf_dir, "embeddings")
    ed = as_double(F.col("embedding"))
    norm = l2_norm(ed)
    unit = F.transform(ed, lambda x: x / norm)
    return em.select(
        "vec_id",
        F.round(norm, 4).alias("l2_norm"),
        F.round(F.element_at(unit, 1), 4).alias("unit_first"),
        F.round(F.element_at(unit, 64), 4).alias("unit_last"),
    )


_BUCKET_SQL = """(
  CASE WHEN {e}[1] > 0 THEN 8 ELSE 0 END +
  CASE WHEN {e}[2] > 0 THEN 4 ELSE 0 END +
  CASE WHEN {e}[3] > 0 THEN 2 ELSE 0 END +
  CASE WHEN {e}[4] > 0 THEN 1 ELSE 0 END)"""

_IVF_ORACLE = f"""
SELECT probe_id, neighbor_id, score, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         {_D_COS} AS score,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY {_D_COS} DESC, b.vec_id) AS rn
  FROM embeddings a
  CROSS JOIN (VALUES (0), (8), (4), (2), (1)) AS probe_offsets(m)
  JOIN embeddings b
    ON xor({_BUCKET_SQL.format(e="a.embedding")}, m)
       = {_BUCKET_SQL.format(e="b.embedding")}
   AND a.vec_id <> b.vec_id
  WHERE a.vec_id <= 9
) t
WHERE rn <= 5
"""


def _bucket(col_name: str):
    e = F.col(col_name)
    b = F.lit(0)
    for i, weight in enumerate((8, 4, 2, 1)):
        b = b + F.when(F.element_at(e, i + 1) > 0, weight).otherwise(0)
    return b


@query("sim_search_ivf", oracle=_IVF_ORACLE, survey_id="north-star")
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (IVF-style) ANN with multi-probe: sign-bit coarse
    quantizer over the first 4 dims → 16 buckets; each probe scores its
    own bucket plus the 4 Hamming-1 neighbors (nprobe=5).

    This is the 100 TB shape: the bucket key turns the O(N·Q) cross
    product into an equi-join — shuffle-partitioned by bucket, each task
    scoring 5/16 of the space. Recall vs brute force asserted in
    tests/test_engine.py.
    """
    em = table(spark, sf_dir, "embeddings")
    probes = (
        em.where(F.col("vec_id") <= 9)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_emb"),
            _bucket("embedding").alias("own_bucket"),
        )
        .select(
            "probe_id",
            "probe_emb",
            F.explode(
                F.array(*[F.expr(f"own_bucket ^ {m}") for m in (0, 8, 4, 2, 1)])
            ).alias("bucket"),
        )
    )
    cand = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cand_emb"),
        _bucket("embedding").alias("bucket"),
    )
    score = F.round(cosine(as_double(F.col("probe_emb")), as_double(F.col("cand_emb"))), 4)
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        cand.join(F.broadcast(probes), "bucket")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("probe_id", "neighbor_id", "score", "rn")
    )


_IVF_RECALL_ORACLE = f"""
WITH truth AS ({_TOPK_ORACLE}), ivf AS ({_IVF_ORACLE})
SELECT CAST(COUNT(DISTINCT truth.probe_id) AS BIGINT) AS n_probes,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS n_caught,
       round(COUNT(ivf.neighbor_id) * 1.0 / COUNT(*), 4) AS recall
FROM truth LEFT JOIN ivf
  ON truth.probe_id = ivf.probe_id AND truth.neighbor_id = ivf.neighbor_id
"""


@query("sim_ivf_recall", oracle=_IVF_RECALL_ORACLE, survey_id="north-star")
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality certificate, driver-visible (VERDICT r02 next-#8, the
    dedup_minhash_recall pattern applied to vector search): one row
    (n_probes, n_truth, n_caught, recall) scoring sim_search_ivf's
    bucketed top-5 against sim_search_topk's exact brute-force truth.
    H-tier — BOTH sides are deterministic SQL, so DuckDB recomputes the
    whole certificate (truth, candidate set, and the overlap) and the
    recall number itself is hash-checked, not just asserted in tests."""
    truth = sim_search_topk(spark, sf_dir).select("probe_id", "neighbor_id")
    ivf = sim_search_ivf(spark, sf_dir).select(
        "probe_id", "neighbor_id", F.lit(1).alias("caught")
    )
    j = truth.join(ivf, ["probe_id", "neighbor_id"], "left")
    n_caught = F.sum(F.coalesce("caught", F.lit(0)))
    return j.agg(
        F.count_distinct("probe_id").cast("long").alias("n_probes"),
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        n_caught.cast("long").alias("n_caught"),
        F.round(n_caught / F.count(F.lit(1)), 4).alias("recall"),
    )


_NEARDUP_ORACLE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_D_COS} AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id <= 99 AND {_D_COS} >= 0.95
"""


@query("embed_neardup_cosine", oracle=_NEARDUP_ORACLE, survey_id="north-star")
def embed_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.95) for a probe
    slice. At 100 TB this composes with sim_search_ivf's bucketing (score
    within-bucket only) — kept brute-force here for the exact oracle.

    r11 plan: the norms are PER-VECTOR, not per-pair — each side now
    carries its pre-cast double array and its precomputed L2 norm below
    the join, so each candidate pair pays ONE zip_with dot instead of
    three (dot + both norms re-derived per pair); and the score is
    let-bound behind an explode(array(...)) barrier so the ≥0.95 filter
    doesn't re-evaluate the cosine a second time (CollapseProject +
    pushdown otherwise duplicate it into the Filter). Same IEEE
    expression dot/(|a|·|b|) in the same order — results identical."""
    em = table(spark, sf_dir, "embeddings")
    a = em.where(F.col("vec_id") <= 99).select(
        F.col("vec_id").alias("id_a"),
        as_double(F.col("embedding")).alias("ea"),
        l2_norm(as_double(F.col("embedding"))).alias("na"),
    )
    b = em.select(
        F.col("vec_id").alias("id_b"),
        as_double(F.col("embedding")).alias("eb"),
        l2_norm(as_double(F.col("embedding"))).alias("nb"),
    )
    score = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4)
    return (
        b.join(F.broadcast(a), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.explode(F.array(score)).alias("score")
        )
        .where(F.col("score") >= 0.95)
        .select("id_a", "id_b", "score")
    )


_QUANT_ORACLE = """
WITH rng AS (
  SELECT vec_id,
         list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS mn,
         list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS mx,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
)
SELECT vec_id, mn, mx,
       array_to_string(
         list_transform(e, x -> CAST(CASE WHEN mx = mn THEN 0
           ELSE least(255, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT))
           END AS VARCHAR)), ',') AS codes
FROM rng
"""


@query("embed_quantize_int8", oracle=_QUANT_ORACLE, survey_id="north-star")
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-vector min/max) int8 quantization of embeddings — the
    storage/bandwidth lever for 100 TB ANN: 4-byte floats become 1-byte
    codes plus two floats, cutting shuffle and index size ~4×.

    Row-local higher-order functions, zero shuffle. floor() (not round)
    so Spark and DuckDB agree bit-for-bit — round() ties break
    differently across engines; floor of the same IEEE double does not.

    ``codes`` is emitted as a comma-joined string (not a raw ARRAY): the
    external driver's canonicalizer sorts/hashes scalar cells and cannot
    factorize numpy arrays (VERDICT r02 "what's wrong #1"); the array
    form round-trips losslessly via split(codes, ',').

    r11 let-binding (same fix as dedup._shingles): referencing
    array_min/array_max of the cast array INSIDE the per-element lambda
    re-evaluated both — and the cast itself — once per element (HOF
    lambda bodies get no cross-element CSE): O(d²) casts per row. The
    cast array and its min/max are now bound once per row via the
    transform(array(...), e -> …) idiom and the three output fields are
    extracted through an explode(array(struct)) projection barrier, so
    the optimized plan carries exactly one cast/min/max site."""
    em = table(spark, sf_dir, "embeddings")
    s = F.explode(
        F.array(
            F.expr(
                """
                transform(array(transform(embedding, x -> CAST(x AS DOUBLE))), e ->
                  transform(array(named_struct('mn', array_min(e), 'mx', array_max(e))), r ->
                    named_struct(
                      'mn', r.mn,
                      'mx', r.mx,
                      'codes', array_join(transform(e, x ->
                        CAST(CASE WHEN r.mx = r.mn THEN 0L
                             ELSE least(255L, CAST(floor((x - r.mn) * 255.0
                                                         / (r.mx - r.mn)) AS LONG))
                             END AS STRING)), ',')))[0])[0]
                """
            )
        )
    )
    return em.select("vec_id", s.alias("s")).select(
        "vec_id",
        F.col("s.mn").alias("mn"),
        F.col("s.mx").alias("mx"),
        F.col("s.codes").alias("codes"),
    )


_IVF_ASSIGN_ORACLE = """
WITH c AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM embeddings WHERE vec_id < 16
),
v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
d AS (
  SELECT v.vec_id, c.centroid_id,
         list_aggregate(
           list_transform(v.e, (x, i) -> (x - c.ce[i]) * (x - c.ce[i])),
           'sum') AS dist2
  FROM v CROSS JOIN c
)
SELECT vec_id, centroid_id, round(dist2, 4) AS dist2
FROM (
  SELECT vec_id, centroid_id, dist2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(dist2, 6), centroid_id) AS rn
  FROM d
) t
WHERE rn = 1
"""


@query("embed_ivf_assign", oracle=_IVF_ASSIGN_ORACLE, survey_id="north-star")
def embed_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ASSIGNMENT step (the Lloyd's-iteration kernel
    the sign-bit quantizer in sim_search_ivf upgrades to when trained):
    every vector gets its nearest of 16 fixed centroids (vec_id < 16) by
    exact L2 — a broadcast of k centroids against N vectors, so the big
    side never shuffles and the cost is O(N·k·dim) JVM fold work. At
    100 TB, iterate: re-aggregate centroids per cell, reassign — each
    iteration is this same broadcast join + one keyed agg.

    Ranking uses round(dist2, 6) + centroid tiebreak so engine ulp noise
    cannot flip near-equal cells (SURVEY §5.3)."""
    em = table(spark, sf_dir, "embeddings")
    cent = em.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        as_double(F.col("embedding")).alias("ce"),
    )
    v = em.select("vec_id", as_double(F.col("embedding")).alias("e"))
    dist2 = F.aggregate(
        F.zip_with("e", "ce", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, val: acc + val,
    )
    w = Window.partitionBy("vec_id").orderBy(F.round(F.col("dist2"), 6), "centroid_id")
    return (
        v.join(F.broadcast(cent))
        .withColumn("dist2", dist2)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id", F.round("dist2", 4).alias("dist2"))
    )


_PQ_SUBS = "(VALUES (0), (1), (2), (3), (4), (5), (6), (7)) AS ss(s)"

_PQ_ORACLE = f"""
WITH v AS (
  SELECT vec_id, s,
         list_slice(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                    s * 8 + 1, s * 8 + 8) AS sv
  FROM embeddings, {_PQ_SUBS}
), c AS (
  SELECT vec_id AS centroid_id, s,
         list_slice(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                    s * 8 + 1, s * 8 + 8) AS cv
  FROM embeddings, {_PQ_SUBS}
  WHERE vec_id < 4
), d AS (
  SELECT v.vec_id, v.s, c.centroid_id,
         list_aggregate(
           list_transform(v.sv, (x, i) -> (x - c.cv[i]) * (x - c.cv[i])),
           'sum') AS dist2
  FROM v JOIN c USING (s)
), pick AS (
  SELECT vec_id, s, centroid_id, dist2,
         row_number() OVER (PARTITION BY vec_id, s
                            ORDER BY round(dist2, 6), centroid_id) AS rn
  FROM d
)
SELECT vec_id,
       string_agg(centroid_id::VARCHAR, '' ORDER BY s) AS pq_code,
       round(SUM(round(dist2, 6)), 3) AS recon_err
FROM pick WHERE rn = 1
GROUP BY vec_id
"""


@query("embed_pq_codebook", oracle=_PQ_ORACLE, survey_id="north-star")
def embed_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ) encoding — the memory-bound ANN format:
    the 64-dim vector splits into 8 subspaces of 8 dims, each assigned
    to its nearest of 4 fixed sub-centroids (vec_id < 4 slices, the
    untrained stand-in for a k-means codebook), so a 256-byte vector
    compresses to an 8-digit code + the shared codebook — 32× smaller
    than float32, and distance evaluation becomes 8 table lookups.
    The plan is the scale shape: centroids (4 rows → 32 subspace rows)
    broadcast; the big side explodes 8× but never shuffles for the
    assignment; one keyed agg reassembles codes. Ranking uses
    round(dist2, 6) + centroid tiebreak (SURVEY §5.3) so ulp noise
    can't flip a cell; recon_err double-rounds for the same reason."""
    em = table(spark, sf_dir, "embeddings")
    subs = F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s")
    ed = as_double(F.col("embedding"))
    v = em.select("vec_id", ed.alias("e")).select(
        "vec_id", "e", subs
    ).select(
        "vec_id", "s", F.slice("e", F.col("s") * 8 + 1, 8).alias("sv")
    )
    c = (
        em.where(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("centroid_id"), ed.alias("e"))
        .select("centroid_id", "e", subs)
        .select("centroid_id", "s", F.slice("e", F.col("s") * 8 + 1, 8).alias("cv"))
    )
    dist2 = F.aggregate(
        F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id", "s").orderBy(F.round(F.col("dist2"), 6), "centroid_id")
    picked = (
        v.join(F.broadcast(c), "s")
        .withColumn("dist2", dist2)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return picked.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("s"), F.col("centroid_id")))
                ),
                lambda st: st.getField("centroid_id").cast("string"),
            ),
            "",
        ).alias("pq_code"),
        F.round(F.sum(F.round("dist2", 6)), 3).alias("recon_err"),
    )


# Deterministic pseudo-random hyperplanes: hp(i, d) in [-0.5, 0.5), a pure
# integer-arithmetic function of (plane i, dim d) — identical in both
# engines, no RNG stream to disagree on (d is 0-based here; the oracle's
# 1-based list index is shifted). The fixture embeddings are near-random
# (max pairwise cosine 0.49 at sf0.01), so the truth set is SEEDED: each
# probe vector gets a deterministic ±3% per-dim multiplicative mutation
# (cosine ≈ 0.999) — the dedup_minhash_recall pattern applied to vectors.
_LSH_SEED_OFFSET = 1000000

_LSH_RECALL_ORACLE = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), mut AS (
  SELECT vec_id + {_LSH_SEED_OFFSET} AS mid,
         list_transform(e, (x, di) ->
           x * (1 + (((di - 1) * 31 + vec_id) % 7 - 3) / 100.0)) AS e
  FROM base WHERE vec_id <= 99
), corpus AS (
  SELECT vec_id, e FROM base
  UNION ALL
  SELECT mid AS vec_id, e FROM mut
), planes AS (
  SELECT unnest(generate_series(0, 15)) AS i
), bits AS (
  SELECT c.vec_id, p.i,
         CASE WHEN list_aggregate(
           list_transform(c.e, (x, di) ->
             x * ((((p.i * 64 + (di - 1)) * 2654435761) % 1000003)
                  / 1000003.0 - 0.5)),
           'sum') > 0 THEN 1 ELSE 0 END AS bit
  FROM corpus c, planes p
), bands AS (
  SELECT vec_id, i // 4 AS band,
         SUM(bit * CASE i % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)
           AS bval
  FROM bits GROUP BY vec_id, i // 4
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval
   AND b.vec_id = a.vec_id + {_LSH_SEED_OFFSET}
  WHERE a.vec_id <= 99
), truth AS (
  SELECT b.vec_id AS id_a
  FROM base b JOIN mut m ON m.mid = b.vec_id + {_LSH_SEED_OFFSET}
  WHERE round(list_dot_product(b.e, m.e)
              / (sqrt(list_dot_product(b.e, b.e))
                 * sqrt(list_dot_product(m.e, m.e))), 4) >= 0.95
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(cand.id_a) AS BIGINT) AS n_caught,
       round(COALESCE(COUNT(cand.id_a) * 1.0 / NULLIF(COUNT(*), 0), 0), 4)
         AS recall
FROM truth LEFT JOIN cand USING (id_a)
"""


@query("embed_lsh_recall", oracle=_LSH_RECALL_ORACLE, survey_id="north-star")
def embed_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH for embedding near-dup detection, with a
    driver-visible recall certificate: 16 sign bits from deterministic
    arithmetic hyperplanes, banded 4x4 (a pair is a candidate if ANY
    4-bit band matches — banding trades precision for recall exactly as
    MinHash-LSH does for Jaccard). The fixture embeddings are
    near-random (no cosine≥0.95 pairs exist), so the truth set is
    SEEDED: every probe vector gets a deterministic ±3% per-dim
    mutation (cosine ≈ 0.999), mixed into the full table as
    distractors; truth keeps only seeded pairs whose EXACT cosine
    clears 0.95 — computed, not assumed. H-tier: hyperplanes, bits,
    bands, mutation, truth, and the recall number itself are all
    reproduced independently in DuckDB. At 100 TB the band join is the
    whole point: candidates come from an equi-join on (band, bval),
    never an all-pairs scan."""
    em = table(spark, sf_dir, "embeddings")
    # base feeds three subtrees (mutation, corpus union, truth pairing)
    # — persist so embeddings are read+cast once
    base = em.select("vec_id", as_double(F.col("embedding")).alias("e")).persist()
    mut = base.where(F.col("vec_id") <= 99).select(
        (F.col("vec_id") + _LSH_SEED_OFFSET).alias("vec_id"),
        F.transform(
            "e",
            lambda x, di: x
            * (1 + ((di * 31 + F.col("vec_id")) % 7 - 3) / 100.0),
        ).alias("e"),
    )
    corpus = base.unionByName(mut)
    planes = spark.range(16).select(F.col("id").cast("int").alias("i"))
    dot = F.aggregate(
        F.transform(
            F.col("e"),
            lambda x, di: x
            * (
                (((F.col("i") * 64 + di) * 2654435761) % 1000003) / 1000003.0
                - 0.5
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bits = corpus.crossJoin(F.broadcast(planes)).select(
        "vec_id", "i", F.when(dot > 0, 1).otherwise(0).alias("bit")
    )
    weight = (
        F.when(F.col("i") % 4 == 0, 8)
        .when(F.col("i") % 4 == 1, 4)
        .when(F.col("i") % 4 == 2, 2)
        .otherwise(1)
    )
    bands = (
        bits.groupBy("vec_id", (F.col("i") / 4).cast("int").alias("band"))
        .agg(F.sum(F.col("bit") * weight).alias("bval"))
        .persist()  # both self-join sides; 4 small rows per vector
    )
    a = bands.where(F.col("vec_id") <= 99).select(
        F.col("vec_id").alias("id_a"), "band", "bval"
    )
    b = bands.select(F.col("vec_id").alias("id_b"), "band", "bval")
    cand = (
        a.join(b, ["band", "bval"])
        .where(F.col("id_b") == F.col("id_a") + _LSH_SEED_OFFSET)
        .select("id_a")
        .distinct()
    )
    pair = base.join(
        mut.select(
            (F.col("vec_id") - _LSH_SEED_OFFSET).alias("vec_id"),
            F.col("e").alias("me"),
        ),
        "vec_id",
    )
    truth = pair.where(
        F.round(cosine(F.col("e"), F.col("me")), 4) >= 0.95
    ).select(F.col("vec_id").alias("id_a"))
    j = truth.join(cand.withColumn("caught", F.lit(1)), "id_a", "left")
    n_caught = F.sum(F.coalesce("caught", F.lit(0)))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        n_caught.cast("long").alias("n_caught"),
        F.round(
            F.coalesce(n_caught / F.nullif(F.count(F.lit(1)), F.lit(0)), F.lit(0.0)), 4
        ).alias("recall"),
    )


_CENTROID_UPDATE_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM embeddings WHERE vec_id < 16
), v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), d AS (
  SELECT v.vec_id, v.e, c.centroid_id,
         list_aggregate(
           list_transform(v.e, (x, i) -> (x - c.ce[i]) * (x - c.ce[i])),
           'sum') AS dist2
  FROM v CROSS JOIN c
), assign AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT vec_id, e, centroid_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY round(dist2, 6), centroid_id) AS rn
    FROM d
  ) t WHERE rn = 1
), pos AS (
  SELECT centroid_id,
         unnest(e) AS val,
         generate_subscripts(e, 1) AS p
  FROM assign
), mean_pos AS (
  SELECT centroid_id, p, SUM(val) / COUNT(*) AS m,
         COUNT(*) AS n_members
  FROM pos GROUP BY centroid_id, p
)
SELECT centroid_id,
       CAST(MIN(n_members) AS BIGINT) AS n_members,
       round(MIN(CASE WHEN p = 1 THEN m END), 4) AS c_first,
       round(MIN(CASE WHEN p = 64 THEN m END), 4) AS c_last
FROM mean_pos
GROUP BY centroid_id
"""


@query("embed_centroid_update", oracle=_CENTROID_UPDATE_ORACLE, survey_id="north-star")
def embed_centroid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPDATE half of a Lloyd's k-means iteration (embed_ivf_assign
    is the assignment half): per assigned cell, the new centroid is the
    element-wise mean of its member vectors. Shape: the assignment is
    the broadcast join from embed_ivf_assign (big side never
    shuffles), then posexplode to (cell, dim) rows feeding ONE keyed
    partial+final aggregate — the 64x row expansion happens map-side
    and is immediately reduced by the partial agg, so the shuffle
    carries at most |cells|x64 partial sums per map task, independent
    of vector count. Emits per-cell member count and the first/last
    mean components, rounded to 1e-4 (per-position sums are
    order-commutative well past that). This plus embed_ivf_assign is
    one full Lloyd's iteration — repeat to convergence at 100 TB."""
    assigned = embed_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    em = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    j = em.join(assigned, "vec_id")
    pos = j.select(
        "centroid_id", F.posexplode("e").alias("p0", "val")
    ).select("centroid_id", (F.col("p0") + 1).alias("p"), "val")
    mean_pos = pos.groupBy("centroid_id", "p").agg(
        (F.sum("val") / F.count(F.lit(1))).alias("m"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return mean_pos.groupBy("centroid_id").agg(
        F.min("n_members").cast("long").alias("n_members"),
        F.round(F.min(F.when(F.col("p") == 1, F.col("m"))), 4).alias("c_first"),
        F.round(F.min(F.when(F.col("p") == 64, F.col("m"))), 4).alias("c_last"),
    )


_IDX_ASSIGN_CTE = """
c AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM embeddings WHERE vec_id < 16
), v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), d AS (
  SELECT v.vec_id, v.e, c.centroid_id,
         list_aggregate(
           list_transform(v.e, (x, i) -> (x - c.ce[i]) * (x - c.ce[i])),
           'sum') AS dist2
  FROM v CROSS JOIN c
), ranked AS (
  SELECT vec_id, e, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(dist2, 6), centroid_id) AS rn
  FROM d
)
"""

_IDX_PRUNED_ORACLE = f"""
WITH {_IDX_ASSIGN_CTE},
index_t AS (
  SELECT vec_id, e, centroid_id FROM ranked WHERE rn = 1
), probe_cells AS (
  SELECT vec_id AS probe_id, e AS pe, centroid_id
  FROM ranked WHERE vec_id <= 9 AND rn <= 2
), cand AS (
  SELECT p.probe_id, p.pe, i.vec_id AS neighbor_id, i.e AS ne
  FROM probe_cells p JOIN index_t i ON i.centroid_id = p.centroid_id
  WHERE i.vec_id <> p.probe_id
), scored AS (
  SELECT probe_id, neighbor_id,
         round(list_dot_product(pe, ne)
               / (sqrt(list_dot_product(pe, pe))
                  * sqrt(list_dot_product(ne, ne))), 4) AS score
  FROM cand
)
SELECT probe_id, neighbor_id, score, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT probe_id, neighbor_id, score,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY score DESC, neighbor_id) AS rn
  FROM (SELECT DISTINCT probe_id, neighbor_id, score FROM scored) u
) t
WHERE rn <= 3
"""


@query("sim_index_partition_pruned", oracle=_IDX_PRUNED_ORACLE, survey_id="north-star")
def sim_index_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A PERSISTED vector index with physical partition pruning — the
    piece that turns IVF from a query rewrite into storage layout: the
    assignment (embed_ivf_assign) is written as parquet partitioned BY
    centroid_id, and a probe reads only its nprobe=2 cells — the scan's
    PartitionFilters skip every other directory, so probe cost is
    |cells read| / |cells| of the index regardless of index size. The
    probe's cell list is collected driver-side (tens of values — the
    metadata-scale lookup every index traversal performs) and pushed as
    a static IN filter. Scoring within the touched cells is the same
    rounded-cosine + tiebreak machinery as sim_search_topk. At 100 TB
    the index is exactly this layout (one directory per cell, file
    stats inside) — queries touch GBs, not the TBs of the full table."""
    em = table(spark, sf_dir, "embeddings")
    assigned = embed_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    index_df = em.join(assigned, "vec_id")
    idx_path = scratch_dir("sim_index_partition_pruned", sf_dir) + "/index"
    index_df.write.partitionBy("centroid_id").mode("overwrite").parquet(idx_path)

    # probe cells: each probe's nearest TWO centroids (nprobe=2), via the
    # same rounded-dist ranking as the assignment
    cent = em.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        as_double(F.col("embedding")).alias("ce"),
    )
    probes = em.where(F.col("vec_id") <= 9).select(
        F.col("vec_id").alias("probe_id"), as_double(F.col("embedding")).alias("pe")
    )
    dist2 = F.aggregate(
        F.zip_with("pe", "ce", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_assign = Window.partitionBy("probe_id").orderBy(
        F.round(F.col("dist2"), 6), "centroid_id"
    )
    probe_cells = (
        probes.join(F.broadcast(cent))
        .withColumn("dist2", dist2)
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") <= 2)
        .select("probe_id", "pe", "centroid_id")
    )
    cells = sorted(
        {r["centroid_id"] for r in probe_cells.select("centroid_id").collect()}
    )  # metadata-scale (≤20 values): the index lookup's cell list

    index_read = spark.read.parquet(idx_path).where(
        F.col("centroid_id").isin(cells)  # -> PartitionFilters, dirs skipped
    )
    cand = (
        index_read.select(
            "centroid_id",
            F.col("vec_id").alias("neighbor_id"),
            as_double(F.col("embedding")).alias("ne"),
        )
        .join(probe_cells, "centroid_id")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(cosine(F.col("pe"), F.col("ne")), 4).alias("score"),
        )
        .distinct()
    )
    w_top = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        cand.withColumn("rn", F.row_number().over(w_top).cast("long"))
        .where(F.col("rn") <= 3)
        .select("probe_id", "neighbor_id", "score", "rn")
    )


_ARROW_TOPK_ORACLE = _TOPK_ORACLE


@query("sim_search_arrow_kernel", oracle=_ARROW_TOPK_ORACLE, survey_id="B-57-ext")
def sim_search_arrow_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forces the Arrow BLAS block kernel regardless of scale — the
    hash-checked pin that the fast path is EXACTLY equivalent to the
    codegen SQL plan (same oracle as sim_search_topk, which routes
    between the two by stats.row_count)."""
    return _topk_arrow_kernel(spark, sf_dir)


def _topk_arrow_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched BLAS path for brute-force top-k, r8 shape:
    the 10 probe vectors are fetched once (O(k·dim) metadata — the
    same tier as the IVF cell-list lookup above), L2-normalized, and
    SHIPPED AS A BROADCAST VARIABLE; the candidate corpus then streams
    through ONE ``mapInPandas`` pass — zero shuffle of candidates, one
    numpy matmul per Arrow batch, a running top-5 per probe folded
    ACROSS batches inside each partition's iterator, and one tiny exact
    merge (window over partitions×5 rows per probe). This is the
    canonical brute-force ANN scan (Faiss-style): query block resident,
    corpus streamed, block-local top-k + tree merge — the shape that
    scales linearly with executors at 100 TB because the corpus never
    leaves its scan partitions.

    It replaced the r7 kernel (hash-block candidates, replicate probes
    per block via join, applyInPandas per block), whose blk-join fanned
    every candidate embedding out ONCE PER PROBE through the shuffle
    and the Arrow boundary — 10x the necessary traffic. Measured A/B
    at sf1 (min-of-3 warm, local[32], last A/B in BASELINE.md "Closed
    plan A/Bs"): join-fanout 1.10 s,
    cogroup (probes shipped separately, candidates still shuffled)
    0.45 s, this kernel 0.25 s — and flat from sf0.1r (0.26 s), i.e.
    the remaining cost is the Python boundary constant, not per-row.

    Same result as sim_search_topk (same oracle): scores are computed
    in float64 and rounded to 4 dp before ranking, so numpy summation
    order cannot reorder the hash-checked top-5. The per-batch matmul
    is bounded by spark.sql.execution.arrow.maxRecordsPerBatch (10k
    rows × dim floats), so worker memory stays flat at any corpus
    size."""
    import numpy as np
    import pandas as pd

    em = table(spark, sf_dir, "embeddings")
    probes = (
        em.where(F.col("vec_id") <= 9).select("vec_id", "embedding").toPandas()
    )
    pids = probes["vec_id"].to_numpy()
    pm = np.stack(probes["embedding"].to_numpy()).astype(np.float64)
    pmn = pm / np.linalg.norm(pm, axis=1)[:, None]
    bc = spark.sparkContext.broadcast((pids, pmn))

    def score_stream(it):
        pids_, pmn_ = bc.value
        buf: list = []
        for pdf in it:
            if len(pdf) == 0:
                continue
            cm = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cmn = cm / np.linalg.norm(cm, axis=1)[:, None]
            sims = cmn @ pmn_.T
            cand_ids = pdf["vec_id"].to_numpy()
            for j, pid in enumerate(pids_):
                col = np.round(sims[:, j], 4)
                mask = cand_ids != pid
                ids, sc = cand_ids[mask], col[mask]
                # batch-local top-5 on (score desc, neighbor_id asc)
                order = np.lexsort((ids, -sc))[:5]
                for i in order:
                    buf.append((int(pid), int(ids[i]), float(sc[i])))
        if not buf:
            return
        # fold the per-batch winners into partition-local top-5 so the
        # global merge sees partitions×5 rows per probe, not batches×5
        all_ = pd.DataFrame(buf, columns=["probe_id", "neighbor_id", "score"])
        all_ = all_.sort_values(
            ["probe_id", "score", "neighbor_id"], ascending=[True, False, True]
        )
        yield all_.groupby("probe_id", sort=False).head(5)

    local = em.select("vec_id", "embedding").mapInPandas(
        score_stream, "probe_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        local.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("probe_id", "neighbor_id", "score", "rn")
    )


# ---------------------------------------------------------------------------
# sim_search_filtered — metadata-filtered ANN over the persisted IVF
# index (round 11, VERDICT r10 #8)
# ---------------------------------------------------------------------------

_FILTER_LABELS = (0, 2, 4, 6, 8)

_FILTERED_ORACLE = f"""
WITH {_IDX_ASSIGN_CTE},
index_t AS (
  SELECT r.vec_id, r.e, r.centroid_id, em.label
  FROM ranked r JOIN embeddings em ON em.vec_id = r.vec_id
  WHERE r.rn = 1
), probe_cells AS (
  SELECT vec_id AS probe_id, e AS pe, centroid_id
  FROM ranked WHERE vec_id <= 9 AND rn <= 2
), cand AS (
  SELECT p.probe_id, p.pe, i.vec_id AS neighbor_id, i.e AS ne
  FROM probe_cells p JOIN index_t i ON i.centroid_id = p.centroid_id
  WHERE i.vec_id <> p.probe_id AND i.label IN {_FILTER_LABELS}
), scored AS (
  SELECT probe_id, neighbor_id,
         round(list_dot_product(pe, ne)
               / (sqrt(list_dot_product(pe, pe))
                  * sqrt(list_dot_product(ne, ne))), 4) AS score
  FROM cand
)
SELECT probe_id, neighbor_id, score, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT probe_id, neighbor_id, score,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY score DESC, neighbor_id) AS rn
  FROM (SELECT DISTINCT probe_id, neighbor_id, score FROM scored) u
) t
WHERE rn <= 3
"""


@query("sim_search_filtered", oracle=_FILTERED_ORACLE, survey_id="north-star")
def sim_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-k under a metadata predicate, the
    shape every retrieval stack needs ("nearest docs WHERE lang='en'
    AND license='permissive'"). Composes the two pruning layers of
    sim_index_partition_pruned's persisted IVF layout:

    1. PARTITION pruning: the probe's nprobe=2 cell list becomes a
       static IN over the index's centroid_id partition column —
       PartitionFilters, directories skipped.
    2. PREDICATE pushdown: the metadata filter (label IN ...) reaches
       the parquet scan of the SURVIVING cells as PushedFilters — rows
       failing the predicate never enter the distance kernel, so the
       kernel scores |cell ∩ predicate|, not |cell|.

    Filter-BEFORE-scoring is the correct order whenever the predicate
    is selective (post-filtering a top-k instead can return < k rows —
    the classic filtered-ANN bug); the plan test pins both pruning
    layers below the scoring join. At 100 TB the same layout serves
    both: cells partition the index physically, and footer min/max on
    the metadata columns prune row groups within each cell. The oracle
    is the exact brute-force twin over the same nprobe cells with the
    same predicate."""
    em = table(spark, sf_dir, "embeddings")
    assigned = embed_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    index_df = em.join(assigned, "vec_id")
    idx_path = scratch_dir("sim_search_filtered", sf_dir) + "/index"
    index_df.write.partitionBy("centroid_id").mode("overwrite").parquet(idx_path)

    cent = em.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        as_double(F.col("embedding")).alias("ce"),
    )
    probes = em.where(F.col("vec_id") <= 9).select(
        F.col("vec_id").alias("probe_id"), as_double(F.col("embedding")).alias("pe")
    )
    dist2 = F.aggregate(
        F.zip_with("pe", "ce", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_assign = Window.partitionBy("probe_id").orderBy(
        F.round(F.col("dist2"), 6), "centroid_id"
    )
    probe_cells = (
        probes.join(F.broadcast(cent))
        .withColumn("dist2", dist2)
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") <= 2)
        .select("probe_id", "pe", "centroid_id")
    )
    cells = sorted(
        {r["centroid_id"] for r in probe_cells.select("centroid_id").collect()}
    )  # metadata-scale (≤20 values): the index lookup's cell list

    index_read = (
        spark.read.parquet(idx_path)
        .where(F.col("centroid_id").isin(cells))  # -> PartitionFilters
        .where(F.col("label").isin(*_FILTER_LABELS))  # -> PushedFilters
    )
    cand = (
        index_read.select(
            "centroid_id",
            F.col("vec_id").alias("neighbor_id"),
            as_double(F.col("embedding")).alias("ne"),
        )
        .join(probe_cells, "centroid_id")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(cosine(F.col("pe"), F.col("ne")), 4).alias("score"),
        )
        .distinct()
    )
    w_top = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        cand.withColumn("rn", F.row_number().over(w_top).cast("long"))
        .where(F.col("rn") <= 3)
        .select("probe_id", "neighbor_id", "score", "rn")
    )
