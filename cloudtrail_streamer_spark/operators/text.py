"""Text-analysis / dedup operators over ``documents``
(SURVEY.md §2.B B-55, B-59..B-63 + north-star text ops).

All pure built-ins (split/explode/groupBy/window) — the tokenize path is
whole-stage-codegen JVM. At 100 TB: every op here is a scan + one or two
hash shuffles keyed on term or doc hash; no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import scratch_dir, table
from cloudtrail_streamer_spark.registry import query

_DEDUP_EXACT_ORACLE = """
SELECT
  md5(lower(trim(text))) AS content_hash,
  CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY md5(lower(trim(text)))
"""


@query("dedup_exact", oracle=_DEDUP_EXACT_ORACLE, survey_id="B-55")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize → md5 → keep min doc_id per hash.

    The 100 TB shape: shuffle 16-byte hashes (not documents); survivors
    re-join to fetch bodies. Spark and DuckDB md5 hex strings agree.
    """
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.col("text"))))
    return d.groupBy(h.alias("content_hash")).agg(
        F.min("doc_id").cast("long").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_WORDCOUNT_ORACLE = """
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
GROUP BY word
ORDER BY n DESC, word
LIMIT 50
"""


@query("text_tokenize_wordcount", oracle=_WORDCOUNT_ORACLE, survey_id="B-59")
def text_tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic tokenize → explode → count; top-50 with word tiebreak."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
    )


_TFIDF_ORACLE = """
WITH tokens AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tokens) GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
       CAST(df.df AS BIGINT) AS df,
       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n
"""


# Corpora below this doc count take the single-pass window plan; at or
# above it (or when footer stats are unavailable) the skew-free df-join
# plan. A stopword's window partition holds ≤ |docs| rows, so below the
# threshold the straggler is bounded at ~10M rows per hot term — cheap
# next to a second tokenize pass; above it, unbounded skew loses.
_TFIDF_WINDOW_MAX_DOCS = 10_000_000


def _tfidf_frame(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    """Shared TF-IDF plan builder; ``strategy`` picks the df stage."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tokens = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if strategy == "window":
        # df as a window over tf (tf has one row per (doc, term)): a
        # single pass — explode → shuffle(doc,term) → shuffle(term) —
        # but every row of a hot term lands in ONE partition.
        with_df = tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
    else:
        # df as an aggregate branch + join back: the term-keyed
        # exchange moves only partial counts (≤ partitions × |vocab|
        # rows), and the join's hot terms are splittable by AQE's
        # skew-join — no stage inherits the stopword skew. Price: the
        # tokenize/tf subtree is computed twice (column pruning gives
        # the two branches different exchanges, so neither static
        # ReuseExchange nor AQE stage reuse merges them — verified on
        # the executed adaptive plan). A second map-side tokenize is
        # embarrassingly parallel and straggler-free, which at corpus
        # scale is the right trade against an unsplittable sort.
        df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        with_df = tf.join(df_tbl, "term")
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return with_df.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round(
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
        ).alias("tfidf"),
    )


@query("text_tfidf", oracle=_TFIDF_ORACLE, survey_id="B-60")
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term), df-stage cost-routed on O(1) footer
    stats (the similarity.py kernel-routing precedent; VERDICT r04
    flagged the window's stopword skew as the one plan watch item):

    - small corpus (< _TFIDF_WINDOW_MAX_DOCS): single-pass window —
      fastest when the hot-term partitions are bounded small;
    - large or unknown corpus: df-aggregate + term join — skew-free
      (AQE can split the join's hot terms; it cannot split a window
      partition), at the price of a second straggler-free tokenize.

    Both strategies are hash-equal (tests/test_engine.py pins it); the
    oracle checks whichever the stats pick. N arrives as a scalar via
    a cross-join of a 1-row aggregate (no collect to the driver).
    """
    from cloudtrail_streamer_spark.stats import row_count

    n_docs = row_count(sf_dir, "documents")
    strategy = "window" if 0 <= n_docs < _TFIDF_WINDOW_MAX_DOCS else "join"
    return _tfidf_frame(spark, sf_dir, strategy)


_LANG_STATS_ORACLE = """
SELECT
  lang,
  source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM documents
GROUP BY lang, source
"""


@query("text_lang_stats", oracle=_LANG_STATS_ORACLE, survey_id="B-61")
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    cnt = F.count(F.lit(1))
    return d.groupBy("lang", "source").agg(
        cnt.alias("n_docs"),
        (F.sum("n_chars").cast("double") / cnt).alias("avg_chars"),
        (F.sum(n_tok).cast("double") / cnt).alias("avg_tokens"),
    )


# Fixed stopword list — deterministic, embedded in both engines' queries.
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"

_QUALITY_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, text, lang, n_chars,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(lower(text), ' '), w -> w IN {_SW_SQL})) AS BIGINT)
           AS n_stop
  FROM documents
), dedup AS (
  SELECT *, row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
  FROM scored
)
SELECT doc_id, lang, n_chars, n_tokens,
       round(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio
FROM dedup
WHERE rn = 1
  AND n_chars BETWEEN 20 AND 10000
  AND n_tokens >= 5
  AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5
"""


@query("text_filter_quality", oracle=_QUALITY_ORACLE, survey_id="B-62")
def text_filter_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate: length bounds + stopword ratio + exact
    dedup — the composition op of a pretraining-data pipeline."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS))).cast("long")
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy("doc_id")
    ratio = n_stop.cast("double") / n_tokens
    return (
        d.select("doc_id", "text", "lang", "n_chars")
        .withColumn("n_tokens", n_tokens)
        .withColumn("ratio", ratio)
        .withColumn("rn", F.row_number().over(w))
        .where(
            (F.col("rn") == 1)
            & F.col("n_chars").between(20, 10000)
            & (F.col("n_tokens") >= 5)
            & (F.col("ratio") < 0.5)
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "n_tokens",
            F.round(F.col("ratio"), 4).alias("stopword_ratio"),
        )
    )


_BINARY_ORACLE = """
SELECT
  doc_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  sha256(text) AS content_sha,
  substr(text, 1, 8) AS head_text
FROM documents
"""


@query("multimodal_binary_col", oracle=_BINARY_ORACLE, survey_id="B-63")
def multimodal_binary_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryType round trip: encode text → bytes, write/read parquet,
    then length + sha2 + decode-back. The pattern for opaque image/audio
    payload columns (see operators/multimodal.py for the decode path).
    """
    import os

    d = table(spark, sf_dir, "documents")
    bin_df = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    out = os.path.join(scratch_dir("multimodal_binary_col", sf_dir), "docs_binary")
    bin_df.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("content_sha"),
        F.substring(F.decode(F.col("payload"), "utf-8"), 1, 8).alias("head_text"),
    )


_TOKEN_COUNT_ORACLE = """
SELECT
  doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_split_to_array(text, '[^a-z0-9]+')) AS BIGINT) AS bpe_ish_tokens,
  CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS byte_estimate
FROM documents
"""


@query("text_token_count", oracle=_TOKEN_COUNT_ORACLE, survey_id="north-star")
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex word pieces,
    and the bytes/4 heuristic used for LLM budget estimates."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.size(F.split(F.col("text"), "[^a-z0-9]+")).cast("long").alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("byte_estimate"),
    )


_FINGERPRINT_ORACLE = """
SELECT
  doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
    (a, x) -> (a * 31 + x) % 1000000007
  ) AS fingerprint
FROM documents
"""


@query("text_fingerprint", oracle=_FINGERPRINT_ORACLE, survey_id="north-star")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (mod 1e9+7) via a
    character-level fold — pure integer arithmetic, engine-agnostic."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.aggregate(
            F.split(F.col("text"), ""),
            F.lit(0).cast("long"),
            lambda a, c: (a * 31 + F.ascii(c)) % 1000000007,
        ).alias("fingerprint"),
    )


_LANG_ID_ORACLE = """
WITH tokens AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
), lang_term AS (
  SELECT d.lang, t.term, COUNT(*) AS cnt
  FROM tokens t JOIN documents d USING (doc_id)
  GROUP BY d.lang, t.term
), profiles AS (
  SELECT lang AS cand_lang, term
  FROM lang_term
  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) <= 20
), scores AS (
  SELECT t.doc_id, p.cand_lang, COUNT(*) AS score
  FROM tokens t JOIN profiles p USING (term)
  GROUP BY t.doc_id, p.cand_lang
)
SELECT doc_id, cand_lang AS pred_lang, score
FROM scores
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) = 1
"""


@query("text_lang_id", oracle=_LANG_ID_ORACLE, survey_id="north-star")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: score each doc against per-language top-20
    marker-word profiles (built from the corpus itself), predict argmax.

    Scale shape: the profile table is |langs|×20 rows → broadcast; the
    token stream shuffles twice (term-count, doc-score) — no pairwise
    work. The n-gram generalization swaps `term` for character n-grams
    (same plan).
    """
    d = table(spark, sf_dir, "documents")
    # carry lang through the explode instead of joining it back — one
    # fewer scan and no doc_id shuffle for the profile build
    tokens = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    )
    lang_term = tokens.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w_prof = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "term")
    profiles = (
        lang_term.withColumn("rn", F.row_number().over(w_prof))
        .where(F.col("rn") <= 20)
        .select(F.col("lang").alias("cand_lang"), "term")
    )
    scores = (
        tokens.join(F.broadcast(profiles), "term")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w_pick = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand_lang")
    return (
        scores.withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), "score")
    )


_PACK_ORACLE = """
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
off AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
  FROM toks
)
SELECT shard * 1000000000000 + CAST(floor(start_off / 2048.0) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM off
GROUP BY 1
"""


@query("text_pack_sequences", oracle=_PACK_ORACLE, survey_id="north-star")
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents to
    fixed-token-budget bins (2048 tokens) by prefix-sum of token counts.

    The scale shape: docs are sharded (doc_id % 8 here; a hash prefix at
    100 TB), the running offset is a per-shard window — so the only
    shuffle is keyed by shard and no global sort exists. Each bin is a
    training sequence; a straddling doc starts the next bin (greedy
    offset packing, the deterministic variant of what data loaders do)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = toks.withColumn("start_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    # bin_id packs (shard, bin_no) into one BIGINT. The 1e12 stride
    # allows 10^12 bins/shard ≈ 2×10^15 tokens per shard before any
    # collision — past the 100 TB design point (a 1e5 stride collides at
    # ~205M tokens/shard, i.e. around sf100 — same latent-offset class
    # as the ADVICE r05 CDF key finding). Shard count is bounded (8), so
    # the packed id stays far below 2^63.
    bin_id = (
        F.col("shard") * F.lit(1_000_000_000_000)
        + F.floor(F.col("start_off") / 2048.0)
    ).cast("long")
    return (
        off.groupBy(bin_id.alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


_SCRUB_ORACLE = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or https://site' || CAST(doc_id AS VARCHAR)
                  || '.example/path?id=' || CAST(doc_id * 7919 AS VARCHAR),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^ ]+', '<URL>', 'g'),
         '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
FROM documents
"""


@query("text_scrub_pii", oracle=_SCRUB_ORACLE, survey_id="north-star")
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data scrubbing: mask emails, URLs, and long digit runs
    (deterministically injected per doc so the op provably fires on
    every row). Row-local regexp_replace — zero shuffle, whole-stage
    codegen; the same patterns run in Java regex and RE2 (oracle), which
    agree on this character-class subset."""
    d = table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or https://site"),
        F.col("doc_id").cast("string"),
        F.lit(".example/path?id="),
        (F.col("doc_id") * 7919).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                dirty, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
            ),
            r"https?://[^ ]+",
            "<URL>",
        ),
        r"[0-9]{6,}",
        "<NUM>",
    )
    return d.select("doc_id", scrubbed.alias("scrubbed"))


_NGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
bi AS (
  SELECT unnest(list_transform(t[1:len(t) - 1],
                (x, i) -> struct_pack(w1 := x, w2 := t[i + 1]))) AS b
  FROM toks WHERE len(t) >= 2
),
cnt AS (
  SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n_pair FROM bi GROUP BY 1, 2
),
uni AS (
  SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_ctx FROM cnt GROUP BY w1
)
SELECT c.w1, c.w2, CAST(c.n_pair AS BIGINT) AS n_pair,
       round(CAST(c.n_pair AS DOUBLE) / u.n_ctx, 6) AS p_cond
FROM cnt c JOIN uni u USING (w1)
ORDER BY n_pair DESC, w1, w2
LIMIT 100
"""


@query("text_ngram_lm", oracle=_NGRAM_LM_ORACLE, survey_id="north-star")
def text_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model table: P(w2 | w1) = count(w1 w2) / count(w1·),
    top-100 pairs — the count-based statistic that backs corpus-quality
    heuristics (perplexity-ish filters) in training-data pipelines.

    Two keyed aggregations (pair, then context marginal as a re-agg of
    the PAIR counts, never a second corpus pass) + one broadcast-size
    join; the probability is a ratio of exact BIGINTs so both engines
    produce identical doubles."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.lower(F.col("text")), " ").alias("t")).where(
        F.size("t") >= 2
    )
    bi = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    cnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    uni = cnt.groupBy("w1").agg(F.sum("n_pair").cast("long").alias("n_ctx"))
    return (
        cnt.join(uni, "w1")
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.round(F.col("n_pair").cast("double") / F.col("n_ctx"), 6).alias("p_cond"),
        )
        .orderBy(F.col("n_pair").desc(), "w1", "w2")
        .limit(100)
    )


# Target mix weights (% of each language kept), tuned so the corpus mix
# is reshaped rather than merely sampled: keep all English, half the
# de/es pools, a quarter of fr/zh.
_MIX_WEIGHTS = {"en": 100, "de": 50, "es": 50, "fr": 25, "zh": 25}

_MIX_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(_MIX_WEIGHTS.items())
) + " ELSE 0 END"

_DATASET_MIX_ORACLE = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_source,
       CAST(COUNT(*) FILTER (
         WHERE ((doc_id & 2147483647) * 2654435761) % 100 < {_MIX_CASE}
       ) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(len(string_split(text, ' '))) FILTER (
         WHERE ((doc_id & 2147483647) * 2654435761) % 100 < {_MIX_CASE}
       ), 0) AS BIGINT) AS kept_tokens
FROM documents
GROUP BY lang
"""


@query("text_dataset_mix", oracle=_DATASET_MIX_ORACLE, survey_id="B-62-ext")
def text_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reshaping: per-language target keep-rates applied
    via the engine's deterministic multiplicative hash (same masked
    Knuth hash as sample_hash_mod — stable across engines, runs, and
    repartitioning, unlike rand()), reporting per-language source size,
    kept docs, and kept token budget. This is the corpus-mix step of an
    LLM data pipeline: inclusion is a pure function of doc_id so
    incremental backfills never resample previously-decided documents.
    Zero shuffles beyond the final |langs|-row aggregate; the filter is
    codegen'd scan-side at any scale."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.col("doc_id").bitwiseAND(F.lit(2147483647)) * F.lit(2654435761)
    ) % 100
    weight = F.lit(0)
    for lang, w in sorted(_MIX_WEIGHTS.items()):
        weight = F.when(F.col("lang") == lang, w).otherwise(weight)
    keep = bucket < weight
    toks = F.size(F.split(F.col("text"), " "))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_source"),
        F.sum(keep.cast("long")).cast("long").alias("n_kept"),
        F.coalesce(F.sum(F.when(keep, toks)), F.lit(0))
        .cast("long")
        .alias("kept_tokens"),
    )


_WINNOW_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), sh AS (
  SELECT doc_id, pos,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle,
         lead(tok, 2) OVER w AS t2
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), h AS (
  SELECT doc_id, pos, substr(md5(shingle), 1, 16) AS hv,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS sidx
  FROM sh WHERE t2 IS NOT NULL
), wmin AS (
  SELECT doc_id, sidx,
         MIN(hv) OVER (PARTITION BY doc_id ORDER BY sidx
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
  FROM h
)
SELECT doc_id,
       CAST(MAX(sidx) AS BIGINT) AS n_shingles,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
       MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM wmin
WHERE sidx >= 4
GROUP BY doc_id
"""


@query("text_winnow_fingerprints", oracle=_WINNOW_ORACLE, survey_id="B-56-ext")
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS local-fingerprinting scheme):
    3-token shingles are hashed (md5-prefix — deterministic across
    engines, unlike xxhash64) and each size-4 window of consecutive
    shingle hashes contributes its MINIMUM — guaranteeing any shared
    run of ≥ 6 tokens between two documents shares a fingerprint, with
    ~1/4 the storage of full shingle sets. Complements MinHash (global
    similarity) with positional overlap detection — the plagiarism /
    contamination-scan kernel of a training-data pipeline. Per-doc
    windows only: one shuffle on doc_id, window fns fused by Catalyst;
    fingerprint sets shrink 4× before the (downstream) inverted-index
    join, which is the 100 TB lever."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = toks.select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
        ).alias("shingle"),
        F.lead("tok", 2).over(w).alias("t2"),
    ).where(F.col("t2").isNotNull())
    h = sh.select(
        "doc_id",
        F.substring(F.md5("shingle"), 1, 16).alias("hv"),
        F.row_number().over(w).alias("sidx"),
    )
    w_min = (
        Window.partitionBy("doc_id").orderBy("sidx").rowsBetween(-3, 0)
    )
    wmin = h.select(
        "doc_id", "sidx", F.min("hv").over(w_min).alias("fp")
    ).where(F.col("sidx") >= 4)
    return wmin.groupBy("doc_id").agg(
        F.max("sidx").cast("long").alias("n_shingles"),
        F.count_distinct("fp").cast("long").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


_CONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), sh AS (
  SELECT doc_id, pos,
         substr(md5(tok || ' ' || lead(tok, 1) OVER w || ' '
                    || lead(tok, 2) OVER w), 1, 16) AS hv,
         lead(tok, 2) OVER w AS t2
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), fp AS (
  SELECT DISTINCT doc_id, hv FROM sh WHERE t2 IS NOT NULL
), eval_fp AS (
  SELECT doc_id, hv FROM fp WHERE doc_id % 97 = 0
), train_fp AS (
  SELECT doc_id, hv FROM fp WHERE doc_id % 97 <> 0
), hits AS (
  SELECT e.doc_id AS eval_doc,
         CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs,
         CAST(COUNT(DISTINCT e.hv) AS BIGINT) AS n_shared_shingles
  FROM eval_fp e JOIN train_fp t ON e.hv = t.hv
  GROUP BY e.doc_id
)
SELECT eval_doc, n_train_docs, n_shared_shingles
FROM hits
"""


@query("text_contamination_check", oracle=_CONTAM_ORACLE, survey_id="B-56-ext")
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan — the check every LLM training run
    owes its benchmarks: a held-out slice (doc_id % 97 == 0 stands in
    for the eval set) is searched against the training corpus for
    shared 3-token shingles via an inverted-index equi-join on the
    shingle hash. Per contaminated eval doc: how many training docs
    overlap and how many distinct shingles leak. The join is
    hash-keyed (never all-pairs) and the eval side is tiny — at 100 TB
    this is a broadcast of the eval fingerprint set against a
    fingerprint table you already maintain for dedup
    (text_winnow_fingerprints' output). md5-prefix shingle hashes keep
    it engine-portable and H-tier."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = toks.select(
        "doc_id",
        F.substring(
            F.md5(
                F.concat_ws(
                    " ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
                )
            ),
            1,
            16,
        ).alias("hv"),
        F.lead("tok", 2).over(w).alias("t2"),
    ).where(F.col("t2").isNotNull())
    fp = sh.select("doc_id", "hv").distinct()
    eval_fp = fp.where(F.col("doc_id") % 97 == 0)
    train_fp = fp.where(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_doc"), "hv"
    )
    hits = eval_fp.join(train_fp, "hv")
    return hits.groupBy(F.col("doc_id").alias("eval_doc")).agg(
        F.count_distinct("train_doc").cast("long").alias("n_train_docs"),
        F.count_distinct("hv").cast("long").alias("n_shared_shingles"),
    )


_PPL_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(lower(text), ' ')) AS tok,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
), vocab AS (
  SELECT COUNT(DISTINCT tok)::DOUBLE AS v FROM toks
), bi AS (
  SELECT doc_id, tok AS w1, lead(tok) OVER w AS w2
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), bi_ok AS (
  SELECT doc_id, w1, w2 FROM bi WHERE w2 IS NOT NULL
), pair_n AS (
  SELECT w1, w2, COUNT(*)::DOUBLE AS n_pair FROM bi_ok GROUP BY w1, w2
), ctx_n AS (
  SELECT w1, SUM(n_pair) AS n_ctx FROM pair_n GROUP BY w1
), scored AS (
  SELECT b.doc_id,
         -log2((p.n_pair + 1) / (c.n_ctx + vocab.v)) AS bits
  FROM bi_ok b
  JOIN pair_n p ON b.w1 = p.w1 AND b.w2 = p.w2
  JOIN ctx_n c ON b.w1 = c.w1
  CROSS JOIN vocab
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(AVG(bits), 4) AS ppl_bits,
       AVG(bits) < 9.0 AS keep_quality
FROM scored
GROUP BY doc_id
"""


@query("text_perplexity_score", oracle=_PPL_ORACLE, survey_id="north-star")
def text_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based quality filtering — the standard statistical
    filter of LLM training pipelines (docs a corpus LM finds surprising
    are boilerplate/noise/foreign): an add-one-smoothed bigram LM is
    trained ON the corpus itself (pair + context counts + vocabulary
    size, all exact integers), then every document is scored with its
    average per-bigram negative log2 probability and flagged against a
    bits/bigram threshold. Train and score share one tokenize pass; the
    score join is bigram→count equi-keyed (the LM table is
    |vocab²|-bounded and broadcastable at any corpus size). Scores are
    ratios of exact counts passed through log2 and averaged over a few
    hundred terms — round(,4) sits ~10 orders above cross-engine libm
    ulp noise."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "tok"),
    )
    vocab = toks.agg(F.count_distinct("tok").cast("double").alias("v"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        "doc_id",
        F.col("tok").alias("w1"),
        F.lead("tok").over(w).alias("w2"),
    ).where(F.col("w2").isNotNull())
    # pair_n feeds both the context marginals and the score join —
    # persist the |vocab²|-bounded aggregate so the tokenize+window
    # subtree under it runs once, not once per reference
    pair_n = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("n_pair")
    ).persist()
    ctx_n = pair_n.groupBy("w1").agg(F.sum("n_pair").alias("n_ctx"))
    bits = -F.log2((F.col("n_pair") + 1) / (F.col("n_ctx") + F.col("v")))
    scored = (
        bi.join(pair_n, ["w1", "w2"])
        .join(ctx_n, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", bits.alias("bits"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("bits"), 4).alias("ppl_bits"),
        (F.avg("bits") < 9.0).alias("keep_quality"),
    )


_HEAVY_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
), total AS (
  SELECT COUNT(*)::DOUBLE AS t FROM toks
)
SELECT tok,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(floor(COUNT(*) * 10000 / total.t) AS BIGINT) AS share_bp
FROM toks, total
GROUP BY tok, total.t
HAVING COUNT(*) * 10000 / total.t >= 50
"""


@query("text_heavy_hitters", oracle=_HEAVY_ORACLE, survey_id="B-59-ext")
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-threshold frequent tokens: every token holding ≥ 0.5% of
    corpus token mass, with its share in integer basis points — the
    vocabulary-truncation / stopword-discovery step of LM preprocessing.
    One explode + one keyed count; the corpus total arrives as a
    broadcast 1-row aggregate (no collect), and the share is floor()ed
    integer arithmetic so both engines agree exactly. At 100 TB the
    exact form stays viable because the keyed count pre-reduces
    map-side to |vocab| rows; the sketch alternative (count-min) is
    only needed when vocab itself explodes (e.g. n-gram keys)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("t"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    j = counts.crossJoin(F.broadcast(total))
    return j.where(F.col("n") * 10000 / F.col("t") >= 50).select(
        "tok",
        F.col("n").cast("long").alias("n"),
        F.floor(F.col("n") * 10000 / F.col("t")).cast("long").alias("share_bp"),
    )


_BM25_ORACLE = """
WITH docs AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl,
         string_split(lower(text), ' ') AS toks
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM docs
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, MIN(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
  WHERE term IN ('join', 'vector', 'stream')
  GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(SUM(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * 2.2
           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         ), 4) AS bm25
  FROM tf JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, bm25
FROM scored
QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= 20
"""


@query("text_bm25_topk", oracle=_BM25_ORACLE, survey_id="B-60-ext")
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Okapi, k1=1.2, b=0.75) for a fixed
    3-term query — the lexical-search scoring the tfidf op builds
    toward, and the retrieval half of a RAG data pipeline. Plan shape:
    the term filter lands immediately after the explode so only
    query-term postings aggregate (at 100 TB with an inverted layout
    this is the posting-list read); df is a |query| -row broadcast;
    N/avgdl arrive via a broadcast 1-row aggregate — no collect. Scores
    are rounded to 4 dp BEFORE ranking on (score, doc_id) so the top-20
    cut is identical across engines (§5.3 rules 2/3)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    docs = d.select("doc_id", F.size(toks).cast("long").alias("dl"), toks.alias("toks"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin("join", "vector", "stream"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"), F.min("dl").alias("dl"))
        .persist()  # feeds df_t + the score join; ≤3 rows per matching doc
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("bm25"))
    )
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("doc_id", "bm25")
    )


_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), b AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg
  FROM t
)
SELECT doc_id, n_tokens, n_distinct,
       round(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS distinct_frac,
       round(CAST(list_max(list_transform(list_distinct(bg),
                   x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
             / len(bg), 4) AS top_bigram_frac,
       (CAST(n_distinct AS DOUBLE) / n_tokens >= 0.2
        AND CAST(list_max(list_transform(list_distinct(bg),
                  x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
            / len(bg) <= 0.2) AS passes
FROM b
WHERE len(bg) > 0
"""


@query("text_repetition_filter", oracle=_REPETITION_ORACLE, survey_id="B-62-ext")
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style intra-document repetition signals:
    distinct-token fraction and most-frequent-bigram mass per document,
    with the pass/fail gate (distinct ≥ 0.2, top-bigram ≤ 0.2) the
    quality pipelines threshold on. Everything is ROW-LOCAL higher-order
    array algebra (transform/filter/array_distinct over the token list)
    — zero shuffle, embarrassingly parallel, which is why these filters
    are cheap enough to run over a full 100 TB crawl before any
    corpus-level op. The O(distinct·n) per-row bigram count is bounded
    by document length, not corpus size. Fractions are rounded to 4 dp
    in both engines before the comparison (§5.3 rule 2)."""
    d = table(spark, sf_dir, "documents")
    # Let-binding idiom (r11, same fix as dedup._shingles): the chained
    # toks/bg aliases were re-inlined by CollapseProject/predicate
    # pushdown, so the plan re-split the text per bigram element AND
    # re-built the bigram list inside the per-distinct-bigram count
    # lambda (6 split sites in the optimized plan, O(n^2) re-splits per
    # doc). Everything row-local is now computed once inside one
    # let-bound struct; explode(array(...)) is the projection barrier
    # that stops the optimizer duplicating the struct into the filter
    # and the per-field extractions (measured 33.0 s -> 3.8 s at sf1,
    # row-identical; the residual is the O(distinct x n) per-doc bigram
    # count both engines share).
    s = F.explode(
        F.array(
            F.expr(
                """
                transform(array(split(lower(text), ' ')), ws ->
                  transform(
                    array(transform(sequence(1, size(ws) - 1),
                            i -> concat(element_at(ws, cast(i AS INT)), ' ',
                                        element_at(ws, cast(i + 1 AS INT))))),
                    bg -> named_struct(
                      'n_tokens', CAST(size(ws) AS BIGINT),
                      'n_distinct', CAST(size(array_distinct(ws)) AS BIGINT),
                      'n_bigrams', size(bg),
                      'top', CAST(array_max(transform(array_distinct(bg),
                                    x -> size(filter(bg, y -> y = x))))
                                  AS DOUBLE)))[0])[0]
                """
            )
        )
    )
    dfrac = F.col("s.n_distinct").cast("double") / F.col("s.n_tokens")
    bfrac = F.col("s.top") / F.col("s.n_bigrams")
    return (
        d.select("doc_id", s.alias("s"))
        .where(F.col("s.n_bigrams") > 0)
        .select(
            "doc_id",
            F.col("s.n_tokens").alias("n_tokens"),
            F.col("s.n_distinct").alias("n_distinct"),
            F.round(dfrac, 4).alias("distinct_frac"),
            F.round(bfrac, 4).alias("top_bigram_frac"),
            ((dfrac >= 0.2) & (bfrac <= 0.2)).alias("passes"),
        )
    )


# ---------------------------------------------------------------------------
# text_crossdoc_substring — repeated-substring detection across documents
# ---------------------------------------------------------------------------

_XDOC_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
wins AS (
  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS w
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
  ) g
),
shared AS (
  SELECT w FROM wins GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(COUNT(*) FILTER (WHERE s.w IS NOT NULL) AS BIGINT) AS n_shared,
       round(CAST(COUNT(*) FILTER (WHERE s.w IS NOT NULL) AS DOUBLE)
             / COUNT(*), 4) AS shared_ratio
FROM wins LEFT JOIN shared s USING (w)
GROUP BY doc_id
HAVING COUNT(*) FILTER (WHERE s.w IS NOT NULL) > 0
"""


@query("text_crossdoc_substring", oracle=_XDOC_ORACLE, survey_id="north-star")
def text_crossdoc_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring detection — the distributed
    analog of exact-substring training-data dedup (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better'): every
    8-token rolling window of every doc is keyed and windows occurring
    in ≥2 DISTINCT docs are flagged; each doc reports how much of its
    text is boilerplate shared with the rest of the corpus.

    The 100 TB shape: one explode to (doc, window-position) rows keyed
    by ``xxhash64(window)`` — 8 bytes instead of ~50, exactly what the
    suffix-array paper's production pipelines key on (collision odds at
    N windows are N²/2⁶⁵: ~3e-10 at the sf0.01 correctness gate, ~1e-5
    at a 100 TB-scale 10¹² windows — below any dedup pipeline's noise
    floor); one agg keyed by window hash to find shared windows, one
    keyed join back, one per-doc agg. Never doc×doc; never a suffix
    array held in one memory space — the window key IS the shard key,
    which is why this expresses the suffix-array algorithm's outcome as
    three keyed shuffles. Window construction NEVER BUILDS THE WINDOW
    STRING: tokens are posexploded and each window is the 8-tuple
    (token, lead(token,1..7)) hashed as one multi-column xxhash64 —
    split-by-space tokens contain no spaces, so the 8-tuple ↔ joined
    string map is a bijection and the grouping is identical to the
    oracle's string keys. Two r7 bench findings forced this shape
    (30.6 s → ~6 s at sf1):

    1. NEVER project an expression over the generator input alongside
       the generator: ``select(size(split(text)), explode(split(text)))``
       re-evaluates the split PER GENERATED ROW inside GenerateExec
       (measured: 0.4 s → 8.8 s on 2.7M tokens). The token array is
       materialized with ``withColumn`` FIRST, so size/sequence/slice
       all read the bound array.
    2. Don't build the window string at all: per window,
       ``xxhash64(slice(arr, i+1, 8))`` hashes the token slice directly
       (2.4 s) where ``array_join`` string construction cost 11 s —
       and it beats even the posexplode + 7×lead() window-pass
       formulation (5.4 s) because it needs no shuffle.

    The r8 rewrite replaced the r7 persist+join shape (persist the
    2.7M-row hashed-window relation, count_distinct per window, left-
    join back — three shuffles, one carrying the full window relation
    twice, plus a never-freed cache) with a JOIN-FREE single-heavy-
    shuffle plan, measured A/B at sf1 (min-of-3 warm, local[32]):

      r7 persist+join      8.80 s   (and 14.5x the DuckDB marginal)
      3-agg collect_list   8.63 s
      this plan            3.26 s   (~1.2x DuckDB absolute, same run)

    Three ideas compound (each measured in the last committed A/B,
    BASELINE.md "Closed plan A/Bs"):

    1. TOKEN RECODE BEFORE WINDOW HASHING: tokens are hashed ONCE
       (``transform(arr, t -> xxhash64(t))`` — n string hashes per doc),
       then each window key is ``xxhash64`` of the 8 token-hash LONGS
       fetched by index (``F.get`` — null past the end, and Spark's
       hash functions skip null args, so a short doc's whole-text
       window hashes its n<8 longs — the same whole-text semantics,
       collision odds unchanged at ~N²/2⁶⁵). No per-window array
       allocation, no per-window string hashing: generation alone
       dropped 2.19 s → 1.70 s at sf1.
    2. SHARED == (MIN(doc_id) != MAX(doc_id)) OVER (PARTITION BY w):
       "appears in ≥2 distinct docs" needs no count_distinct, no
       per-(w,doc) pre-aggregate and no join back — one shuffle+sort
       of the 16-byte (doc_id, w) rows, one streaming window pass,
       and the flag is on every window instance already attributed to
       its doc. n_windows and n_shared then fall out of ONE per-doc
       aggregate (count + sum of the flag) — nothing else is carried
       through the heavy shuffle.
    3. FAN-OUT REPARTITION GUARD: the explode inherits the scan's
       partitioning, and a fixture with few row groups caps the
       generation stage at that many tasks (10 tasks on 32 cores at
       sf1 → 1.3x slower end-to-end). When the scan yields fewer
       splits than defaultParallelism the doc rows (cheap side) are
       repartitioned first; at 100 TB the scan has thousands of
       splits and the guard is a no-op.

    Scale shape: the single heavy shuffle is keyed by the 64-bit
    window hash — uniformly distributed by construction, no skewed
    key possible, and the window min/max is a streaming pass over
    each sorted run (no per-key state beyond the run)."""
    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    # Null-text docs are dropped ONCE here, for both subtrees (ADVICE
    # r10 #4): without the filter, size(null) = -1 makes the window
    # sequence non-empty and xxhash64 of all-null args returns the
    # seed, so every null doc would emit one seed-valued window row —
    # unreachable through the nw join, but a stray key in the w
    # aggregate and a 2^-64 collision hazard against real hashes.
    da = (
        d.withColumn("arr", F.split(F.lower(F.col("text")), " "))
        .where(F.col("arr").isNotNull())
        .withColumn("ha", F.transform("arr", lambda t: F.xxhash64(t)))
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
    # r10 lever (VERDICT r09 #4): the r8 plan's single heavy shuffle fed
    # a WINDOW (min/max over partition by w) — shuffle + TOTAL SORT of
    # every window instance. This shape needs no sort at all:
    #   n_windows  is per-doc ARITHMETIC (greatest(|toks|-8,0)+1 — the
    #              size of the generated sequence), no explode, no
    #              shuffle beyond a |docs|-row aggregate;
    #   n_shared   = n_windows - n_unshared, and an UNSHARED window
    #              group (min_doc == max_doc over w) attributes all its
    #              instances to that single doc — so one HASH aggregate
    #              keyed by w (map-side partial combine collapses
    #              within-partition repeats before the wire) followed by
    #              a doc-keyed rollup of the unshared groups replaces
    #              the sort entirely. Both post-shuffle relations reduce
    #              map-side to |docs| rows; the final join is
    #              metadata-scale. Measured at sf1 (min-of-3 warm,
    #              local[32]): 3.26 s (r8 window plan) -> see
    #              BASELINE.md "Closed plan A/Bs".
    # null-text docs are already gone (filtered at da, above), exactly
    # as in the oracle's unnest
    nw = da.select(
        "doc_id",
        (F.greatest(F.size("arr") - 8, F.lit(0)) + 1).cast("long").alias("n_windows"),
    )
    g = wins.groupBy("w").agg(
        F.min("doc_id").alias("dmin"),
        F.max("doc_id").alias("dmax"),
        F.count(F.lit(1)).alias("cnt"),
    )
    unsh = (
        g.where(F.col("dmin") == F.col("dmax"))
        .groupBy(F.col("dmin").alias("doc_id"))
        .agg(F.sum("cnt").alias("n_unshared"))
    )
    return (
        nw.join(unsh, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            (F.col("n_windows") - F.coalesce(F.col("n_unshared"), F.lit(0)))
            .cast("long")
            .alias("n_shared"),
        )
        .where(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_windows",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("n_windows"), 4).alias(
                "shared_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# text_quality_linear_scorer — hashed-feature linear quality model (round 7)
# ---------------------------------------------------------------------------

_QUALITY_LINEAR_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
), feat AS (
  SELECT doc_id,
         ((ascii(substr(md5(t), 1, 1)) * 256
           + ascii(substr(md5(t), 2, 1))) % 64) AS b
  FROM tok
), sc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM((b * 37) % 13 - 6) AS BIGINT) AS wsum
  FROM feat GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(CAST(wsum AS DOUBLE) / n_tokens, 4) AS score,
       (wsum > 0) AS passes
FROM sc
"""


@query("text_quality_linear_scorer", oracle=_QUALITY_LINEAR_ORACLE, survey_id="north-star")
def text_quality_linear_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring plumbing (the fastText-classifier
    stage of a pretraining pipeline, e.g. CCNet/LLaMA-style quality
    filters) with the MODEL replaced by a deterministic stand-in: tokens
    are feature-HASHED into 64 buckets (first two md5 hex chars — md5
    being the one cross-engine-identical hash, SURVEY §5.3 rule 7) and
    scored by a fixed integer weight per bucket ((b*37)%13-6, a closed
    form standing in for the trained weight vector). Real deployment
    swaps the closed form for a broadcast 64-row (or 2**20-row) weight
    table — the plan shape is IDENTICAL: explode → map-side bucket
    projection → one keyed aggregate per doc; weights join via broadcast
    (never a shuffle — the weight table is KBs at any corpus size).
    Integer weight sums are exact on both engines; the only float op is
    the final per-doc mean, rounded per §5.3 rule 2. Per-doc output:
    (n_tokens, score, pass verdict) — the gate the B-62 heuristic filter
    composes with."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
    )
    md5 = F.md5(F.col("t"))
    bucket = (
        F.ascii(F.substring(md5, 1, 1)) * 256 + F.ascii(F.substring(md5, 2, 1))
    ) % 64
    weight = (bucket * 37) % 13 - 6
    sc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(weight).cast("long").alias("wsum"),
    )
    return sc.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("wsum").cast("double") / F.col("n_tokens"), 4).alias("score"),
        (F.col("wsum") > 0).alias("passes"),
    )
