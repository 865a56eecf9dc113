"""Property tests (SURVEY.md §7: "property-test as-of against DuckDB's
native ASOF"). Seeded random corpora exercise edges the fixture lacks —
duplicate timestamps, users with no signup, signup-first/last orderings.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import assert_frames_match


def _random_events(seed: int, n: int = 2000) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    # whole-second timestamps force (user, ts) ties — the as-of edge case
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        rng.integers(0, 86400, n), unit="s"
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts,
            "user_id": rng.integers(0, 20, n).astype("int64"),
            "event_type": rng.choice(
                ["click", "signup", "view"], n, p=[0.6, 0.1, 0.3]
            ),
        }
    )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_asof_rewrite_matches_duckdb_native(spark, seed):
    pdf = _random_events(seed)
    sdf = spark.createDataFrame(pdf)
    sig_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    got = sdf.select(
        "event_id",
        "user_id",
        "ts",
        F.last(sig_ts, ignorenulls=True).over(w).alias("last_signup_ts"),
    ).toPandas()

    con = duckdb.connect()
    con.register("ev", pdf)
    want = con.execute(
        """
        SELECT e.event_id, e.user_id, e.ts, s.ts AS last_signup_ts
        FROM ev e
        ASOF LEFT JOIN (SELECT user_id, ts FROM ev WHERE event_type = 'signup') s
          ON e.user_id = s.user_id AND e.ts >= s.ts
        """
    ).fetchdf()
    con.close()
    assert_frames_match(got, want, f"asof seed={seed}")


@pytest.mark.parametrize("seed", [0, 7])
def test_cents_roundtrip_exact(spark, seed):
    """cents() recovers the exact integer for any 2dp-generated double,
    positive or negative, across the money magnitude range."""
    from cloudtrail_streamer_spark.functions import cents

    rng = np.random.default_rng(seed)
    true_cents = rng.integers(-10**9, 10**9, 5000).astype("int64")
    pdf = pd.DataFrame({"x": true_cents / 100.0, "want": true_cents})
    sdf = spark.createDataFrame(pdf)
    bad = sdf.withColumn("got", cents("x")).where(F.col("got") != F.col("want")).count()
    assert bad == 0


def test_media_header_roundtrip_property():
    """Property: for ANY dims/params in the supported range, synthesized
    payloads parse back to exactly the inputs (all three image formats +
    WAV), and truncated payloads never parse successfully to wrong dims."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cloudtrail_streamer_spark.operators.multimodal import (
        make_bmp,
        make_gif,
        make_png,
        make_wav,
        parse_image_header,
        parse_wav_header,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=512),
        h=st.integers(min_value=1, max_value=512),
        fmt=st.sampled_from(["png", "gif", "bmp"]),
    )
    def image_prop(w, h, fmt):
        maker = {"png": make_png, "gif": make_gif, "bmp": make_bmp}[fmt]
        got_fmt, got_w, got_h = parse_image_header(maker(w, h))
        assert (got_fmt, got_w, got_h) == (fmt, w, h)

    @settings(max_examples=40, deadline=None)
    @given(
        rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
        ch=st.integers(min_value=1, max_value=8),
        n=st.integers(min_value=0, max_value=10000),
    )
    def wav_prop(rate, ch, n):
        assert parse_wav_header(make_wav(rate, ch, n)) == (rate, ch, n)

    image_prop()
    wav_prop()


@pytest.mark.parametrize("seed", [0, 1])
def test_bloom_prefilter_equals_plain_join(spark, seed):
    """join_bloom_prefilter's invariant: the hash-bucket semi-join
    prefilter admits false positives but never false negatives, so
    prefilter + exact join == plain join for ANY build-side filter.
    Random keyed tables, tiny bucket space (64) to force heavy false
    positives — the exact join must still remove every one."""
    rng = np.random.default_rng(seed)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 500, 3000).astype("int64"),
            "v": rng.integers(0, 100, 3000).astype("int64"),
        }
    )
    right = pd.DataFrame({"k": rng.choice(500, 40, replace=False).astype("int64")})
    sl, sr = spark.createDataFrame(left), spark.createDataFrame(right)
    m = 64  # deliberately tiny => dense false positives
    buckets = sr.select(
        F.pmod(F.xxhash64(F.col("k").cast("long")), F.lit(m)).alias("bkt")
    ).distinct()
    pre = (
        sl.withColumn("bkt", F.pmod(F.xxhash64(F.col("k").cast("long")), F.lit(m)))
        .join(F.broadcast(buckets), "bkt", "left_semi")
        .drop("bkt")
    )
    got = (
        pre.join(sr, "k")
        .groupBy("k")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    want = (
        sl.join(sr, "k")
        .groupBy("k")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    assert_frames_match(got, want, "bloom_prefilter_equivalence")


def test_theta_sketch_exact_below_capacity(spark):
    """agg_theta_sketch_setops relies on theta sketches being EXACT in
    exact mode (below ~4096 retained hashes at default lgK=12). Pin
    that: union/intersection/difference estimates over two 1500-element
    integer sets equal the true set-algebra counts exactly."""
    a = spark.range(0, 1500).select(F.col("id").alias("x"))
    b = spark.range(1000, 2500).select(F.col("id").alias("x"))
    ska = a.agg(F.theta_sketch_agg("x").alias("s"))
    skb = b.agg(F.theta_sketch_agg("x").alias("s"))
    row = (
        ska.crossJoin(skb.withColumnRenamed("s", "t"))
        .select(
            F.theta_sketch_estimate(F.theta_union("s", "t")).alias("u"),
            F.theta_sketch_estimate(F.theta_intersection("s", "t")).alias("i"),
            F.theta_sketch_estimate(F.theta_difference("s", "t")).alias("d"),
        )
        .collect()[0]
    )
    assert (row.u, row.i, row.d) == (2500, 500, 1000)


def _lev(a: str, b: str) -> int:
    """Plain DP Levenshtein (reference implementation for the property)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _symdelete_variants(s: str) -> set[str]:
    """Mirror of join_fuzzy_symdelete's SQL variant generation."""
    return {s} | {s[:i] + s[i + 1 :] for i in range(len(s))}


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_symdelete_blocking_is_lossless(seed):
    """THE safety property of join_fuzzy_symdelete: any two strings
    within Levenshtein distance 1 share at least one deletion variant,
    so the equi-join candidate set can never miss a true pair. Random
    strings over a small alphabet maximize near-collisions."""
    rng = np.random.default_rng(seed)
    words = [
        "".join(rng.choice(list("abc"), size=rng.integers(1, 7)))
        for _ in range(120)
    ]
    for i, a in enumerate(words):
        va = _symdelete_variants(a)
        for b in words[i + 1 :]:
            if _lev(a, b) <= 1:
                assert va & _symdelete_variants(b), (a, b)


def _skyline_bruteforce(pts: set[tuple[int, int]]) -> set[tuple[int, int]]:
    return {
        (p, s)
        for (p, s) in pts
        if not any(
            (q <= p and t >= s and (q < p or t > s)) for (q, t) in pts
        )
    }


def _skyline_windowed(pts: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Mirror of win_skyline_pareto's prefix-max rewrite."""
    by_price: dict[int, int] = {}
    for p, s in pts:
        by_price[p] = max(by_price.get(p, -1), s)
    out = set()
    max_cheaper = -1
    for p in sorted(by_price):
        if by_price[p] > max_cheaper:
            out.add((p, by_price[p]))
        max_cheaper = max(max_cheaper, by_price[p])
    return out


@pytest.mark.parametrize("seed", [5, 17, 31])
def test_skyline_rewrite_equals_bruteforce(seed):
    """win_skyline_pareto's O(N log N) prefix-max rewrite must select
    exactly the O(N²) NOT-EXISTS skyline, including tied prices, tied
    sizes, and duplicate points."""
    rng = np.random.default_rng(seed)
    pts = {
        (int(p), int(s))
        for p, s in zip(rng.integers(0, 15, 200), rng.integers(0, 15, 200))
    }
    assert _skyline_windowed(pts) == _skyline_bruteforce(pts)


def test_udaf_cents_tie_rounding_matches_oracle(spark):
    """ADVICE r03: the grouped-agg UDAF's per-value cent rounding must be
    half-AWAY-FROM-ZERO (DuckDB round(), shared cents() semantics), not
    pandas/banker's half-to-even. Exercised on exact .5-cent ties in
    both signs — the one input class where the two rules diverge."""
    import pandas as pd

    # exactly-representable binary ties: eighths, so value*100 IS k+0.5
    # (0.005-style values are not exact in binary and never actually tie);
    # asymmetric so the two rounding rules produce different SUMS
    ties = [0.125, 0.625, -0.125, 2.125]
    pdf = pd.DataFrame({"event_type": ["t"] * len(ties), "value": ties})
    sdf = spark.createDataFrame(pdf)

    from pyspark.sql.functions import pandas_udf

    # reuse the op's kernel by calling the registered query's module fn
    import numpy as np

    @pandas_udf("long")
    def sum_cents_udaf(v: pd.Series) -> int:
        scaled = (v * 100).to_numpy()
        return int(
            (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype("int64").sum()
        )

    got = sdf.groupBy("event_type").agg(sum_cents_udaf(F.col("value")).alias("s"))
    import duckdb

    want = duckdb.connect().execute(
        "SELECT CAST(SUM(CAST(round(v * 100, 0) AS BIGINT)) AS BIGINT) "
        f"FROM (SELECT unnest({ties}) AS v)"
    ).fetchone()[0]
    assert got.collect()[0]["s"] == want
    # and the banker's-rounding form would NOT match on this input
    bankers = int(pd.Series(ties).mul(100).round().astype("int64").sum())
    assert bankers != want, "tie fixture must actually discriminate"


def test_md5_prefix_hash_parity_random(spark):
    """The md5-prefix 32-bit hash used by the H-tier dedup pipeline must
    agree bit-for-bit between Spark (conv/substring) and DuckDB
    ('0x'||substr cast) on arbitrary shingle strings."""
    import duckdb
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "Γ", "δ", "x'y", 'q"z', "tab\tsep", "sp ace"]
    samples = [
        " ".join(rng.choices(words, k=rng.randint(1, 6))) + f"#{i}"
        for i in range(200)
    ]
    pdf = __import__("pandas").DataFrame({"s": samples})
    got = dict(
        spark.createDataFrame(pdf)
        .select(
            "s",
            F.expr(
                "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .collect()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = dict(
        con.execute(
            "SELECT s, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) FROM t"
        ).fetchall()
    )
    assert got == want


def test_dynamic_gap_session_matches_reference(spark):
    """Property: Spark's dynamic-gap session_window must equal a pure-
    Python interval-merge reference on randomized event streams — the
    semantics under test are the subtle ones: a long-gap event can hold
    a session open ACROSS a later short-gap event's timeout, so the
    session end is the running MAX of per-event (ts + gap), not the
    last event's gap (the round-7 B-47-ext contract; the DuckDB oracle
    uses the same running-max rewrite)."""
    import datetime
    import random

    from cloudtrail_streamer_spark.streaming.windows_stream import dyn_session_stats

    rng = random.Random(42)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in range(8):
        t = 0.0
        for _ in range(rng.randint(1, 40)):
            t += rng.choice([30, 120, 540, 660, 3300, 3900, 7200])
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(seconds=t),
                    user,
                    rng.choice(["click", "view", "purchase", "error", "signup"]),
                    1.0,
                    "{}",
                )
            )
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )

    # pure-Python reference: running-max interval merge
    GAP = {"click": 600, "view": 600}
    want = {}
    for user, grp in pdf.groupby("user_id"):
        grp = grp.sort_values("ts")
        sess_start, sess_end, n, last = None, None, 0, None
        for _, r in grp.iterrows():
            g = GAP.get(r["event_type"], 3600)
            end = r["ts"] + datetime.timedelta(seconds=g)
            if sess_start is None or r["ts"] >= sess_end:
                if sess_start is not None:
                    want[(user, sess_start)] = (
                        n,
                        int((last - sess_start).total_seconds() * 1000),
                    )
                sess_start, sess_end, n = r["ts"], end, 0
            sess_end = max(sess_end, end)
            n += 1
            last = r["ts"]
        if sess_start is not None:
            want[(user, sess_start)] = (
                n,
                int((last - sess_start).total_seconds() * 1000),
            )

    sdf = spark.createDataFrame(pdf)
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["duration_ms"])
        for r in dyn_session_stats(sdf).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed", [11, 23])
def test_mann_whitney_matches_bruteforce(spark, seed):
    """The engine's rank-sum formulation (2*rmin+cnt-1 integer average
    ranks, tie-corrected sigma) must equal a from-first-principles
    computation on a random small sample (stats_tests.py r8)."""
    rng = np.random.default_rng(seed)
    va = rng.integers(0, 20, 60).astype(float)  # heavy ties on purpose
    vb = rng.integers(3, 23, 40).astype(float)
    rows = [(float(v), 1) for v in va] + [(float(v), 0) for v in vb]
    df = spark.createDataFrame(rows, "value double, is_a int")
    r = df.select(
        "is_a",
        F.rank().over(Window.orderBy("value")).alias("rmin"),
        F.count(F.lit(1)).over(Window.partitionBy("value")).alias("cnt"),
    )
    t = r.agg(
        F.sum(
            F.when(F.col("is_a") == 1, 2 * F.col("rmin") + F.col("cnt") - 1).otherwise(0)
        ).alias("r2a")
    ).collect()[0]
    u_engine = t["r2a"] / 2.0 - len(va) * (len(va) + 1) / 2.0
    # brute force: average ranks via numpy
    allv = np.concatenate([va, vb])
    order = np.argsort(allv, kind="stable")
    ranks = np.empty(len(allv))
    sorted_v = allv[order]
    i = 0
    while i < len(sorted_v):
        j = i
        while j < len(sorted_v) and sorted_v[j] == sorted_v[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0  # average of ranks i+1..j
        i = j
    u_brute = ranks[: len(va)].sum() - len(va) * (len(va) + 1) / 2.0
    assert u_engine == pytest.approx(u_brute, abs=1e-9)


@pytest.mark.parametrize("seed", [7])
def test_ks_matches_bruteforce(spark, seed):
    """The prefix-sum KS distance must equal the direct two-sample ECDF
    sup-distance on a random sample (stats_tests.py r8)."""
    rng = np.random.default_rng(seed)
    va = np.round(rng.normal(0, 1, 80), 2)
    vb = np.round(rng.normal(0.4, 1.2, 50), 2)
    rows = [(float(v), "click") for v in va] + [(float(v), "purchase") for v in vb]
    df = spark.createDataFrame(rows, "value double, event_type string")
    byv = df.groupBy("value").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("na"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("nb"),
    )
    run = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    glob = Window.partitionBy()
    d = byv.select(
        F.abs(
            F.sum("na").over(run).cast("double") / F.sum("na").over(glob)
            - F.sum("nb").over(run).cast("double") / F.sum("nb").over(glob)
        ).alias("d")
    ).agg(F.max("d").alias("ks")).collect()[0]["ks"]
    grid = np.unique(np.concatenate([va, vb]))
    fa = np.searchsorted(np.sort(va), grid, side="right") / len(va)
    fb = np.searchsorted(np.sort(vb), grid, side="right") / len(vb)
    assert d == pytest.approx(np.abs(fa - fb).max(), abs=1e-12)


def test_power_iteration_converges_toward_numpy_eig(spark):
    """Three power steps on the sf0.001 covariance, checked against
    numpy's eigendecomposition via the properties power iteration
    GUARANTEES regardless of spectrum shape (the random-embedding
    covariance is nearly isotropic — top-5 eigenvalues within ~15% — so
    3 steps cannot pin the exact eigenvector; what they must do is
    bound the norm estimate by λ_max, amplify the top component over
    the flat start, and return a unit iterate). Measured on this
    fixture: λ_est/λ_max ≈ 0.77, cos 0.176 vs flat-start 0.054
    (stats_tests.py r8)."""
    from cloudtrail_streamer_spark.registry import all_queries

    cov_rows = all_queries()["embed_covariance_matrix"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    c = np.zeros((64, 64))
    for row in cov_rows:
        c[row["i"], row["j"]] = row["cov"]
        c[row["j"], row["i"]] = row["cov"]
    res = all_queries()["embed_power_iteration"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    v = np.array([r["eigvec"] for r in sorted(res, key=lambda r: r["i"])])
    lam = res[0]["eigenvalue"]
    w, vecs = np.linalg.eigh(c)
    top = np.abs(w).argmax()
    lam_max = abs(w[top])
    assert lam <= lam_max * (1 + 1e-9)  # ||Cv|| <= lam_max for unit v
    assert lam >= lam_max * 0.5  # meaningful progress from a flat start
    assert np.linalg.norm(v) == pytest.approx(1.0, abs=1e-4)
    v0 = np.full(64, 1 / 8)
    cos = abs(float(v @ vecs[:, top]))
    cos0 = abs(float(v0 @ vecs[:, top]))
    assert cos > cos0  # monotone amplification of the top component


# ---------------------------------------------------------------------------
# Mirrored-flaw audit (VERDICT r09 #3): the r8 winsorized-mean lesson is
# that an identical bug in the Spark query AND its oracle SQL still
# hash-passes. Each formula-heavy op below is therefore checked against a
# THIRD, from-first-principles implementation (pure Python/numpy) on a
# small fixture chosen so every distinctive term of the formula provably
# bites (smoothing, length normalization, higher moments, decay weights).
# ---------------------------------------------------------------------------

import math


def _fixture_dir(spark, tmp_path, tables: dict[str, "pd.DataFrame"], schemas: dict[str, str]) -> str:
    """Write a tiny parquet catalog dir the registry ops can read."""
    d = str(tmp_path)
    for t, pdf in tables.items():
        spark.createDataFrame(pdf, schema=schemas[t]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{t}.parquet")
    return d


_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate timestamp"
)
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _docs_pdf(texts: list[str]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype="int64"),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["web"] * len(texts),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def test_perplexity_formula_bites(spark, tmp_path):
    """text_perplexity_score vs a from-scratch add-one bigram LM.
    The fixture repeats bigram 'a b' so n_pair varies, and its vocab is
    small so the +V smoothing term is a large fraction of the
    denominator — drop either +1 or +V and ppl_bits provably moves."""
    from cloudtrail_streamer_spark.registry import all_queries

    texts = ["a b a b c", "a b b c", "c a a b"]
    d = _fixture_dir(spark, tmp_path, {"documents": _docs_pdf(texts)}, {"documents": _DOCS_SCHEMA})
    got = {
        r["doc_id"]: (r["n_bigrams"], r["ppl_bits"], r["keep_quality"])
        for r in all_queries()["text_perplexity_score"](spark, d).collect()
    }
    # independent recompute
    toks = [t.lower().split(" ") for t in texts]
    vocab = {w for ws in toks for w in ws}
    pair, ctx = {}, {}
    for ws in toks:
        for w1, w2 in zip(ws, ws[1:]):
            pair[(w1, w2)] = pair.get((w1, w2), 0) + 1
            ctx[w1] = ctx.get(w1, 0) + 1
    for i, ws in enumerate(toks):
        bits = [
            -math.log2((pair[(w1, w2)] + 1) / (ctx[w1] + len(vocab)))
            for w1, w2 in zip(ws, ws[1:])
        ]
        want = round(sum(bits) / len(bits), 4)
        assert got[i][0] == len(bits)
        assert got[i][1] == pytest.approx(want, abs=1e-9)
        assert got[i][2] == (sum(bits) / len(bits) < 9.0)
    # the smoothing terms must bite on this fixture: a flawed engine
    # that dropped +1/+V (mirrored in the oracle) would still agree
    # with itself, but not with this recompute
    unsmoothed = -math.log2(pair[("a", "b")] / ctx["a"])
    smoothed = -math.log2((pair[("a", "b")] + 1) / (ctx["a"] + len(vocab)))
    assert abs(unsmoothed - smoothed) > 0.3


def test_bm25_formula_bites(spark, tmp_path):
    """text_bm25_topk vs from-scratch Okapi BM25 (k1=1.2, b=0.75).
    Docs differ in length AND term frequency, so both the tf-saturation
    and the dl/avgdl length-normalization terms move scores; a doc with
    high tf but long body must NOT outrank purely on tf."""
    from cloudtrail_streamer_spark.registry import all_queries

    texts = [
        "join vector stream",                             # short, all terms
        "join join join filler filler filler filler filler",  # tf-heavy, long
        "vector stream pad pad",                          # two terms, medium
        "stream one two three four five six seven eight nine ten",  # long tail
        "no query terms here at all",
    ]
    d = _fixture_dir(spark, tmp_path, {"documents": _docs_pdf(texts)}, {"documents": _DOCS_SCHEMA})
    got = {r["doc_id"]: r["bm25"] for r in all_queries()["text_bm25_topk"](spark, d).collect()}
    toks = [t.lower().split(" ") for t in texts]
    dls = [len(ws) for ws in toks]
    n_docs, avgdl = len(toks), sum(dls) / len(dls)
    terms = ("join", "vector", "stream")
    df = {q: sum(1 for ws in toks if q in ws) for q in terms}
    want = {}
    for i, ws in enumerate(toks):
        s = 0.0
        for q in terms:
            tf = ws.count(q)
            if not tf:
                continue
            idf = math.log((n_docs - df[q] + 0.5) / (df[q] + 0.5) + 1.0)
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dls[i] / avgdl))
        if s:
            want[i] = round(s, 4)
    assert got == pytest.approx(want, abs=1e-9)
    # length normalization must bite: recomputing doc 1 (tf-heavy, long)
    # WITHOUT the b-term (dl/avgdl -> 1) moves its score by >5%, so a
    # mirrored slip in the normalization could not hash-pass this fixture
    idf_j = math.log((n_docs - df["join"] + 0.5) / (df["join"] + 0.5) + 1.0)
    no_b = idf_j * 3 * 2.2 / (3 + 1.2)
    assert abs(no_b - want[1]) / want[1] > 0.05


def test_ols_formula_bites(spark, tmp_path):
    """agg_regression_ols vs numpy.polyfit on scattered (not collinear)
    points with a non-zero intercept — dropping the intercept term or
    mixing up Σxy/ΣxΣy (mirrored in both engines) would diverge."""
    from cloudtrail_streamer_spark.registry import all_queries

    q = [1, 2, 3, 4, 5, 7, 9, 12]
    price = [3.11, 5.02, 6.97, 9.30, 10.85, 15.16, 18.77, 25.10]
    n = len(q)
    pdf = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype="int64"),
            "l_partkey": np.ones(n, dtype="int64"),
            "l_suppkey": np.ones(n, dtype="int64"),
            "l_linenumber": np.arange(n, dtype="int32"),
            "l_quantity": np.array(q, dtype="float64"),
            "l_extendedprice": np.array(price, dtype="float64"),
            "l_discount": np.zeros(n),
            "l_tax": np.zeros(n),
            "l_returnflag": ["A"] * n,
            "l_linestatus": ["O"] * n,
            "l_shipdate": pd.to_datetime(["2024-01-01"] * n),
        }
    )
    d = _fixture_dir(spark, tmp_path, {"lineitem": pdf}, {"lineitem": _LI_SCHEMA})
    row = all_queries()["agg_regression_ols"](spark, d).collect()[0]
    y_cents = np.round(np.array(price) * 100.0)
    slope_c, inter_c = np.polyfit(np.array(q, dtype=float), y_cents, 1)
    assert row["n"] == n
    assert row["slope"] == pytest.approx(slope_c / 100.0, abs=2e-4)
    assert row["intercept"] == pytest.approx(inter_c / 100.0, abs=2e-4)
    assert abs(inter_c / 100.0) > 0.3  # the intercept term genuinely bites


def test_moments_formula_bites(spark, tmp_path):
    """agg_moments_exact (raw power sums) vs central-moment numpy on a
    deliberately skewed sample — a mirrored sign/coefficient slip in the
    m3/m4 expansion would diverge from the central formulation."""
    from cloudtrail_streamer_spark.registry import all_queries

    q = [1, 1, 1, 2, 2, 3, 4, 9, 15, 30]  # right-skewed
    n = len(q)
    pdf = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype="int64"),
            "l_partkey": np.ones(n, dtype="int64"),
            "l_suppkey": np.ones(n, dtype="int64"),
            "l_linenumber": np.arange(n, dtype="int32"),
            "l_quantity": np.array(q, dtype="float64"),
            "l_extendedprice": np.ones(n),
            "l_discount": np.zeros(n),
            "l_tax": np.zeros(n),
            "l_returnflag": ["A"] * n,
            "l_linestatus": ["O"] * n,
            "l_shipdate": pd.to_datetime(["2024-01-01"] * n),
        }
    )
    d = _fixture_dir(spark, tmp_path, {"lineitem": pdf}, {"lineitem": _LI_SCHEMA})
    row = all_queries()["agg_moments_exact"](spark, d).collect()[0]
    x = np.array(q, dtype=float)
    mu = x.mean()
    var = ((x - mu) ** 2).mean()
    skew = ((x - mu) ** 3).mean() / var**1.5
    kurt = ((x - mu) ** 4).mean() / var**2 - 3.0
    assert row["mean"] == pytest.approx(mu, abs=2e-4)
    assert row["var_pop"] == pytest.approx(var, abs=2e-4)
    assert row["skewness"] == pytest.approx(skew, abs=2e-4)
    assert row["kurtosis_excess"] == pytest.approx(kurt, abs=2e-4)
    assert skew > 1.0 and kurt > 1.0  # higher moments genuinely bite


def test_pmi_formula_bites(spark, tmp_path):
    """text_pmi_bigrams vs a from-scratch PMI table. The fixture pushes
    one bigram over the c12>=5 floor with UNBALANCED unigram counts, so
    swapping c(a)*c(b) for c(a)+c(b) or dropping N (mirrored) moves the
    value."""
    from cloudtrail_streamer_spark.registry import all_queries

    texts = [
        "x y x y x y q q q q q q x",
        "x y x y z z x x y w",
        "z w z w z w z w z q",
        "x z x z x z y w y w y w",  # x/y unigrams without (x,y) bigrams
    ]
    d = _fixture_dir(spark, tmp_path, {"documents": _docs_pdf(texts)}, {"documents": _DOCS_SCHEMA})
    got = {(r["w1"], r["w2"]): (r["c12"], r["pmi"]) for r in all_queries()["text_pmi_bigrams"](spark, d).collect()}
    toks = [t.lower().split(" ") for t in texts]
    uni, pair = {}, {}
    for ws in toks:
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            pair[(a, b)] = pair.get((a, b), 0) + 1
    n_total = sum(pair.values())
    want = {
        k: (c, round(math.log2(c * n_total / (uni[k[0]] * uni[k[1]])), 4))
        for k, c in pair.items()
        if c >= 5
    }
    assert got == want
    assert len(want) >= 2  # support floor keeps >=2 pairs on this fixture
    # unigram product must bite: PMI ordering differs from raw-count ordering
    by_pmi = max(want, key=lambda k: want[k][1])
    by_count = max(want, key=lambda k: want[k][0])
    assert by_pmi != by_count


def test_ewma_formula_bites(spark, tmp_path):
    """events_ewma_hourly (Horner fold / closed-form denominator) vs the
    textbook normalized-weights EWMA Σ α^k·x_{t-k} / Σ α^k. A spiky
    series makes the decay weights bite: the EWMA must sit strictly
    between the last value and the frame mean at the spike."""
    from cloudtrail_streamer_spark.registry import all_queries

    vals = [10.0, 10.0, 50.0, 10.0, 10.0, 10.0, 90.0, 10.0]
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(range(len(vals)), unit="h")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(len(vals), dtype="int64"),
            "ts": ts,
            "user_id": np.zeros(len(vals), dtype="int64"),
            "event_type": ["click"] * len(vals),
            "value": np.array(vals),
            "props": ["{}"] * len(vals),
        }
    )
    d = _fixture_dir(spark, tmp_path, {"events": pdf}, {"events": _EV_SCHEMA})
    got = {r["h"]: (r["cents"], r["ewma"]) for r in all_queries()["events_ewma_hourly"](spark, d).collect()}
    cents = [round(v * 100) for v in vals]
    for t in range(len(vals)):
        xs = cents[max(0, t - 11) : t + 1]
        wts = [0.5**k for k in range(len(xs))]  # most recent first
        want = sum(w * x for w, x in zip(wts, reversed(xs))) / sum(wts)
        h = ts[t].to_pydatetime()
        assert got[h][0] == cents[t]
        assert got[h][1] == pytest.approx(round(want, 4), abs=1e-9), t
    # decay must bite at the spike hour: EWMA strictly between frame
    # mean and the current value
    t = 6
    xs = cents[: t + 1]
    frame_mean = sum(xs) / len(xs)
    assert frame_mean < got[ts[t].to_pydatetime()][1] < cents[t]


# ---------------------------------------------------------------------------
# Round-11 formula-must-bite coverage (VERDICT r10 #4): the last eight
# derived-formula ops without an independent recompute. Same discipline
# as the r9/r10 waves — a fixture where the formula's distinctive term
# PROVABLY moves the output, so a mirrored slip in Spark + oracle could
# not hash-pass.
# ---------------------------------------------------------------------------

_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def _orders_pdf(custkeys: list[int], prices: list[float]) -> pd.DataFrame:
    n = len(custkeys)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": np.array(custkeys, dtype="int64"),
            "o_orderstatus": ["O"] * n,
            "o_totalprice": np.array(prices, dtype="float64"),
            "o_orderdate": pd.to_datetime(["2024-01-01"] * n),
            "o_orderpriority": ["1-URGENT"] * n,
        }
    )


def _events_pdf(rows: list[tuple]) -> pd.DataFrame:
    """rows: (ts, user_id, event_type, value)"""
    return pd.DataFrame(
        {
            "event_id": np.arange(len(rows), dtype="int64"),
            "ts": pd.to_datetime([r[0] for r in rows]),
            "user_id": np.array([r[1] for r in rows], dtype="int64"),
            "event_type": [r[2] for r in rows],
            "value": np.array([r[3] for r in rows], dtype="float64"),
            "props": ["{}"] * len(rows),
        }
    )


def test_chisq_formula_bites(spark, tmp_path):
    """agg_chisq_independence vs a from-scratch contingency recompute.
    The lang x source fixture is strongly DEPENDENT (en concentrates in
    web, fr in wiki), so expected-under-independence differs from
    observed in every cell — an engine that confused row/col marginals
    or used observed for expected (mirrored in the oracle) could not
    match this recompute."""
    from cloudtrail_streamer_spark.registry import all_queries

    # (lang, source, count): 12 en-web, 2 en-wiki, 3 fr-web, 9 fr-wiki
    cells = {("en", "web"): 12, ("en", "wiki"): 2, ("fr", "web"): 3, ("fr", "wiki"): 9}
    texts, langs, sources = [], [], []
    for (lg, src), c in cells.items():
        for i in range(c):
            texts.append(f"doc {lg} {src} {i}")
            langs.append(lg)
            sources.append(src)
    pdf = _docs_pdf(texts)
    pdf["lang"], pdf["source"] = langs, sources
    d = _fixture_dir(spark, tmp_path, {"documents": pdf}, {"documents": _DOCS_SCHEMA})
    got = {
        (r["lang"], r["source"]): (r["n_obs"], r["expected"], r["chi2_term"])
        for r in all_queries()["agg_chisq_independence"](spark, d).collect()
    }
    n_tot = sum(cells.values())
    row = {lg: sum(c for (l2, _), c in cells.items() if l2 == lg) for lg in ("en", "fr")}
    col = {s: sum(c for (_, s2), c in cells.items() if s2 == s) for s in ("web", "wiki")}
    assert set(got) == set(cells)
    for (lg, src), obs in cells.items():
        exp = row[lg] * col[src] / n_tot
        assert got[(lg, src)][0] == obs
        assert got[(lg, src)][1] == pytest.approx(round(exp, 6), abs=1e-9)
        assert got[(lg, src)][2] == pytest.approx(
            round((obs - exp) ** 2 / exp, 6), abs=1e-9
        )
    # independence must bite: every cell's chi2 contribution is nonzero
    assert min(t[2] for t in got.values()) > 0.5


def test_rolling_corr_formula_bites(spark, tmp_path):
    """win_rolling_corr vs six-sum Pearson recomputed per trailing-24
    frame. The click/view series co-move for the first day then
    decouple, so the 24-row frame boundary bites: the final hour's
    trailing correlation differs from the whole-series correlation."""
    from cloudtrail_streamer_spark.registry import all_queries

    hours = 30
    x = [(t % 6) + 1 for t in range(hours)]                    # clicks
    y = [x[t] + 1 if t < 22 else 7 - x[t] for t in range(hours)]  # views
    rows = []
    for t in range(hours):
        ts = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=t)
        rows += [(ts, 0, "click", 1.0)] * x[t] + [(ts, 0, "view", 1.0)] * y[t]
    d = _fixture_dir(spark, tmp_path, {"events": _events_pdf(rows)}, {"events": _EV_SCHEMA})
    got = {
        r["h"]: (r["x"], r["y"], r["corr24"])
        for r in all_queries()["win_rolling_corr"](spark, d).collect()
    }
    assert len(got) == hours

    def pearson(xs, ys):
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sx2, sy2 = sum(a * a for a in xs), sum(b * b for b in ys)
        den = math.sqrt(n * sx2 - sx * sx) * math.sqrt(n * sy2 - sy * sy)
        return (n * sxy - sx * sy) / den if den else None

    for t in range(hours):
        lo = max(0, t - 23)
        want = pearson(x[lo : t + 1], y[lo : t + 1])
        h = (pd.Timestamp("2024-01-01") + pd.Timedelta(hours=t)).to_pydatetime()
        assert got[h][0] == x[t] and got[h][1] == y[t]
        if want is None:  # zero variance in the frame -> NULL (NULLIF guard)
            assert got[h][2] is None, t
        else:
            assert got[h][2] == pytest.approx(round(want, 6) + 0.0, abs=1e-9), t
    # the frame must bite: trailing-24 at the last hour != whole-series
    assert abs(pearson(x[-24:], y[-24:]) - pearson(x, y)) > 0.05


def test_readability_formula_bites(spark, tmp_path):
    """text_readability_score vs a from-scratch vowel-group count. The
    'xx' corpus is all vowel-less words, so the floor-at-1 term carries
    its entire syllable count — dropping greatest(..., 1) (mirrored in
    the oracle) would zero it and shift reading_ease by 84.6."""
    import re

    from cloudtrail_streamer_spark.registry import all_queries

    corpora = {
        "en": ["banana tree house", "readable aeiou text here"],
        "xx": ["zzz brr grr", "psst hmm"],
    }
    texts, langs = [], []
    for lg, docs in corpora.items():
        texts += docs
        langs += [lg] * len(docs)
    pdf = _docs_pdf(texts)
    pdf["lang"] = langs
    d = _fixture_dir(spark, tmp_path, {"documents": pdf}, {"documents": _DOCS_SCHEMA})
    got = {
        r["lang"]: (
            r["n_docs"],
            r["n_words"],
            r["n_syllables"],
            r["syllables_per_word"],
            r["reading_ease"],
        )
        for r in all_queries()["text_readability_score"](spark, d).collect()
    }
    for lg, docs in corpora.items():
        words = [w for t in docs for w in t.lower().split(" ")]
        syl = [max(len(re.findall("[aeiou]+", w)), 1) for w in words]
        spw = sum(syl) / len(words)
        assert got[lg][0] == len(docs)
        assert got[lg][1] == len(words)
        assert got[lg][2] == sum(syl)
        assert got[lg][3] == pytest.approx(round(spw, 6), abs=1e-9)
        assert got[lg][4] == pytest.approx(round(206.835 - 84.6 * spw, 4), abs=1e-9)
    # the floor must bite: every xx word has zero vowel groups, so its
    # whole syllable count is the floor term
    assert got["xx"][2] == got["xx"][1]


def test_welch_formula_bites(spark, tmp_path):
    """agg_t_test_welch vs scipy-free Welch recompute on samples with
    UNEQUAL variance and n — the regime where Welch differs from the
    pooled t-test and Welch-Satterthwaite df differs from n-2."""
    from cloudtrail_streamer_spark.registry import all_queries

    clicks = [10.00, 10.50, 9.50, 10.25, 9.75, 10.10, 9.90, 10.30]  # tight
    purch = [5.00, 45.00, 12.00, 88.00, 3.50]  # few, wildly spread
    rows = [("2024-01-01", 0, "click", v) for v in clicks] + [
        ("2024-01-01", 1, "purchase", v) for v in purch
    ]
    d = _fixture_dir(spark, tmp_path, {"events": _events_pdf(rows)}, {"events": _EV_SCHEMA})
    r = all_queries()["agg_t_test_welch"](spark, d).collect()[0]
    ca = [round(v * 100) for v in clicks]
    cb = [round(v * 100) for v in purch]
    na, nb = len(ca), len(cb)
    ma, mb = sum(ca) / na, sum(cb) / nb
    vna = (sum(c * c for c in ca) - sum(ca) ** 2 / na) / (na - 1) / na
    vnb = (sum(c * c for c in cb) - sum(cb) ** 2 / nb) / (nb - 1) / nb
    t_want = (ma - mb) / math.sqrt(vna + vnb)
    df_want = (vna + vnb) ** 2 / (vna**2 / (na - 1) + vnb**2 / (nb - 1))
    assert (r["n_click"], r["n_purchase"]) == (na, nb)
    assert r["mean_click"] == pytest.approx(round(ma / 100, 4), abs=1e-9)
    assert r["mean_purchase"] == pytest.approx(round(mb / 100, 4), abs=1e-9)
    assert r["t_stat"] == pytest.approx(round(t_want, 4) + 0.0, abs=1e-9)
    assert r["df_welch"] == pytest.approx(round(df_want, 2), abs=1e-9)
    # unequal variance must bite: pooled-t and Welch-t diverge >5%, and
    # the Satterthwaite df is far from the pooled n-2
    sp2 = (
        (sum(c * c for c in ca) - sum(ca) ** 2 / na)
        + (sum(c * c for c in cb) - sum(cb) ** 2 / nb)
    ) / (na + nb - 2)
    t_pooled = (ma - mb) / math.sqrt(sp2 * (1 / na + 1 / nb))
    assert abs(t_pooled - t_want) / abs(t_want) > 0.05
    assert abs(df_want - (na + nb - 2)) > 4


def test_psi_formula_bites(spark, tmp_path):
    """agg_psi_drift vs a from-scratch smoothed-PSI recompute. Bucket 2
    exists ONLY in the reference period, so without Laplace +1 its term
    would be infinite — the smoothing provably carries that row."""
    from cloudtrail_streamer_spark.registry import all_queries

    # period a: ts < 2024-01-16; values pick buckets floor(v/50) cap 9
    rows = (
        [("2024-01-10", 0, "click", 25.0)] * 6      # bucket 0, period a
        + [("2024-01-20", 0, "click", 25.0)] * 2    # bucket 0, period b
        + [("2024-01-10", 0, "click", 75.0)] * 3    # bucket 1, period a
        + [("2024-01-20", 0, "click", 75.0)] * 7    # bucket 1, period b
        + [("2024-01-10", 0, "click", 125.0)] * 4   # bucket 2, period a ONLY
        + [("2024-01-20", 0, "click", 990.0)] * 5   # bucket 9 (clamped), b
    )
    d = _fixture_dir(spark, tmp_path, {"events": _events_pdf(rows)}, {"events": _EV_SCHEMA})
    got = {
        r["bucket"]: (r["n_ref"], r["n_cur"], r["p_ref"], r["p_cur"], r["psi_term"])
        for r in all_queries()["agg_psi_drift"](spark, d).collect()
    }
    na = {0: 6, 1: 3, 2: 4, 9: 0}
    nb = {0: 2, 1: 7, 2: 0, 9: 5}
    ta, tb = sum(na.values()), sum(nb.values())
    assert set(got) == {0, 1, 2, 9}
    for bkt in got:
        pa = (na[bkt] + 1.0) / (ta + 10.0)
        pb = (nb[bkt] + 1.0) / (tb + 10.0)
        want = (pa - pb) * math.log(pa / pb)
        assert got[bkt][0] == na[bkt] and got[bkt][1] == nb[bkt]
        assert got[bkt][2] == pytest.approx(round(pa, 6), abs=1e-9)
        assert got[bkt][3] == pytest.approx(round(pb, 6), abs=1e-9)
        assert got[bkt][4] == pytest.approx(round(want, 6), abs=1e-9), bkt
    # smoothing must bite: bucket 2 is empty in the current period yet
    # contributes a finite nonzero term
    assert got[2][1] == 0 and math.isfinite(got[2][4]) and got[2][4] > 0


def test_ab_ztest_formula_bites(spark, tmp_path):
    """agg_ab_test_ztest vs a from-scratch two-proportion z with POOLED
    variance, on variants with very different conversion rates — the
    regime where pooled and unpooled standard errors diverge."""
    from cloudtrail_streamer_spark.registry import all_queries

    rows = []
    # variant 0 (even user_id): 10 users, 2 convert
    for u in range(0, 20, 2):
        rows.append(("2024-01-01", u, "click", 1.0))
        if u < 4:
            rows.append(("2024-01-02", u, "purchase", 5.0))
    # variant 1 (odd user_id): 8 users, 7 convert
    for u in range(1, 16, 2):
        rows.append(("2024-01-01", u, "view", 1.0))
        if u != 15:
            rows.append(("2024-01-02", u, "purchase", 5.0))
    d = _fixture_dir(spark, tmp_path, {"events": _events_pdf(rows)}, {"events": _EV_SCHEMA})
    r = all_queries()["agg_ab_test_ztest"](spark, d).collect()[0]
    n0, c0, n1, c1 = 10, 2, 8, 7
    p0, p1 = c0 / n0, c1 / n1
    pp = (c0 + c1) / (n0 + n1)
    z_want = (p1 - p0) / math.sqrt(pp * (1 - pp) * (1 / n0 + 1 / n1))
    assert (r["n0"], r["c0"], r["n1"], r["c1"]) == (n0, c0, n1, c1)
    assert r["rate0"] == pytest.approx(round(p0, 6), abs=1e-9)
    assert r["rate1"] == pytest.approx(round(p1, 6), abs=1e-9)
    assert r["z_score"] == pytest.approx(round(z_want, 4), abs=1e-9)
    # pooling must bite: the unpooled (Wald) z differs >2%
    z_unpooled = (p1 - p0) / math.sqrt(p0 * (1 - p0) / n0 + p1 * (1 - p1) / n1)
    assert abs(z_unpooled - z_want) / abs(z_want) > 0.02


def test_gini_formula_bites(spark, tmp_path):
    """agg_gini_coefficient vs the rank-weighted formula recomputed from
    scratch on a skewed revenue split (one whale). Ranks are ASCENDING
    by revenue — reversing the rank order (a mirrored slip) yields a
    provably different value on this fixture."""
    from cloudtrail_streamer_spark.registry import all_queries

    # customer -> order prices; cust 5 is the whale; cust 1 ties cust 2
    orders = [(1, 10.00), (2, 10.00), (3, 25.00), (4, 40.00), (5, 300.00), (5, 115.00)]
    d = _fixture_dir(
        spark,
        tmp_path,
        {"orders": _orders_pdf([c for c, _ in orders], [p for _, p in orders])},
        {"orders": _ORDERS_SCHEMA},
    )
    r = all_queries()["agg_gini_coefficient"](spark, d).collect()[0]
    rev = {}
    for c, p in orders:
        rev[c] = rev.get(c, 0) + round(p * 100)
    xs = [v for _, v in sorted(rev.items(), key=lambda kv: (kv[1], kv[0]))]
    n, sx = len(xs), sum(xs)
    g_want = 2.0 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * sx) - (n + 1) / n
    assert r["n_customers"] == n
    assert r["gini"] == pytest.approx(round(g_want, 4), abs=1e-9)
    # rank direction must bite
    g_desc = 2.0 * sum((n - i) * x for i, x in enumerate(xs)) / (n * sx) - (n + 1) / n
    assert abs(g_desc - g_want) > 0.2
    assert g_want > 0.3  # the whale genuinely concentrates revenue


def test_entropy_formula_bites(spark, tmp_path):
    """agg_entropy_peruser vs -sum(p*log2 p) recomputed directly. The
    identity H = log2(n) - (sum n_i log2 n_i)/n must reproduce the
    textbook form exactly; an uneven user's H sits strictly below
    log2(n_types), so a slip to the naive type-count entropy bites."""
    from cloudtrail_streamer_spark.registry import all_queries

    mixes = {0: {"click": 1, "view": 7}, 1: {"click": 4, "view": 4}, 2: {"purchase": 5}}
    rows = [
        ("2024-01-01", u, et, 1.0)
        for u, mix in mixes.items()
        for et, c in mix.items()
        for _ in range(c)
    ]
    d = _fixture_dir(spark, tmp_path, {"events": _events_pdf(rows)}, {"events": _EV_SCHEMA})
    got = {
        r["user_id"]: (r["n"], r["n_types"], r["entropy_bits"])
        for r in all_queries()["agg_entropy_peruser"](spark, d).collect()
    }
    for u, mix in mixes.items():
        n = sum(mix.values())
        h = -sum((c / n) * math.log2(c / n) for c in mix.values())
        assert got[u][0] == n and got[u][1] == len(mix)
        assert got[u][2] == pytest.approx(round(h, 4), abs=1e-9), u
    # unevenness must bite: user 0's H is far below log2(2)=1
    assert got[0][2] < 0.6
    # and the degenerate single-type user is exactly 0 (log2(5)-5log2(5)/5)
    assert got[2][2] == 0.0
