"""Engine-local behavior tests for ops whose driver check is rows-only
(Tier R), plus cross-op consistency properties (SURVEY.md §5.2).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cloudtrail_streamer_spark.catalog import table
from cloudtrail_streamer_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def test_approx_agg_error_bounds(spark):
    """agg_approx emits estimate/exact ratios rounded to 1 dp (the r9
    H-tier certificate form): exactly 1.0 iff the realized relative
    error is inside ±5%. Cross-check the exact distinct count so a bug
    that corrupts BOTH numerator and denominator identically can't
    fake a 1.0 ratio."""
    out = {r["status"]: r for r in all_queries()["agg_approx"](spark, SF).collect()}
    exact = {
        r["o_orderstatus"]: (r["nd"], r["n"])
        for r in table(spark, SF, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("nd"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    for status, row in out.items():
        assert row["hll_ratio_1dp"] == 1.0, f"{status}: HLL error >= 5%"
        assert row["gk_ratio_1dp"] == 1.0, f"{status}: GK error >= 5%"
        assert row["n"] == exact[status][1]


def _near_dup_corpus(spark):
    """Synthetic near-dup ground truth: 30 fixture docs + mutated copies
    (every 20th token replaced) under doc_id+100000. The fixture itself
    has no engineered duplicate groups (verified empirically), so recall
    properties are asserted on known pairs."""
    base = table(spark, SF, "documents").where(F.col("doc_id") < 30).select("doc_id", "text")
    mutated = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
            F.expr(
                "transform(split(text, ' '), (x, i) -> "
                "CASE WHEN i % 20 = 19 THEN 'zzzz' ELSE x END)"
            ),
            " ",
        ).alias("text"),
    )
    corpus = base.unionByName(mutated)
    truth = {(i, i + 100000) for i in range(30)}
    return corpus, truth


def test_minhash_catches_near_duplicates(spark):
    """~5% token mutation keeps shingle-Jaccard high; 8 bands × 4 rows
    catches Jaccard≥0.8 pairs w.p. ≳0.98 each — demand ≥80% recall."""
    from cloudtrail_streamer_spark.operators.dedup import minhash_candidates

    corpus, truth = _near_dup_corpus(spark)
    got = {(r["id_a"], r["id_b"]) for r in minhash_candidates(corpus).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"MinHash-LSH recall {recall:.2f} on known near-dup pairs"


def test_simhash_catches_near_duplicates(spark):
    from cloudtrail_streamer_spark.operators.dedup import simhash_candidates

    corpus, truth = _near_dup_corpus(spark)
    got = {(r["id_a"], r["id_b"]) for r in simhash_candidates(corpus).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"SimHash recall {recall:.2f} on known near-dup pairs"


def test_ivf_recall_vs_bruteforce(spark):
    """Bucketed ANN must recover a reasonable fraction of true top-5."""
    brute = {
        (r["probe_id"], r["neighbor_id"])
        for r in all_queries()["sim_search_topk"](spark, SF).collect()
    }
    ivf = {
        (r["probe_id"], r["neighbor_id"])
        for r in all_queries()["sim_search_ivf"](spark, SF).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.3, f"IVF recall {recall:.2f} too low"


def test_udf_and_pandas_udf_agree(spark):
    a = all_queries()["udf_python_scalar"](spark, SF).orderBy("o_orderkey").collect()
    b = all_queries()["udf_pandas_vectorized"](spark, SF).orderBy("o_orderkey").collect()
    assert [r["account_id"] for r in a] == [r["account_id"] for r in b]


def test_salted_join_equals_plain(spark):
    from cloudtrail_streamer_spark.functions.skew import salted_join

    o = table(spark, SF, "orders").withColumnRenamed("o_custkey", "c_custkey")
    c = table(spark, SF, "customer")
    plain = o.join(c, "c_custkey").select("o_orderkey", "c_custkey", "c_name")
    salted = salted_join(
        o, c, "c_custkey", salt_from=F.col("o_orderkey"), n_salt=8
    ).select("o_orderkey", "c_custkey", "c_name")
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_engine_facade(spark):
    from cloudtrail_streamer_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF)
    assert eng.table("region").count() == 5
    n = eng.sql(
        "SELECT COUNT(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey"
    ).collect()[0]["n"]
    assert n == eng.table("orders").count()
    assert len(eng.run("agg_group_q1").columns) == 10


def test_lang_id_covers_all_docs(spark):
    out = all_queries()["text_lang_id"](spark, SF)
    docs = table(spark, SF, "documents")
    # every doc classified exactly once, prediction from the lang domain
    assert out.count() == docs.count()
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert {r["pred_lang"] for r in out.select("pred_lang").distinct().collect()} <= langs


def test_image_header_roundtrip():
    """Synthesized payloads are real files: the parser must recover the
    exact dims from the bytes for every format, and reject garbage."""
    import pytest

    from cloudtrail_streamer_spark.operators.multimodal import (
        parse_image_header,
        synth_payload,
    )

    for doc_id in [0, 1, 2, 3, 191, 192, 193, 1000, 99999]:
        fmt, w, h = parse_image_header(synth_payload(doc_id))
        assert fmt == ("png", "gif", "bmp")[doc_id % 3]
        assert w == 64 + doc_id % 192
        assert h == 64 + (doc_id * 7) % 192
    with pytest.raises(ValueError):
        parse_image_header(b"not an image")


def test_png_payload_is_strictly_valid():
    """The PNG synthesizer emits chunk-CRC-correct, zlib-decodable IDAT —
    a strict decoder (not just a header sniffer) accepts it."""
    import struct
    import zlib

    from cloudtrail_streamer_spark.operators.multimodal import make_png

    raw = make_png(65, 70)
    assert raw[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks, idat = 8, [], b""
    while pos < len(raw):
        (length,) = struct.unpack(">I", raw[pos : pos + 4])
        tag = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", raw[pos + 8 + length : pos + 12 + length])
        assert crc == zlib.crc32(tag + data) & 0xFFFFFFFF, f"bad CRC on {tag}"
        chunks.append(tag)
        if tag == b"IDAT":
            idat += data
        pos += 12 + length
    assert chunks == [b"IHDR", b"IDAT", b"IEND"]
    assert len(zlib.decompress(idat)) == (1 + 65) * 70  # filter byte + row


def test_minhash_recall_vs_duckdb_truth(spark):
    """B-56 recall gate: LSH must catch >= 90% of the seeded near-dup
    pairs whose EXACT 3-shingle Jaccard >= 0.6 — and the truth-set size
    Spark computes must equal DuckDB's independent recomputation of the
    identical mutation + exact Jaccard."""
    import duckdb

    row = all_queries()["dedup_minhash_recall"](spark, SF).collect()[0]
    assert row["n_truth"] > 0, "seeded corpus must produce truth pairs"
    assert row["recall"] >= 0.9, f"LSH recall {row['recall']} below bound"

    truth_sql = f"""
    WITH base AS (
      SELECT doc_id, lower(text) AS text
      FROM read_parquet('{SF}/documents.parquet')
    ),
    mut AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 (string_split(text, ' '))[1:greatest(3,
                    CAST(ceil(len(string_split(text, ' ')) * 0.9) AS INT))],
                 (x, i) -> CASE WHEN i - 1 = CAST(floor(len(string_split(text, ' ')) / 2.0) AS INT)
                                THEN 'xqzsubstituted' ELSE x END),
               ' ') AS text
      FROM base
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(
                      (string_split(text, ' '))[1:len(string_split(text, ' ')) - 2],
                      (x, i) -> concat(x, ' ', string_split(text, ' ')[i + 1],
                                       ' ', string_split(text, ' ')[i + 2]))
               ELSE [text] END) AS s
      FROM base
    ),
    shm AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(
                      (string_split(text, ' '))[1:len(string_split(text, ' ')) - 2],
                      (x, i) -> concat(x, ' ', string_split(text, ' ')[i + 1],
                                       ' ', string_split(text, ' ')[i + 2]))
               ELSE [text] END) AS s
      FROM mut
    )
    SELECT COUNT(*) AS n_truth
    FROM sh JOIN shm USING (doc_id)
    WHERE CAST(len(list_intersect(sh.s, shm.s)) AS DOUBLE)
          / len(list_distinct(sh.s || shm.s)) >= 0.6
    """
    n_truth_duck = duckdb.connect().execute(truth_sql).fetchone()[0]
    assert n_truth_duck == row["n_truth"], (
        f"Spark truth set {row['n_truth']} != DuckDB truth set {n_truth_duck}"
    )


def test_connected_components_chain_converges_in_log_rounds(spark):
    """A 21-node chain (diameter 20) must fully converge in 5 rounds —
    pointer jumping makes label travel double per round."""
    from cloudtrail_streamer_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(21)], "id long")
    labels = connected_components(edges, nodes, rounds=5).collect()
    assert len(labels) == 21
    assert all(r["comp"] == 0 for r in labels), sorted(
        (r["id"], r["comp"]) for r in labels
    )


def test_pack_sequences_invariants(spark):
    """Packing must cover every doc exactly once, never start a doc past
    its bin's budget boundary, and keep per-shard doc ranges disjoint."""
    out = all_queries()["text_pack_sequences"](spark, SF).collect()
    docs = table(spark, SF, "documents")
    assert sum(r["n_docs"] for r in out) == docs.count()
    for r in out:
        # 1e12 stride per shard (widened r6 — collision headroom past
        # the 100 TB design point; see text_pack_sequences)
        shard, local_bin = divmod(r["bin_id"], 1_000_000_000_000)
        assert 0 <= shard < 8
        assert r["first_doc"] % 8 == shard and r["last_doc"] % 8 == shard
        assert r["n_docs"] >= 1 and r["total_tokens"] >= r["n_docs"]


def test_wav_parser_walks_chunks():
    """The RIFF parser must walk chunks (incl. word-aligned odd-size
    extras), not read fixed offsets, and reject non-WAV bytes."""
    import struct

    import pytest

    from cloudtrail_streamer_spark.operators.multimodal import (
        make_wav,
        parse_wav_header,
    )

    assert parse_wav_header(make_wav(22050, 2, 777)) == (22050, 2, 777)
    raw = make_wav(8000, 1, 100)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd size + pad
    patched = raw[:12] + extra + raw[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert parse_wav_header(patched) == (8000, 1, 100)
    with pytest.raises(ValueError):
        parse_wav_header(b"RIFFxxxxJUNK")


def test_layout_cluster_ranges_disjoint_and_covering(spark):
    """layout_cluster_ranges invariants (ADVICE r02 #2): the r9 H-tier
    certificate row must report full coverage and disjoint ranges, and
    the PER-PARTITION summaries (recomputed here — the op now emits the
    1-row certificate) must be pairwise disjoint in pid order and cover
    the whole table."""
    cert = all_queries()["layout_cluster_ranges"](spark, SF).collect()[0]
    n_events = table(spark, SF, "events").count()
    assert cert["n_rows"] == n_events
    assert cert["ranges_disjoint"] is True
    assert cert["rows_covered"] is True
    clustered = (
        table(spark, SF, "events")
        .repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id", "ts")
    )
    rows = sorted(
        clustered.select(F.spark_partition_id().alias("pid"), "user_id")
        .groupBy("pid")
        .agg(
            F.min("user_id").alias("min_key"),
            F.max("user_id").alias("max_key"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect(),
        key=lambda r: r["pid"],
    )
    assert sum(r["n_rows"] for r in rows) == n_events, "partitions must cover all rows"
    for prev, cur in zip(rows, rows[1:]):
        assert prev["min_key"] <= prev["max_key"]
        assert prev["max_key"] <= cur["min_key"], (
            f"pid {prev['pid']} range overlaps pid {cur['pid']}"
        )


def test_bucketed_join_leaves_no_catalog_residue(spark):
    """join_bucketed_colocated uses fixed overwrite tables (VERDICT r02
    wrong-#3): invoking it twice must not grow the catalog or the bucket
    directory set."""
    import os

    from cloudtrail_streamer_spark.catalog import scratch_dir

    q = all_queries()["join_bucketed_colocated"]
    q(spark, SF).count()
    tables_after_1 = {t.name for t in spark.catalog.listTables()}
    base = scratch_dir("join_bucketed_colocated", SF)
    dirs_after_1 = set(os.listdir(base))
    q(spark, SF).count()
    assert {t.name for t in spark.catalog.listTables()} == tables_after_1
    assert set(os.listdir(base)) == dirs_after_1
    assert {"orders_bkt", "customer_bkt"} <= tables_after_1


def test_coverage_md_matches_registry():
    """COVERAGE.md is generated; it must track the registry exactly
    (VERDICT r02 wrong-#2 — it drifted to 116 of 123 queries in r2)."""
    import tools.gen_coverage as g

    with open("/root/repo/COVERAGE.md") as f:
        assert f.read() == g.render()


def test_winnow_shared_run_shares_fingerprint(spark):
    """Winnowing guarantee: two docs sharing a run of >= 6 tokens (4
    consecutive 3-shingles) must share at least one fingerprint."""
    from cloudtrail_streamer_spark.operators.text import text_winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six seven"),
            (2, f"red blue green {shared} yellow purple orange pink"),
        ],
        "doc_id LONG, text STRING",
    )
    import cloudtrail_streamer_spark.operators.text as T
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = toks.select(
        "doc_id", "pos",
        F.concat_ws(" ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)).alias("shingle"),
        F.lead("tok", 2).over(w).alias("t2"),
    ).where(F.col("t2").isNotNull())
    h = sh.select("doc_id", F.substring(F.md5("shingle"), 1, 16).alias("hv"),
                  F.row_number().over(w).alias("sidx"))
    wmin = h.select("doc_id", "sidx",
                    F.min("hv").over(Window.partitionBy("doc_id").orderBy("sidx").rowsBetween(-3, 0)).alias("fp"))
    fps = wmin.where(F.col("sidx") >= 4).select("doc_id", "fp").distinct().collect()
    d1 = {r["fp"] for r in fps if r["doc_id"] == 1}
    d2 = {r["fp"] for r in fps if r["doc_id"] == 2}
    assert d1 & d2, "shared 6-token run must produce a shared fingerprint"


def test_pq_centroids_encode_to_themselves(spark):
    """A PQ codebook vector must quantize to its own id in every
    subspace (distance zero), so vec_id<4 codes are 8 repeats of the id."""
    out = {
        r["vec_id"]: r
        for r in all_queries()["embed_pq_codebook"](spark, SF).collect()
        if r["vec_id"] < 4
    }
    for vid, r in out.items():
        assert r["pq_code"] == str(vid) * 8, r
        assert r["recon_err"] == 0.0, r


def test_rate_limit_keeps_earliest(spark):
    """events_rate_limit must keep the EARLIEST <=3 per (user, day)."""
    rows = all_queries()["events_rate_limit"](spark, SF).collect()
    from collections import Counter

    per_key = Counter((r["user_id"], r["day_start"]) for r in rows)
    assert max(per_key.values()) <= 3
    ev = table(spark, SF, "events").count()
    assert len(rows) < ev  # something was actually limited


def test_idempotent_sink_retry_is_noop(spark):
    row = all_queries()["sink_idempotent_batchid"](spark, SF).collect()[0]
    assert row["retry_delta"] == 0
    assert row["n_delivered"] == row["n_source"]


def test_bmp_resize_kernel_roundtrip():
    """The BMP pixel decoder must recover the exact pattern (incl. row
    padding and bottom-up order), and the NN resize must sample it."""
    import numpy as np

    from cloudtrail_streamer_spark.operators.multimodal import (
        _decode_bmp_pixels,
        make_patterned_bmp,
    )

    # w=17 forces a non-trivial row stride (3*17=51 -> padded 52)
    pix = _decode_bmp_pixels(make_patterned_bmp(7, 17, 9))
    assert pix.shape == (9, 17)
    ys = np.arange(9)[:, None]
    xs = np.arange(17)[None, :]
    assert (pix == ((xs * 31 + ys * 17 + 7) % 256)).all()


def test_dedup_pipeline_decision_table(spark):
    """pipeline_dedup_e2e (now H-tier, VERDICT r03 #3): the decision
    table must partition the seeded corpus — every doc decided exactly
    once, every stage non-empty, survivors self-referential, and
    'exact'/'near' survivors must themselves be 'kept' rows."""
    from cloudtrail_streamer_spark.catalog import table as cat_table

    rows = all_queries()["pipeline_dedup_e2e"](spark, SF).collect()
    n_docs = cat_table(spark, SF, "documents").count()
    assert len(rows) == 4 * n_docs, "base + copy + m1 + m2, one decision each"
    assert len({r["doc_id"] for r in rows}) == len(rows), "one decision per doc"
    by_stage: dict[str, list] = {}
    for r in rows:
        by_stage.setdefault(r["stage"], []).append(r)
    assert set(by_stage) == {"exact", "near", "kept"}, "all stages must fire"
    kept = {r["doc_id"] for r in by_stage["kept"]}
    for r in by_stage["kept"]:
        assert r["survivor_id"] == r["doc_id"]
    for r in by_stage["near"]:
        assert r["survivor_id"] in kept, "near survivor must be a kept doc"
        assert r["survivor_id"] < r["doc_id"], "canonical is the min id"
    # exact copies (+3M offset) must all be removed by the exact stage
    exact_ids = {r["doc_id"] for r in by_stage["exact"]}
    from cloudtrail_streamer_spark.operators.dedup import _COPY_OFFSET

    copies = {r["doc_id"] for r in rows if r["doc_id"] >= _COPY_OFFSET}
    assert copies <= exact_ids, "every exact copy must be caught by md5 dedup"


def test_lsh_recall_certificate(spark):
    row = all_queries()["embed_lsh_recall"](spark, SF).collect()[0]
    assert row["n_truth"] > 0, "seeded truth set must be non-empty"
    assert row["recall"] >= 0.9, f"banded hyperplane LSH recall too low: {row}"


def _fresh(R, name: str) -> bool:
    """Whether ``name``'s CERTIFIED.json stamp matches its fingerprint."""
    stamp = R._stamps().get(name, {})
    return stamp.get("fingerprint") == R._fingerprint(R._REGISTRY[name].fn.__module__)


def test_certification_window_is_stale_then_oldest():
    """The driver certifies the first 50 registry entries. Every query
    whose code changed since its CERTIFIED.json stamp (or that has none)
    must come ahead of every stamped, unchanged query; the rest of the
    window must be the least recently certified; every stamped name must
    be registered."""
    import cloudtrail_streamer_spark.registry as R

    names = list(R.all_queries())
    stamps = R._stamps()
    assert stamps, "no CERTIFIED.json next to the package"
    unknown = sorted(set(stamps) - set(R._REGISTRY))
    assert not unknown, f"stamped names not registered: {unknown}"
    fresh = [_fresh(R, n) for n in names]
    assert fresh == sorted(fresh), "a changed query sits behind an unchanged one"
    rest = [n for n in names[:50] if _fresh(R, n)]
    outside = [n for n in names[50:] if _fresh(R, n)]
    if rest and outside:
        newest_in = max(stamps[n]["round"] for n in rest)
        oldest_out = min(stamps[n]["round"] for n in outside)
        assert newest_in <= oldest_out, (
            f"window holds a round-{newest_in} certificate while a "
            f"round-{oldest_out} one waits outside"
        )


def test_helper_edit_flips_exactly_its_dependents(tmp_path):
    """An edit to functions/skew.py must change the fingerprint of exactly
    the joins.py queries, which reach it through an import inside a
    function, and of no other query."""
    import ast
    import glob
    import os
    import shutil

    import cloudtrail_streamer_spark.registry as R

    pkg = os.path.join(R._ROOT, R._PKG)
    shutil.copytree(pkg, tmp_path / R._PKG, ignore=shutil.ignore_patterns("__pycache__"))
    with open(tmp_path / R._PKG / "functions" / "skew.py", "a") as fh:
        fh.write("\n# edited\n")
    specs = R.all_specs()
    mods = {n: s.fn.__module__ for n, s in specs.items()}
    flipped = {n for n, m in mods.items() if R._fingerprint(m) != R._fingerprint(m, str(tmp_path))}
    joins = {n for n, m in mods.items() if m == f"{R._PKG}.operators.joins"}
    assert len(joins) == 17 and flipped == joins, sorted(flipped ^ joins)
    # the walk reads absolute imports only, so the package must use no other kind
    relative = [
        path
        for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        for node in ast.walk(ast.parse(open(path).read()))
        if isinstance(node, ast.ImportFrom) and node.level
    ]
    assert not relative, f"relative imports escape every fingerprint: {relative}"


def _unstamped_records(root: str) -> list[str]:
    """CORRECTNESS_r<N>.json records under ``root`` newer than the newest
    round stamped in its CERTIFIED.json."""
    import glob
    import os
    import re

    import cloudtrail_streamer_spark.registry as R

    newest = max((s["round"] for s in R._stamps(root).values()), default=0)
    records = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    return sorted(
        os.path.basename(p) for p in records if int(re.search(r"_r(\d+)", p).group(1)) > newest
    )


def test_every_driver_round_is_stamped(tmp_path):
    """A driver round's record must be followed by its stamp
    (tools/stamp_certified.py); an unstamped round would leave the window
    ordered by certificates that are out of date."""
    import json

    import cloudtrail_streamer_spark.registry as R

    assert _unstamped_records(R._ROOT) == []
    (tmp_path / "CERTIFIED.json").write_text(json.dumps({"q": {"round": 12, "fingerprint": None}}))
    for rnd in (11, 12, 13):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text("{}")
    assert _unstamped_records(str(tmp_path)) == ["CORRECTNESS_r13.json"]


def test_stamp_tool_stamps_certified_rows_at_the_record_commit(tmp_path):
    """The stamp tool gives each certified row of a committed driver record
    its round and the fingerprint of the tree at that commit, leaves
    failed rows alone, and refuses a record that is not committed or whose
    commit also edits the package."""
    import json
    import os
    import shutil
    import subprocess
    import sys

    import cloudtrail_streamer_spark.registry as R

    ign = shutil.ignore_patterns("__pycache__")
    shutil.copytree(os.path.join(R._ROOT, R._PKG), tmp_path / R._PKG, ignore=ign)
    (tmp_path / "tools").mkdir()
    shutil.copy(os.path.join(R._ROOT, "tools", "stamp_certified.py"), tmp_path / "tools")
    shutil.copy(os.path.join(R._ROOT, "CERTIFIED.json"), tmp_path)
    record = {
        "agg_group_q1": {"err": None, "hash_match": True},
        "scan_pruned": {"err": None, "hash_match": False},
        "udtf_arrow": {"err": "no_oracle"},
    }
    tool = [sys.executable, "tools/stamp_certified.py", "CORRECTNESS_r99.json"]
    git = ["git", "-c", "user.name=t", "-c", "user.email=t@t", "-C", str(tmp_path)]
    subprocess.run(git + ["init", "-q"], check=True)
    subprocess.run(git + ["add", "-A"], check=True)
    subprocess.run(git + ["commit", "-qm", "tree"], check=True)
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(record))
    refused = subprocess.run(tool, cwd=tmp_path, capture_output=True, text=True)
    assert refused.returncode != 0 and "first, on its own" in refused.stderr
    subprocess.run(git + ["add", "-A"], check=True)
    subprocess.run(git + ["commit", "-qm", "round 99"], check=True)
    # a record committed with a package edit is refused; that edit, made
    # after round 99's commit, must not leak into round 99's stamps
    with open(tmp_path / R._PKG / "operators" / "udfs.py", "a") as fh:
        fh.write("\n# edited after the round\n")
    (tmp_path / "CORRECTNESS_r100.json").write_text(json.dumps(record))
    subprocess.run(git + ["add", "-A"], check=True)
    subprocess.run(git + ["commit", "-qm", "round 100 with an edit"], check=True)
    tool_100 = tool[:-1] + ["CORRECTNESS_r100.json"]
    refused = subprocess.run(tool_100, cwd=tmp_path, capture_output=True, text=True)
    assert refused.returncode != 0 and f"no {R._PKG}/ edits" in refused.stderr
    assert json.loads((tmp_path / "CERTIFIED.json").read_text()) == R._stamps()
    subprocess.run(tool, cwd=tmp_path, check=True, capture_output=True)
    before, after = R._stamps(), json.loads((tmp_path / "CERTIFIED.json").read_text())
    specs = R.all_specs()
    for name in ("agg_group_q1", "udtf_arrow"):
        fp = R._fingerprint(specs[name].fn.__module__)
        assert after[name] == {"round": 99, "fingerprint": fp}, name
    assert after["scan_pruned"] == before["scan_pruned"]
    assert len(after) == len(before)


def test_drive_entry_flags_parse_in_any_order():
    """drive_entry's --skip/--first/--shard parse the same in any order;
    a bad shard is a usage error before any session starts."""
    import pytest

    from tools.drive_entry import parse_args

    a = parse_args(["--shard", "1/4", "--first", "50"])
    assert vars(a) == vars(parse_args(["--first", "50", "--shard", "1/4"]))
    assert (a.first, a.shard, a.names) == (50, (1, 4), [])
    b = parse_args(["--skip", "x,y", "/sf", "q1", "q2"])
    assert (b.skip, b.sf_dir, b.names) == ("x,y", "/sf", ["q1", "q2"])
    with pytest.raises(SystemExit):
        parse_args(["--shard", "5/4"])


def test_drive_entry_first_takes_registry_order_within_a_shard():
    """--shard cuts its members from the sorted names, so shards stay
    stable; --first then takes the first N of them in registry order."""
    from tools.drive_entry import select

    registry = ["q09", "q05", "q01", "q12", "q08", "q04"]
    registry += ["q11", "q03", "q07", "q02", "q10", "q06"]
    # shard 1/4 of the sorted names: q01, q05, q09
    assert select(registry, set(), set(), (1, 4), 3) == ["q09", "q05", "q01"]
    assert select(registry, set(), set(), (1, 4), 0) == ["q01", "q05", "q09"]
    assert select(registry, set(), set(), (1, 1), 2) == ["q09", "q05"]
    # the shard is cut after --skip: without q05 it is q01, q06, q10
    assert select(registry, set(), {"q05"}, (1, 4), 2) == ["q01", "q10"]
    assert select(registry, {"q12", "q03", "q07"}, set(), (1, 1), 2) == ["q12", "q03"]


def test_every_json_read_declares_its_schema():
    """No package module reads JSON with ``.read.json(``: Spark would run
    a schema-inference job over every file before the read itself. A
    spool goes through ``sinks.read_spool``; other reads pass
    ``.schema(...)`` first."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "cloudtrail_streamer_spark")
    found = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f)) as fh:
                    if re.search(r"\.read\s*\.\s*json\(", fh.read()):
                        found.append(f)
    assert found == []


def test_nation_key_memo_tracks_region_file(tmp_path):
    """The region-to-nationkeys memo also derives from region.parquet, so
    rewriting only that file must change the answer, not serve the
    cached keys."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cloudtrail_streamer_spark.operators.tpch import _region_nation_keys

    for name in ("nation.parquet", "region.parquet"):
        shutil.copy(os.path.join(SF, name), tmp_path / name)
    region = tmp_path / "region.parquet"
    before = _region_nation_keys(str(tmp_path), "ASIA")
    assert before, "the ASIA region must own nations"

    # rewrite region alone: ASIA now carries AFRICA's key (and vice versa)
    reg = pq.read_table(region)
    names = reg["r_name"].to_pylist()
    i, j = names.index("ASIA"), names.index("AFRICA")
    names[i], names[j] = names[j], names[i]
    pq.write_table(reg.set_column(1, "r_name", pa.array(names)), region)
    st = os.stat(region)
    os.utime(region, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))

    after = _region_nation_keys(str(tmp_path), "ASIA")
    assert after and after != before, "stale nation keys served after region rewrite"


def test_compression_quality_monotonic(spark):
    """text_compression_quality (H since r10): the registered query now
    returns the realized-invariant certificate — zero monotonicity /
    bounds violations, x4 improves the average — and the codec-valued
    aggregates live in compression_ratio_stats(); both are checked, plus
    the raw zlib invariant on extreme inputs."""
    import zlib

    from cloudtrail_streamer_spark.operators.engine_ext import compression_ratio_stats
    from cloudtrail_streamer_spark.registry import all_queries

    rows = all_queries()["text_compression_quality"](spark, SF).collect()
    assert rows and all(r["n_mono_violations"] == 0 for r in rows)
    assert all(r["n_bounds_violations"] == 0 for r in rows)
    assert all(r["x4_improves_avg"] for r in rows)
    stats = compression_ratio_stats(spark, SF).collect()
    assert stats and all(0.0 < r["min_ratio"] <= r["avg_ratio"] <= 1.2 for r in stats)
    # the invariant the UDF encodes, pinned on extreme inputs
    rep_txt = ("spam " * 200).encode()
    var_txt = " ".join(f"w{i}" for i in range(200)).encode()
    rep = len(zlib.compress(rep_txt, 6)) / len(rep_txt)
    var = len(zlib.compress(var_txt, 6)) / len(var_txt)
    assert rep < 0.1 < var, (rep, var)


def test_markov_rows_are_distributions(spark):
    """win_markov_transitions: each current-state row must be a
    probability distribution (sums to 1 within rounding) over at most
    |event types| successors."""
    from collections import defaultdict

    from cloudtrail_streamer_spark.registry import all_queries

    rows = all_queries()["win_markov_transitions"](spark, SF).collect()
    sums = defaultdict(float)
    fanout = defaultdict(int)
    for r in rows:
        sums[r["cur"]] += r["p"]
        fanout[r["cur"]] += 1
    assert sums and all(abs(s - 1.0) < 0.01 for s in sums.values()), dict(sums)
    assert all(n <= 5 for n in fanout.values())


def test_pit_features_are_leakage_free(spark):
    """feature_pit_join: a customer's first order must see 0 prior
    orders, counts are strictly increasing along each customer's order
    sequence, and no row ever sees the customer's full order count."""
    from collections import defaultdict

    from cloudtrail_streamer_spark.registry import all_queries

    rows = all_queries()["feature_pit_join"](spark, SF).collect()
    per_cust = defaultdict(list)
    for r in rows:
        per_cust[r["o_custkey"]].append(r["n_prior_orders"])
    for cust, counts in per_cust.items():
        assert min(counts) == 0, f"customer {cust}: no zero-history row"
        assert max(counts) == len(counts) - 1, f"customer {cust}: leakage"


def test_interpolation_is_exact_on_observed_and_bounded_between(spark):
    """events_interpolate_linear: observed hours pass through verbatim;
    interpolated values lie strictly between their neighbors' values
    (linearity corollary on a 1-hour grid)."""
    from cloudtrail_streamer_spark.registry import all_queries

    rows = all_queries()["events_interpolate_linear"](spark, SF).collect()
    assert any(r["is_observed"] == 0 for r in rows), "no gaps exercised"
    for r in rows:
        assert r["n_filled"] is not None and r["n_filled"] >= 0
        if r["is_observed"] == 1:
            assert abs(r["n_filled"] - round(r["n_filled"])) < 1e-9, r


def _bpe_toks(spark, texts):
    from cloudtrail_streamer_spark.operators.engine_ext import _bpe_apply, _bpe_best  # noqa: F401

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("p", "tok"),
    ).select("doc_id", (F.col("p") + 1).cast("long").alias("pos"), "tok")


def test_bpe_merges_hand_corpus(spark):
    """text_bpe_merges kernel: known corpus, hand-computed merge chain.
    corpus = [the cat sat, the cat ran, the dog sat] →
    merge1 (the,cat)×2; after application the tie at count 1 breaks
    pair-ASC → merge2 (dog,sat); merge3 (the, dog_sat)."""
    from cloudtrail_streamer_spark.operators.engine_ext import _bpe_apply, _bpe_best

    toks = _bpe_toks(spark, ["the cat sat", "the cat ran", "the dog sat"])
    b1 = _bpe_best(toks).collect()[0]
    assert (b1["w1"], b1["w2"], b1["c"]) == ("the", "cat", 2)
    toks = _bpe_apply(toks, _bpe_best(toks))
    b2 = _bpe_best(toks).collect()[0]
    assert (b2["w1"], b2["w2"], b2["c"]) == ("dog", "sat", 1)
    toks = _bpe_apply(toks, _bpe_best(toks))
    b3 = _bpe_best(toks).collect()[0]
    assert (b3["w1"], b3["w2"]) == ("the", "dog_sat")


def test_bpe_apply_greedy_nonoverlapping(spark):
    """'a b a b a' with merge (a,b): both matches apply (non-overlapping
    since w1 ≠ w2), yielding [a_b, a_b, a]; the next iteration's best
    pair must then be (a_b, a) — the self-pair (a_b, a_b) is excluded
    by the w1 ≠ w2 rule."""
    from cloudtrail_streamer_spark.operators.engine_ext import _bpe_apply, _bpe_best

    toks = _bpe_toks(spark, ["a b a b a"])
    merged = _bpe_apply(toks, _bpe_best(toks)).orderBy("pos").collect()
    assert [r["tok"] for r in merged] == ["a_b", "a_b", "a"]
    b2 = _bpe_best(
        _bpe_apply(_bpe_toks(spark, ["a b a b a"]), _bpe_best(toks))
    ).collect()[0]
    assert (b2["w1"], b2["w2"], b2["c"]) == ("a_b", "a", 1)


def test_training_shards_manifest_covers_all_docs(spark):
    """sink_training_shards: 8 shards, doc counts sum to the corpus
    size, every token counted exactly once."""
    rows = all_queries()["sink_training_shards"](spark, SF).collect()
    assert len(rows) == 8
    docs = table(spark, SF, "documents")
    n = docs.count()
    toks = docs.select(F.sum(F.size(F.split("text", " "))).alias("t")).collect()[0]["t"]
    assert sum(r["n_docs"] for r in rows) == n
    assert sum(r["n_tokens"] for r in rows) == toks


def test_match_recognize_leftmost_nonoverlapping(spark):
    """win_match_recognize semantics on a hand sequence: 'vvcpvcpx' has
    two non-overlapping v+c+p matches, first = 'vvcp'; 'vpc' has none
    (order matters); greedy + leftmost in both engines."""
    import datetime

    rows = []
    for uid, types in [
        (1, ["view", "view", "click", "purchase", "view", "click", "purchase", "x"]),
        (2, ["view", "purchase", "click"]),
    ]:
        for i, t in enumerate(types):
            rows.append((i, datetime.datetime(2024, 1, 1, 0, i), uid, t))
    d = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    seq = d.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("l")
                        )
                    )
                ),
                lambda s: s["l"],
            ),
            "",
        ).alias("s")
    )
    marked = F.regexp_replace("s", "v+c+p", "#")
    got = {
        r["user_id"]: (r["m"], r["n"])
        for r in seq.select(
            "user_id",
            F.regexp_extract("s", "v+c+p", 0).alias("m"),
            (F.length(marked) - F.length(F.regexp_replace(marked, "#", "")))
            .cast("long")
            .alias("n"),
        ).collect()
    }
    assert got[1] == ("vvcp", 2)
    assert got[2] == ("", 0)


def test_touch_attribution_conserves_purchases(spark):
    """win_touch_attribution: channels are only view/click/direct, and
    attributed purchase counts sum to the total purchase count."""
    rows = all_queries()["win_touch_attribution"](spark, SF).collect()
    ev = table(spark, SF, "events")
    n_purch = ev.where(F.col("event_type") == "purchase").count()
    assert {r["channel"] for r in rows} <= {"view", "click", "direct"}
    assert sum(r["n_purchases"] for r in rows) == n_purch


def test_python_datasource_split_pruning():
    """The claimed EqualTo(aws_region) must prune generator splits at
    planning time — and ONLY matching splits may survive, because Spark
    deletes the Filter node for claimed predicates (a claimed-but-
    unapplied filter would silently return wrong rows)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from cloudtrail_streamer_spark.operators.datasource_py import _CTGenReader

    r = _CTGenReader({"n_events": "64000", "splits": "8"})
    unsupported = list(
        r.pushFilters(
            [EqualTo(("aws_region",), "us-east-1"), GreaterThan(("event_id",), 5)]
        )
    )
    # only the region equality is claimed; everything else handed back
    assert unsupported == [GreaterThan(("event_id",), 5)]
    parts = r.partitions()
    assert [(p.start, p.end, p.region) for p in parts] == [
        (0, 8000, "us-east-1"),
        (32000, 40000, "us-east-1"),
    ]
    n = sum(b.num_rows for p in parts for b in r.read(p))
    assert n == 16000
    # an impossible value prunes everything (still exhaustive, still correct)
    r2 = _CTGenReader({"n_events": "64000", "splits": "8"})
    list(r2.pushFilters([EqualTo(("aws_region",), "mars-north-1")]))
    assert r2.partitions() == []
    # no filters: all 8 splits, full domain
    r3 = _CTGenReader({"n_events": "64000", "splits": "8"})
    parts3 = r3.partitions()
    assert len(parts3) == 8
    assert sum(b.num_rows for p in parts3 for b in r3.read(p)) == 64000


def test_python_stream_reader_offset_resume():
    """The streaming reader's offset contract: chunked progress, exact
    resumption from any checkpointed offset, and a terminal empty read
    — what makes the multi-restart availableNow drive exactly-once."""
    from cloudtrail_streamer_spark.operators.datasource_py import _CTGenStreamReader

    r = _CTGenStreamReader({"n_events": "2000", "chunk": "700"})
    rows, off = r.read({"pos": 0})
    rows = list(rows)
    assert len(rows) == 700 and off == {"pos": 700}
    assert rows[0][0] == 0 and rows[-1][0] == 699
    # resume mid-stream (as a restarted query would, from the checkpoint)
    rows2, off2 = r.read({"pos": 1400})
    rows2 = list(rows2)
    assert len(rows2) == 600 and off2 == {"pos": 2000}
    assert rows2[0][0] == 1400 and rows2[-1][0] == 1999
    # terminal: no data, offset unchanged
    rows3, off3 = r.read({"pos": 2000})
    assert list(rows3) == [] and off3 == {"pos": 2000}


def test_python_datasource_writer_chunking_and_abort(tmp_path):
    """The kinesis_spool writer's delivery invariants, pinned
    off-cluster: the record cap fills the first full call with exactly
    500 records, the byte cap flushes ~900 KiB payloads before overflow,
    the receipts account for every row, and abort removes exactly this
    attempt's files (retry safety)."""
    import json
    import os

    from pyspark.sql import Row

    from cloudtrail_streamer_spark.streaming.sinks import KinesisStubClient
    from cloudtrail_streamer_spark.streaming.spool_source import (
        KinesisSpoolWriter,
        read_manifests,
    )

    out = str(tmp_path)
    w = KinesisSpoolWriter({"path": out})
    msg = w.write(iter([Row(pk=str(i % 4), data=f"e{i}") for i in range(1200)]))
    assert msg.receipts[0][0] == 500
    assert max(r[0] for r in msg.receipts) == 500
    assert sum(r[2] for r in msg.receipts) == 1200, "every row delivered once"
    w.commit([msg])
    (man,) = read_manifests(out, "_MANIFEST_")
    assert man["n_records"] == 1200 and man["n_chunks"] == len(msg.receipts)
    assert man["max_chunk_records"] == 500
    # the delivered spool lines re-parse to the same rows
    data = []
    for f in msg.files:
        with open(os.path.join(out, f)) as fh:
            data += [json.loads(line)["data"] for line in fh]
    assert sorted(data) == sorted(f"e{i}" for i in range(1200))
    # byte cap: ~900 KiB payloads must flush every 5 rows, never overflow
    w2 = KinesisSpoolWriter({"path": out})
    big = "x" * (900 * 1024)
    msg2 = w2.write(iter([Row(pk="0", data=f"{big}{i}") for i in range(12)]))
    assert [r[0] for r in msg2.receipts] == [5, 5, 2]
    assert all(b <= KinesisStubClient.BYTE_CAP for _, b, _ in msg2.receipts)
    assert sum(r[2] for r in msg2.receipts) == 12
    # abort removes ONLY this attempt's files
    w2.abort([msg2])
    assert not any(os.path.exists(os.path.join(out, f)) for f in msg2.files)
    assert all(os.path.exists(os.path.join(out, f)) for f in msg.files), (
        "abort must not touch other runs' deliveries"
    )


def test_oversized_record_raises_not_dropped(tmp_path):
    """A record too big for an empty PutRecords call — over the 1 MB
    per-record limit — must raise, not vanish from the delivery: through
    the kinesis_spool writer, whose failed write also deletes the call it
    had already sent (abort never sees a failed task), and through the
    stub client directly."""
    import os

    import pytest
    from pyspark.sql import Row

    from cloudtrail_streamer_spark.streaming.sinks import (
        KinesisStubClient,
        put_records_chunked,
    )
    from cloudtrail_streamer_spark.streaming.spool_source import KinesisSpoolWriter

    big = "x" * (1024 * 1024 + 1024)
    out = tmp_path / "writer"
    w = KinesisSpoolWriter({"path": str(out)})
    rows = [Row(pk="0", data=f"a{i}") for i in range(600)] + [Row(pk="1", data=big)]
    with pytest.raises(ValueError, match="exceeds"):
        w.write(iter(rows))
    assert os.listdir(out) == [], "a failed write must leave no partial delivery"

    client = KinesisStubClient(str(tmp_path / "spool"), fail_every=0)
    records = [
        {"Data": b"a", "PartitionKey": "0"},
        {"Data": big.encode(), "PartitionKey": "0"},
    ]
    with pytest.raises(ValueError, match="exceeds"):
        put_records_chunked(client, "s", records)


def test_spool_source_registers_twice(spark, tmp_path):
    """Registering the kinesis_spool format again in the same session is
    not an error, so ``register`` needs no guard that could hide a real
    failure; the batch connector then routes each spool record to its
    crc32(pk) shard."""
    import json
    import zlib

    from cloudtrail_streamer_spark.streaming.spool_source import register

    spool = tmp_path / "spool"
    spool.mkdir()
    with open(spool / "call_000001.jsonl", "w") as fh:
        for i in range(12):
            fh.write(json.dumps({"pk": str(i), "data": f"d{i}"}) + "\n")
    register(spark)
    register(spark)
    rows = (
        spark.read.format("kinesis_spool")
        .option("path", str(spool))
        .option("shards", "3")
        .load()
        .collect()
    )
    assert sorted(r["data"] for r in rows) == sorted(f"d{i}" for i in range(12))
    assert all(r["shard_id"] == zlib.crc32(r["pk"].encode()) % 3 for r in rows)


def test_spool_read_parses_each_record_once(tmp_path, monkeypatch):
    """A 4-shard read of a client-written spool parses each record in
    full once (``json.loads`` calls == records), and every shard still
    yields exactly the records with ``crc32(pk) % 4`` equal to its id,
    keys with quotes, backslashes and non-ASCII text included. Lines in
    another key order are parsed to be routed, and routed the same."""
    import json
    import os
    import zlib
    from collections import Counter

    from cloudtrail_streamer_spark.streaming import spool_source
    from cloudtrail_streamer_spark.streaming.sinks import KinesisStubClient, put_records_chunked

    spool = str(tmp_path / "spool")
    pks = [str(i % 37) for i in range(423)] + ['a"b', "c\\d", "é", "日本", "\u2028", ""]
    records = [
        {"Data": f"d{i}".encode(), "PartitionKey": pk} for i, pk in enumerate(pks)
    ]
    assert put_records_chunked(KinesisStubClient(spool), "s", records) == len(records)
    foreign = [{"Data": f"x{i}".encode(), "PartitionKey": f"k{i}"} for i in range(3)]
    with open(os.path.join(spool, "call_zz_000001.jsonl"), "w") as fh:
        for r in foreign:
            fh.write(json.dumps({"data": r["Data"].decode(), "pk": r["PartitionKey"]}) + "\n")
    loads = Counter()
    real_loads = json.loads

    def counting(s, *a, **k):
        loads["n"] += 1
        return real_loads(s, *a, **k)

    monkeypatch.setattr(spool_source.json, "loads", counting)
    reader = spool_source.KinesisSpoolReader({"path": spool, "shards": "4"})
    got = {p.shard_id: sorted(reader.read(p)) for p in reader.partitions()}
    assert len(records) == 429
    assert loads["n"] == len(records) + 4 * len(foreign)
    want = {s: [] for s in range(4)}
    for r in records + foreign:
        shard = zlib.crc32(r["PartitionKey"].encode("utf-8")) % 4
        want[shard].append((r["PartitionKey"], r["Data"].decode(), shard))
    assert got == {s: sorted(rows) for s, rows in want.items()}


def test_python_stream_writer_epoch_idempotent(tmp_path):
    """A replayed epoch (same batchId committed twice, as after a crash
    between sink commit and checkpoint write) must be a no-op: one
    manifest, original totals — the exactly-once guarantee."""
    import json
    import os

    from pyspark.sql import Row

    from cloudtrail_streamer_spark.streaming.spool_source import KinesisSpoolStreamWriter

    out = str(tmp_path)
    w = KinesisSpoolStreamWriter({"path": out})
    rows = [Row(pk=str(i), data=str(i)) for i in range(100)]
    msg = w.write(iter(rows))
    w.commit([msg], batchId=7)
    man_path = os.path.join(out, "_EPOCH_7.json")
    first = json.load(open(man_path))
    assert first["n_records"] == 100 and first["batch_id"] == 7
    # replay the same epoch with different (duplicate) content
    msg2 = w.write(iter(rows))
    w.commit([msg2], batchId=7)
    assert json.load(open(man_path)) == first, "replayed epoch must not re-commit"
    # a NEW epoch commits normally
    w.commit([w.write(iter(rows))], batchId=8)
    assert os.path.exists(os.path.join(out, "_EPOCH_8.json"))


def _spool_rows(lo: int, hi: int):
    from pyspark.sql import Row

    return iter([Row(pk=str(i), data=str(i)) for i in range(lo, hi)])


def _spool_data(spark, path: str) -> list:
    from cloudtrail_streamer_spark.streaming.spool_source import register

    register(spark)
    back = spark.read.format("kinesis_spool").option("path", path).load()
    return sorted(int(r["data"]) for r in back.select("data").collect())


def test_stream_writer_abort_spares_committed_epochs(spark, tmp_path):
    """Aborting epoch N deletes only the files its messages name: the
    records of every committed epoch stay readable, and none of the
    aborted epoch's are."""
    from cloudtrail_streamer_spark.streaming.spool_source import KinesisSpoolStreamWriter

    out = str(tmp_path)
    w = KinesisSpoolStreamWriter({"path": out})
    w.commit([w.write(_spool_rows(0, 300))], batchId=0)
    w.commit([w.write(_spool_rows(300, 600))], batchId=1)
    w.abort([w.write(_spool_rows(600, 900))], batchId=2)
    assert _spool_data(spark, out) == list(range(600))


def test_stream_writer_replayed_epoch_delivers_once(spark, tmp_path):
    """A replayed epoch whose manifest exists is refused AND its files
    are deleted: the delivered records and the manifest are both
    exactly as the first commit left them."""
    import os

    from cloudtrail_streamer_spark.streaming.spool_source import KinesisSpoolStreamWriter

    out = str(tmp_path)
    w = KinesisSpoolStreamWriter({"path": out})
    w.commit([w.write(_spool_rows(0, 300))], batchId=0)
    man = os.path.join(out, "_EPOCH_0.json")
    first = open(man).read()
    w.commit([w.write(_spool_rows(0, 300))], batchId=0)  # the replay
    assert _spool_data(spark, out) == list(range(300)), "replay must not re-deliver"
    assert open(man).read() == first


def test_one_stub_kinesis_client_and_writer_module():
    """``KinesisStubClient`` is the only class in the package with a
    ``put_records``, and spool_source.py the only module that subclasses
    the Python DataSource writers: one client, one connector, one spool
    format."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "cloudtrail_streamer_spark"
    )
    clients, writer_modules = set(), set()
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            with open(os.path.join(dirpath, f)) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if not isinstance(node, ast.ClassDef):
                    continue
                if any(isinstance(b, ast.FunctionDef) and b.name == "put_records" for b in node.body):
                    clients.add(node.name)
                bases = {getattr(b, "id", getattr(b, "attr", None)) for b in node.bases}
                if bases & {"DataSourceWriter", "DataSourceStreamWriter"}:
                    writer_modules.add(f)
    assert clients == {"KinesisStubClient"}
    assert writer_modules == {"spool_source.py"}


def test_tfidf_strategies_agree(spark):
    """text_tfidf's two df stages (single-pass window vs skew-free
    aggregate+join) must produce identical rows — the cost router may
    pick either without changing results."""
    from cloudtrail_streamer_spark.operators.text import _tfidf_frame

    a = _tfidf_frame(spark, SF, "window").collect()
    b = _tfidf_frame(spark, SF, "join").collect()
    key = lambda r: (r["doc_id"], r["term"])  # noqa: E731
    assert sorted(map(tuple, a), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, b), key=lambda t: (t[0], t[1])
    )
    assert len(a) == len({key(r) for r in a})


def test_scripting_conf_restored(spark):
    """sql_scripting_param must restore spark.sql.scripting.enabled to
    its prior value — a leaked parser conf changes behavior for every
    later query in the process (ADVICE r05)."""
    before = spark.conf.get("spark.sql.scripting.enabled", None)
    all_queries()["sql_scripting_param"](spark, SF).collect()
    after = spark.conf.get("spark.sql.scripting.enabled", None)
    assert before == after, f"conf leaked: {before!r} -> {after!r}"


def test_scratch_dir_distinct_per_sf():
    """One process touching the same query at two scale factors must get
    two scratch paths — aliasing would let the second build overwrite
    files the first DataFrame's cached file index still points at
    (VERDICT r05 #2; exactly bench.py --floor's lo/hi interleave)."""
    from cloudtrail_streamer_spark.catalog import scratch_dir

    a = scratch_dir("merge_upsert_partitioned", "/root/testdata/sf0.001")
    b = scratch_dir("merge_upsert_partitioned", "/root/testdata/sf0.01")
    assert a != b
    # and stable on re-request (bench min-of-N reruns overwrite in place)
    assert a == scratch_dir("merge_upsert_partitioned", "/root/testdata/sf0.001")


def test_seeded_corpus_guard_trips(spark):
    """A base doc_id >= _SEED_OFFSET must fail LOUDLY: the oracle applies
    the identical offsets, so a silent collision would corrupt both
    engines identically and the hash check would still pass."""
    import pytest

    from cloudtrail_streamer_spark.operators.dedup import (
        _SEED_OFFSET,
        seeded_neardup_corpus,
    )

    bad = spark.createDataFrame(
        [(int(_SEED_OFFSET) + 5, "hello world")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="collide"):
        seeded_neardup_corpus(bad).collect()
    ok = spark.createDataFrame([(7, "hello world")], "doc_id long, text string")
    assert seeded_neardup_corpus(ok).count() == 2


def test_domain_mixture_invariants(spark):
    """pipeline_domain_mixture: probabilities form a distribution
    (sum≈1 within rounding), the temperature exponent (α=0.7 < 1) must
    UPWEIGHT small sources relative to proportional sampling, and the
    planned 1M draw must hit the budget within per-source rounding."""
    rows = all_queries()["pipeline_domain_mixture"](spark, SF).collect()
    tot_tokens = sum(r["n_tokens"] for r in rows)
    p_sum = sum(r["p_sample"] for r in rows)
    assert abs(p_sum - 1.0) < 1e-3 * len(rows)
    assert abs(sum(r["planned_tokens_1m"] for r in rows) - 1_000_000) <= len(rows)
    smallest = min(rows, key=lambda r: r["n_tokens"])
    largest = max(rows, key=lambda r: r["n_tokens"])
    assert smallest["p_sample"] > smallest["n_tokens"] / tot_tokens - 1e-9
    assert largest["p_sample"] < largest["n_tokens"] / tot_tokens + 1e-9


def test_crossdoc_substring_bounds(spark):
    """text_crossdoc_substring: every reported doc has 0 < n_shared <=
    n_windows, ratio consistent; and sharing is symmetric — a shared
    window implicates at least two docs, so the doc count is >= 2
    whenever any row exists."""
    rows = all_queries()["text_crossdoc_substring"](spark, SF).collect()
    for r in rows:
        assert 0 < r["n_shared"] <= r["n_windows"]
        assert abs(r["shared_ratio"] - round(r["n_shared"] / r["n_windows"], 4)) < 1e-9
    if rows:
        assert len(rows) >= 2, "shared windows must implicate >= 2 docs"


def test_psi_drift_distribution(spark):
    """agg_psi_drift: smoothed per-period probabilities each sum to ~1
    over buckets (Laplace denominator accounts for the 10-bin domain),
    and every PSI term is non-negative up to rounding — (p-q)·ln(p/q)
    has the same sign in both factors."""
    rows = all_queries()["agg_psi_drift"](spark, SF).collect()
    assert rows, "bucketed events must produce rows"
    assert all(r["psi_term"] >= -1e-6 for r in rows)
    # missing buckets contribute 1/(T+10) each; allow their mass
    missing = 10 - len(rows)
    for col, miss_unit in (("p_ref", "ta"), ("p_cur", "tb")):
        s = sum(r[col] for r in rows)
        assert 0.9 <= s <= 1.0 + 1e-6, f"{col} sums to {s}"
        assert missing >= 0


def test_exact_int_gram_both_regimes():
    """embed_covariance_matrix's Gram kernel must equal the direct int64
    matmul in BOTH the single-dgemm regime (small magnitudes) and the
    split-GEMM regime (magnitudes that overflow float64 exactness)."""
    import numpy as np

    from cloudtrail_streamer_spark.operators.stats_tests import exact_int_gram

    rng = np.random.default_rng(7)
    small = rng.integers(-600_000, 600_000, size=(1000, 64), dtype=np.int64)
    assert np.array_equal(exact_int_gram(small), small.T @ small)
    # force the split path: rows * qmax^2 >= 2^53
    big = rng.integers(-(1 << 23), 1 << 23, size=(1000, 16), dtype=np.int64)
    big[0, 0] = (1 << 24) - 1  # pin qmax near the bound
    assert 1000 * ((1 << 24) - 1) ** 2 >= (1 << 53)
    assert np.array_equal(exact_int_gram(big), big.T @ big)
    # bound violation must fail loudly, never silently lose exactness
    import pytest as _pytest

    # ValueError, not AssertionError, since ADVICE r09 #3: the guards
    # must survive `python -O`, so they are unconditional raises now
    with _pytest.raises(ValueError):
        exact_int_gram(np.array([[1 << 24]], dtype=np.int64))
    # split-path recombination bound (ADVICE r08 #2): rows*qmax^2 >= 2^63
    # would wrap the int64 shift-add — must raise, not corrupt partials
    wide = np.full((32769, 2), (1 << 24) - 1, dtype=np.int64)
    assert 32769 * ((1 << 24) - 1) ** 2 >= (1 << 63)
    with _pytest.raises(ValueError):
        exact_int_gram(wide)


def test_winsorized_mean_bounds_resolve(spark):
    """ADVICE r08 #1 regression: with float `/` rank arithmetic the lo/hi
    order statistics resolved only when (n-1) % 20 == 0 — otherwise both
    engines silently returned NULL bounds and winsorized == raw, and the
    mirrored flaw made the cross-engine hash pass anyway. sf0.001 has
    n=202 purchases ((n-1) % 20 = 1), so this fixture exercises exactly
    the broken case: bounds must be real rows and the clipped mean must
    differ from the raw mean."""
    from cloudtrail_streamer_spark.registry import all_queries

    row = all_queries()["agg_winsorized_mean"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert (row["n"] - 1) % 20 != 0, "fixture must hit a non-multiple rank"
    assert row["lo_cents"] is not None and row["hi_cents"] is not None
    assert row["lo_cents"] <= row["hi_cents"]
    assert row["winsorized_mean"] != row["raw_mean"]


def test_ordered_folds_partition_invariant(spark):
    """The r8 ordered-fold ops (DSIR per-doc sums, power-iteration
    matvecs/norms) claim bit-identical results regardless of physical
    partitioning — collect_list order varies with partition count, and
    sort_array is what normalizes it. Re-run both under a different
    shuffle-partition count and require EXACT equality."""
    from cloudtrail_streamer_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    base_dsir = all_queries()["text_dsir_importance"](spark, sf).collect()
    base_pow = all_queries()["embed_power_iteration"](spark, sf).collect()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt_dsir = all_queries()["text_dsir_importance"](spark, sf).collect()
        alt_pow = all_queries()["embed_power_iteration"](spark, sf).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert [tuple(r) for r in base_dsir] == [tuple(r) for r in alt_dsir]
    assert [tuple(r) for r in base_pow] == [tuple(r) for r in alt_pow]


def test_containment_catches_truncation_excerpts(spark):
    """text_minhash_containment: every seeded pair is a 90%-truncation
    (mutation ⊂ original up to one substituted token), so the op must
    flag mutation ids against their original, with containment ≥ 0.8
    and containment ≥ jaccard on every emitted row."""
    rows = all_queries()["text_minhash_containment"](spark, SF).collect()
    assert rows, "seeded excerpts must be flagged"
    for r in rows:
        assert r["containment"] >= 0.8
        assert r["containment"] >= r["jaccard"]
    seeded = {(r["id_a"], r["id_b"]) for r in rows if r["id_b"] == r["id_a"] + 1000000}
    assert len(seeded) >= 20, f"only {len(seeded)} seeded excerpt pairs flagged"


def test_zip_archive_reread_only_when_changed(spark, tmp_path, monkeypatch):
    """importlib.invalidate_caches() must not re-read an unchanged zip on
    sys.path (PySpark's worker calls it before every task), but must
    still pick up a rewritten one."""
    import importlib
    import sys
    import zipfile
    import zipimport

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("m1.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("m1").X == 1
        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda a: (reads.append(a), read(a))[1]
        )
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0, "unchanged archive was re-read"

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("m1.py", "X = 1\n")
            z.writestr("m2.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("m2").Y == 2
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)

    def probe(_):
        import zipimport

        import cloudtrail_streamer_spark  # noqa: F401

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == ["cloudtrail_streamer_spark.zipguard"]


def test_configure_records_conf_errors(spark, monkeypatch):
    """A conf configure() cannot set at runtime is recorded and warned
    about, not swallowed."""
    import warnings

    from cloudtrail_streamer_spark import session

    monkeypatch.setitem(session.RUNTIME_CONFS, "spark.sql.warehouse.dir", "/nonexistent")
    monkeypatch.setattr(session, "CONF_ERRORS", {})
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session.configure(spark)
    assert list(session.CONF_ERRORS) == ["spark.sql.warehouse.dir"]
    assert any("spark.sql.warehouse.dir" in str(w.message) for w in caught)


def test_bench_contract_without_spark():
    """bench.py's contract, checked without a SparkSession: perfbench
    imports ``bench.HEADLINE`` (same 14 names, same order), every query
    the decade table names is registered, ``import bench`` starts no
    session, and for a fully populated detail the compact stdout line
    keeps its key set and stays inside the 1900-byte tail window."""
    import json
    import subprocess
    import sys

    import bench

    assert bench.HEADLINE == [
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
    named = {n for rows in bench.DECADES.values() for _, _, qs, _ in rows for n in qs}
    assert named >= set(bench.LLM_SF10)
    assert named - set(all_queries()) == set()

    probe = (
        "import bench\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    subprocess.run([sys.executable, "-c", probe], cwd=bench.ROOT, check=True)

    secs = {n: 123.456 for n in bench.HEADLINE}
    detail = {
        "value": 1234.567,
        "queries": secs,
        "sf": 0.1,
        "duckdb": secs,
        "spark_job_floor_sec": 0.123,
        "load_suspect": list(bench.HEADLINE),
        "batched_wall_clock_sec": 12.345,
        "duckdb_batched_wall_clock_sec": 12.345,
        "marginal_ratio_sf1": {n: 123.45 for n in bench.SF1_QUERIES},
        "sf10": {"marginal_ratio_sf10": {n: 123.45 for n in bench.SF10_QUERIES}},
    }
    line = bench.compact_line(detail, bench.ROOT + "/BENCH_DETAIL.json")
    assert len(line) < 1900, len(line)
    assert set(json.loads(line)) == {
        "metric",
        "value",
        "unit",
        "queries",
        "sf",
        "duckdb_total_sec",
        "spark_job_floor_sec",
        "load_suspect",
        "batched_wall_clock_sec",
        "duckdb_batched_wall_clock_sec",
        "batched_ratio",
        "marginal_sf1",
        "marginal_sf10",
        "detail",
    }


def test_one_stream_start_site_and_one_temp_dir_owner():
    """Only streaming/harness.py starts a streaming query (AvailableNow
    trigger, checkpoint location), and only catalog.py calls
    tempfile.mkdtemp: every other module, tests included, goes through
    harness.run_to_completion and catalog.temp_dir. No caller passes a
    source directory: the runner reads it from the stream's plan. This
    file holds the patterns, so the scan skips it."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    patterns = {
        r"trigger\(\s*availableNow": {"harness.py"},
        r"checkpointLocation": {"harness.py"},
        # test_streaming.py wraps it to record what a pipeline makes
        r"tempfile\.mkdtemp": {"catalog.py", "test_streaming.py"},
        r"source_dir": set(),
    }
    found = {p: set() for p in patterns}
    for top in ("cloudtrail_streamer_spark", "tests"):
        for dirpath, _, files in os.walk(os.path.join(root, top)):
            for f in files:
                path = os.path.join(dirpath, f)
                if f.endswith(".py") and path != os.path.abspath(__file__):
                    with open(path) as fh:
                        src = fh.read()
                    for p in patterns:
                        if re.search(p, src):
                            found[p].add(f)
    assert found == patterns
