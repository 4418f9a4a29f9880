"""Operator-level behavior tests beyond the oracle gate: LSH recall,
dedup candidate quality, naughty-string robustness, reader registry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bacalhau_spark.catalog import table
from bacalhau_spark.functions import cosine, shingles, words
from bacalhau_spark.operators.dedup import nd_minhash_lsh, nd_ngram_jaccard
from bacalhau_spark.operators.similarity import (nd_ann_ivf, nd_ann_lsh,
                                                 nd_ann_topk)
from bacalhau_spark.sources import readers

# A compact "naughty strings" corpus in the spirit of the reference's
# testdata/bad_strings_full.txt (sanitizer fuzz, `pkg/job/util.go:8-23`).
NAUGHTY = [
    "", " ", "''", '"\\"', "NULL", "None", "undefined",
    "' OR 1=1 --", "<script>alert(1)</script>", "Ω≈ç√∫˜µ≤≥÷",
    "社會科學院語學研究所", "👾 🙇 💁 🙅", "ثم نفس سقطت",
    "\t\n\r", "ﬁﬂ", "𝕊𝕡𝕒𝕣𝕜", "a" * 1000,
]


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    """The LSH ANN path must find the true top-1 neighbor for most queries
    when the bucket contains it — recall-thresholded, never hash-compared
    (SURVEY.md §7 hard part c)."""
    truth = {r["vec_id"]: r["nn"]
             for r in nd_ann_topk(spark, sf_dir).where("rank = 1").collect()}
    approx = {r["vec_id"]: r["nn"]
              for r in nd_ann_lsh(spark, sf_dir).where("rank = 1").collect()}
    assert approx, "LSH returned no candidates"
    hits = sum(1 for q, nn in approx.items() if truth.get(q) == nn)
    recall = hits / len(truth)
    # 8 hyperplanes / 256 buckets over a small corpus: recall is approximate
    # by construction; the gate is "clearly better than chance", tracked so
    # regressions (e.g. a broken signature) fail loudly.
    assert recall >= 0.2, f"LSH top-1 recall {recall:.2f} below floor"


def test_lsh_signature_expression_is_one_parse(spark, monkeypatch):
    """The band-signature expression (8 bands x 4 planes x 64 literals
    plus the folds) is built from one SQL string: a handful of Py4J
    calls, not one per literal and lambda."""
    from bacalhau_spark.operators.similarity import (
        embedding_band_signatures)

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)
    monkeypatch.setattr(client, "send_command", counted)
    embedding_band_signatures()
    monkeypatch.undo()
    assert 0 < len(calls) <= 10, len(calls)


def test_lshsig_rows_equal_the_duckdb_signatures(spark, sf_dir, tmp_path,
                                                 monkeypatch):
    """A fresh build of the lshsig kind gives exactly the (vec_id, band,
    sig) rows of the LSH oracles' DuckDB signature CTE."""
    import duckdb

    from bacalhau_spark.operators.similarity import (_LSH_SIG_CTES,
                                                     lsh_signature_index)
    from bacalhau_spark.sources.indexstore import clear_session_index

    monkeypatch.setenv("SPARK_GRAFT_INDEX_STORE", str(tmp_path))
    clear_session_index(spark)
    try:
        got = sorted(map(tuple, lsh_signature_index(spark, sf_dir)
                         .select("vec_id", "band", "sig").collect()))
    finally:
        clear_session_index(spark)
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/embeddings.parquet')")
        want = sorted(con.execute(
            f"WITH {_LSH_SIG_CTES} SELECT vec_id, band, sig FROM sig"
        ).fetchall())
    finally:
        con.close()
    assert got and got == want


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF (coarse quantizer + nprobe cells) must recover most true top-3
    neighbors. Measured ~0.9 recall@3 on the fixtures; 0.6 is the regression
    floor (a broken assignment or probe ranking lands near chance)."""
    truth = {(r["vec_id"], r["nn"])
             for r in nd_ann_topk(spark, sf_dir).collect()}
    got = {(r["vec_id"], r["nn"])
           for r in nd_ann_ivf(spark, sf_dir).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"IVF recall@3 {recall:.2f} below floor"


def test_ivf_pruned_probe_matches_and_prunes(spark, sf_dir):
    """The published inverted file (ivf_vectors_index): the pruned
    probe must give EXACTLY nd_ann_ivf's rows — same probe rule, same
    bit-identical re-rank, only the gather path differs — and the
    artifact must actually skip files: one probed cell's membership
    predicate opens a strict subset of the files (the NPROBE/K
    scan-fraction claim made measurable, not argued)."""
    from bacalhau_spark.sources.indexstore import index_table_root
    from bacalhau_spark.operators.similarity import (IVF_REV,
                                                     ivf_vectors_index,
                                                     nd_ann_ivf_pruned)
    from bacalhau_spark.sources.versioned import (latest_manifest,
                                                  pruned_file_count,
                                                  read_version)

    base = [tuple(r) for r in nd_ann_ivf(spark, sf_dir).collect()]
    got = [tuple(r) for r in nd_ann_ivf_pruned(spark, sf_dir).collect()]
    assert got == base and got
    ivf_vectors_index(spark, sf_dir)
    root = index_table_root(sf_dir, "ivf_vectors", "embeddings",
                            rev=IVF_REV)
    if latest_manifest(root) is None:
        pytest.skip("index store unusable here; equality covered above")
    kept, total = pruned_file_count(root, [("cluster", "in", (0,))])
    assert total > 1 and kept < total, (kept, total)
    # the pruned read's rows equal a full-scan filter's (pruning is a
    # superset guarantee; the residual isin filter closes it)
    pr = read_version(spark, root,
                      predicate=[("cluster", "in", (0, 3))])
    full = read_version(spark, root).where(F.col("cluster").isin(0, 3))
    assert sorted(r["vec_id"] for r in pr.select("vec_id").collect()) \
        == sorted(r["vec_id"] for r in full.select("vec_id").collect())


def test_ivf_pruned_composite_layout_equality(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """The >K COMPOSITE layout (files > one-per-cell, engaged when
    bytes demand it — forced here via a tiny byte target): boundary-
    spanning files must only widen what a probe OPENS, never change
    what it returns. Built on a content-unique corpus (Spark part
    UUIDs) so the fixture's published single-key artifact cannot
    adopt-shadow the composite build."""
    import shutil

    from bacalhau_spark.operators import similarity as S
    from bacalhau_spark.sources.indexstore import index_table_root
    from bacalhau_spark.sources.versioned import latest_manifest

    corpus = str(tmp_path / "corpus")
    (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
     .coalesce(2).write.parquet(f"{corpus}/embeddings.parquet"))
    monkeypatch.setattr(S, "IVF_VEC_TARGET_BYTES", 4096)
    try:
        base = [tuple(r) for r in S.nd_ann_ivf(spark, corpus).collect()]
        got = [tuple(r)
               for r in S.nd_ann_ivf_pruned(spark, corpus).collect()]
        assert got == base and got
        man = latest_manifest(index_table_root(
            corpus, "ivf_vectors", "embeddings", rev=S.IVF_REV))
        if man is not None:
            assert man["n_files"] > S.N_CLUSTERS, \
                "tiny target must force the composite >K layout"
    finally:
        for kind in ("ivf_coarse", "ivf_cells", "ivf_vectors"):
            shutil.rmtree(index_table_root(corpus, kind, "embeddings",
                                           rev=S.IVF_REV),
                          ignore_errors=True)


def test_ivf_pruned_never_reads_a_refused_head(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """A head the store refuses to adopt (a foreign table at this
    content's address — a truncated-digest collision) leaves the
    inverted file session-local, and the pruned probe must then filter
    that frame, not scan the foreign table's rows: corpus B, holding
    corpus A's published ivf_vectors table at its own address, probes
    exactly like nd_ann_ivf over B."""
    import shutil

    from bacalhau_spark.operators import similarity as S
    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   index_table_root)

    monkeypatch.setenv("SPARK_GRAFT_INDEX_STORE", str(tmp_path / "store"))
    clear_session_index(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    emb.coalesce(1).write.parquet(f"{a}/embeddings.parquet")
    # B: A's vectors with every non-query id moved, so A's rows name
    # neighbors B does not have
    (emb.withColumn("vec_id", F.when(F.col("vec_id") < 20, F.col("vec_id"))
                    .otherwise(F.col("vec_id") + 1_000_000))
     .coalesce(1).write.parquet(f"{b}/embeddings.parquet"))
    try:
        S.ivf_vectors_index(spark, a)
        shutil.copytree(index_table_root(a, "ivf_vectors", "embeddings",
                                         rev=S.IVF_REV),
                        index_table_root(b, "ivf_vectors", "embeddings",
                                         rev=S.IVF_REV))
        base = [tuple(r) for r in S.nd_ann_ivf(spark, b).collect()]
        got = [tuple(r) for r in S.nd_ann_ivf_pruned(spark, b).collect()]
        assert got == base and got
    finally:
        clear_session_index(spark)


def test_pca_ann_recall_vs_brute_force(spark, sf_dir):
    """The reduce-then-index pipeline (PCA 8-dim candidates, full-dim
    scoring) must recover most true top-3 neighbors — PCA keeps the
    dominant variance, so reduced-space cells should misroute few
    queries. Measured ~0.9 recall@3 on the fixtures; 0.6 is the
    regression floor (a broken projection or metric lands near
    chance)."""
    from bacalhau_spark.operators.similarity import nd_ann_pca

    truth = {(r["vec_id"], r["nn"])
             for r in nd_ann_topk(spark, sf_dir).collect()}
    got = {(r["vec_id"], r["nn"])
           for r in nd_ann_pca(spark, sf_dir).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"PCA-ANN recall@3 {recall:.2f} below floor"


def test_minhash_candidates_are_high_jaccard(spark, sf_dir):
    """LSH candidate pairs should substantially overlap true high-Jaccard
    pairs: every 4-hash band collision should be a genuinely similar pair."""
    cand = {(r["a_id"], r["b_id"]) for r in nd_minhash_lsh(spark, sf_dir).collect()}
    true_pairs = {(r["a_id"], r["b_id"])
                  for r in nd_ngram_jaccard(spark, sf_dir).collect()}
    if not true_pairs:
        pytest.skip("fixture slice has no near-dup pairs")
    # precision of LSH candidates against Jaccard>=0.5 3-gram pairs
    overlap = len(cand & true_pairs) / max(1, len(cand))
    assert overlap >= 0.5, f"minhash candidate precision {overlap:.2f}"


def test_string_plane_survives_naughty_strings(spark):
    """All string operators over adversarial input: no crash, deterministic
    output across two runs (the bad_strings corpus analog)."""
    df = spark.createDataFrame([(i, s) for i, s in enumerate(NAUGHTY)],
                               "id int, s string")
    out = df.select(
        "id",
        F.lower("s").alias("lo"), F.upper("s").alias("up"),
        F.length("s").alias("len"), F.md5("s").alias("h"),
        F.size(words("s")).alias("nw"),
        F.size(shingles(words("s"), 3)).alias("nsh"),
        F.regexp_like("s", F.lit("[A-Z]{3,}")).alias("re"),
    )
    a = [tuple(r) for r in out.collect()]
    b = [tuple(r) for r in out.collect()]
    assert a == b
    assert len(a) == len(NAUGHTY)


def test_cosine_self_similarity(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").limit(20)
    sims = emb.select(cosine(F.col("embedding"), F.col("embedding")).alias("c")) \
              .collect()
    for r in sims:
        assert r["c"] == pytest.approx(1.0, abs=1e-5)


def test_reader_registry(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = readers.read(spark, "csv", str(p), schema="a int, b string",
                      header=True)
    assert df.count() == 2
    with pytest.raises(ValueError):
        readers.read(spark, "avro", str(p))
    assert readers.is_url_supported("https://example.com/x.csv")
    assert not readers.is_url_supported("ftp://example.com/x.csv")
    assert not readers.is_url_supported("file:///etc/passwd")


def test_approx_percentile_tolerance(spark, sf_dir):
    """Approx percentiles must land within 5% of the exact interpolated
    values (tolerance gate, never hash — SURVEY.md §2.6 approx row)."""
    from bacalhau_spark.operators.aggregates import (nd_approx_percentiles,
                                                     nd_percentiles)
    exact = {r["l_returnflag"]: (r["median_qty"], r["p90_price"])
             for r in nd_percentiles(spark, sf_dir).collect()}
    approx = {r["l_returnflag"]: (r["median_qty"], r["p90_price"])
              for r in nd_approx_percentiles(spark, sf_dir).collect()}
    assert exact.keys() == approx.keys()
    for k, (em, ep) in exact.items():
        am, ap = approx[k]
        assert abs(am - em) <= 0.05 * em + 1e-9
        assert abs(ap - ep) <= 0.05 * ep + 1e-9


def test_approx_count_distinct_tolerance(spark, sf_dir):
    from bacalhau_spark.operators.aggregates import (q18_count_distinct,
                                                     q18b_approx_distinct)
    exact = q18_count_distinct(spark, sf_dir).collect()[0]["exact_cnt"]
    approx = q18b_approx_distinct(spark, sf_dir).collect()[0]["approx_cnt"]
    assert abs(approx - exact) <= 0.05 * exact


def test_trailing_window_microsecond_boundary(spark):
    """Frame membership is decided at full microsecond precision: a pair
    whose true gap is 3600.05s must be OUTSIDE the trailing-1h frame even
    though their whole-second floors differ by exactly 3600 (the
    seconds-granularity bug would include it)."""
    from pyspark.sql import functions as F
    from bacalhau_spark.operators.windows import trailing_1h_window

    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, 1, TIMESTAMP '2024-01-01 00:00:00.900', 10.0), "
        "(2, 1, TIMESTAMP '2024-01-01 00:00:01.000', 2.0), "
        "(3, 1, TIMESTAMP '2024-01-01 01:00:00.950', 5.0) "
        "AS t(event_id, user_id, ts, value)")
    got = {r["event_id"]: r["trailing"] for r in df.select(
        "event_id",
        F.sum("value").over(trailing_1h_window()).alias("trailing"),
    ).collect()}
    # event 3: gap to event 1 is 3600.050s (out), to event 2 is 3599.950s (in)
    assert got[3] == 7.0
    assert got[1] == 10.0 and got[2] == 12.0


def test_stop_shingle_df_cap_suppresses_quadratic_candidates(spark):
    """A shingle shared by every document must NOT generate O(n^2) candidate
    pairs: with the df cap the hot shingle is dropped before the self-join,
    so docs pairing only through it never meet."""
    from bacalhau_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.sql(
        "SELECT id AS doc_id, "
        "concat('common boiler plate u', id, ' v', id, ' w', id) AS text "
        "FROM range(30)")
    # cap off (huge): every pair shares 'common boiler plate' -> 435 pairs
    uncapped = ngram_jaccard_pairs(docs, threshold=0.0, df_cap=10**9).count()
    assert uncapped == 30 * 29 // 2
    # cap on: the only shared shingle is hot (df=30 > 10) -> zero candidates
    assert ngram_jaccard_pairs(docs, threshold=0.0, df_cap=10).count() == 0


def test_lsh_bucket_cap_suppresses_hot_bucket(spark):
    """An LSH bucket holding every doc (identical signatures) must be dropped
    by the bucket-size guard instead of producing f(f-1)/2 pairs."""
    from pyspark.sql import functions as F
    from bacalhau_spark.operators.dedup import N_HASHES, _band_candidates

    sig_wide = spark.range(30).select(
        F.col("id").alias("doc_id"),
        *[F.lit(7).alias(f"mh{s}") for s in range(N_HASHES)])
    assert _band_candidates(sig_wide, bucket_cap=100).count() == 30 * 29 // 2
    assert _band_candidates(sig_wide, bucket_cap=10).count() == 0


def _make_bmp(w: int, h: int) -> bytes:
    """Minimal valid 24bpp BMP built with struct — no image library needed."""
    import struct
    row = (w * 3 + 3) // 4 * 4
    data = bytes(row * h)
    header = (b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                            2835, 2835, 0, 0))
    return header + data


def test_image_decode_capability_probe(spark):
    """decode_image_real decodes true dimensions — via PIL when present,
    via the built-in 24bpp BMP parser otherwise (r13: the real-pixel
    path is exercisable in any environment) — and raises the declared
    NotImplementedError only for payloads NEITHER can decode; the
    mapInPandas real path never fails a batch — undecodable payloads
    fall back to the deterministic fake per payload."""
    from bacalhau_spark.operators.multimodal import (decode_image_real,
                                                     image_codec_available,
                                                     multimodal_features_real)

    bmp = _make_bmp(4, 2)
    w, h, phash = decode_image_real(bmp)
    assert (w, h) == (4, 2) and phash
    if not image_codec_available():
        with pytest.raises(NotImplementedError, match="PIL"):
            decode_image_real(b"definitely not an image")

    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(b"definitely not an image"))],
        "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in multimodal_features_real(df).collect()}
    assert rows[1]["n_bytes"] == len(bmp)
    assert (rows[1]["width"], rows[1]["height"]) == (4, 2)
    assert rows[2]["width"] >= 16 and rows[2]["phash"]  # fake fallback


def test_image_phash_finds_variant_families(spark, sf_dir):
    """nd_image_phash semantics the oracle hash cannot state by itself:
    every confirmed pair is a same-base variant family (the synthesis's
    ground truth — cross-base thumbnails measure hamming >= 14, far
    above the gate), recall over the same-base pairs is ~1 (the banding
    misses a pair only when the perturbation splits across all four
    bands), and hamming is within the gate."""
    from bacalhau_spark.operators.multimodal import (PHASH_FAMILY,
                                                     PHASH_MAX_HAMMING,
                                                     nd_image_phash)

    rows = nd_image_phash(spark, sf_dir).collect()
    assert rows, "no near-dup families found"
    assert all(r.a_id // PHASH_FAMILY == r.b_id // PHASH_FAMILY
               for r in rows)
    assert all(0 <= r.hamming <= PHASH_MAX_HAMMING for r in rows)
    n_docs = table(spark, sf_dir, "documents").count()
    full = sum(PHASH_FAMILY * (PHASH_FAMILY - 1) // 2
               for _ in range(n_docs // PHASH_FAMILY))
    assert len(rows) >= 0.95 * full, (len(rows), full)


def test_image_phash_scale_shape(spark, sf_dir):
    """Plan claims: candidate generation is bucket-and-expand (no
    cartesian, no sort-merge self-join of the corpus), verification
    gathers the hash table in ONE scan with the pair set broadcast,
    and the hot-bucket guard drops oversized buckets before expansion
    (a degenerate constant hash yields zero pairs, not a quadratic
    bucket)."""
    from bacalhau_spark.operators.multimodal import (nd_image_phash,
                                                     phash_candidate_pairs)

    df = nd_image_phash(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

    degenerate = spark.range(200).select(
        F.col("id").alias("doc_id"),
        *[F.lit(7).cast("long").alias(f"b{i}") for i in range(4)])
    assert phash_candidate_pairs(degenerate).count() == 0


def test_audio_phash_finds_variant_families(spark, sf_dir):
    """nd_audio_phash semantics the oracle hash cannot state by itself:
    every confirmed pair is a same-base variant family (the synthesis
    ground truth — cross-family envelopes measure hamming >= 18, far
    above the gate), recall over same-family pairs is high (a pair is
    missed only when both clips' perturbations split across all four
    bands), and hamming is within the gate."""
    from bacalhau_spark.operators.multimodal import (APHASH_FAMILY,
                                                     APHASH_MAX_HAMMING,
                                                     nd_audio_phash)

    rows = nd_audio_phash(spark, sf_dir).collect()
    assert rows, "no near-dup clip families found"
    assert all(r.a_id // APHASH_FAMILY == r.b_id // APHASH_FAMILY
               for r in rows)
    assert all(0 <= r.hamming <= APHASH_MAX_HAMMING for r in rows)
    n_docs = table(spark, sf_dir, "documents").count()
    full = sum(APHASH_FAMILY * (APHASH_FAMILY - 1) // 2
               for _ in range(n_docs // APHASH_FAMILY))
    assert len(rows) >= 0.9 * full, (len(rows), full)


def test_audio_phash_scale_shape(spark, sf_dir):
    """Plan claims: candidate generation is capped bucket-and-expand
    (no cartesian, no sort-merge self-join), verification gathers the
    persisted hash index in one scan, and the whole hash build is
    JVM-side codegen (no Python eval anywhere in the plan)."""
    from bacalhau_spark.operators.multimodal import nd_audio_phash

    df = nd_audio_phash(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_phash_candidate_tier_is_persisted(spark, sf_dir):
    """r14: the phash candidate pairs are the second persisted index
    tier (the minhash sig->cand layout). Pins: (a) the warm probe's
    plan scans the candidate ARTIFACT (index store parquet) and does
    NOT regenerate it — no band-bucket Window and no pair-expand
    flatten anywhere in the executed plan; (b) the persisted pair set
    equals a direct regeneration from the signature index (the drift
    guard, same clause as the winnow index test)."""
    import os

    from bacalhau_spark.sources.indexstore import index_store_root
    from bacalhau_spark.operators.multimodal import (PHASH_BUCKET_CAP,
                                                     nd_image_phash,
                                                     phash_candidate_pairs,
                                                     phash_index)

    df = nd_image_phash(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert os.path.basename(index_store_root()) in plan
    assert ") Window" not in plan and "row_number" not in plan
    assert "flatten(transform" not in plan
    direct = phash_candidate_pairs(phash_index(spark, sf_dir),
                                   bucket_cap=PHASH_BUCKET_CAP)
    got = {(r.a_id, r.b_id) for r in df.collect()}
    regen = {(r.a_id, r.b_id) for r in direct.collect()}
    assert got <= regen  # verified pairs are a subset of candidates
    assert regen == {(r.a_id, r.b_id) for r in
                     _phash_cand_frame(spark, sf_dir).collect()}


def _phash_cand_frame(spark, sf_dir):
    from bacalhau_spark.sources.indexstore import cached_index
    from bacalhau_spark.operators.multimodal import (PHASH_BUCKET_CAP,
                                                     phash_candidate_pairs,
                                                     phash_index)
    return cached_index(
        spark, sf_dir, "phash_cand",
        lambda: phash_candidate_pairs(phash_index(spark, sf_dir),
                                      bucket_cap=PHASH_BUCKET_CAP))


def test_video_phash_bit_layout_forms_agree():
    """The oracle states the (band, pos) layout as ARITHMETIC over the
    flat cell index while the Spark emitter walks _vphash_cell_layout —
    pin the two forms to each other cell by cell so the bit packing
    cannot drift between engines."""
    from bacalhau_spark.operators.multimodal import (VPHASH_CELLS,
                                                     _vphash_cell_layout)

    seen = set()
    for c in range(VPHASH_CELLS):
        layout = _vphash_cell_layout(c)
        if (c % 72) % 9 == 8:
            assert layout is None
            continue
        band = (c // 72) * 4 + (((c % 72) // 9) * 8 + (c % 72) % 9) // 16
        pos = (((c % 72) // 9) * 8 + (c % 72) % 9) % 16
        assert layout == (band, pos), (c, layout, (band, pos))
        seen.add(layout)
    # and the bit->cell mapping video_phash_frame uses inverts it
    for j in range(256):
        c = (j // 64) * 72 + ((j % 64) // 8) * 9 + (j % 64) % 8
        assert _vphash_cell_layout(c) == (j // 16, j % 16)
    assert len(seen) == 256


def test_video_phash_finds_variant_families(spark, sf_dir):
    """nd_video_phash semantics the oracle hash cannot state by itself:
    every confirmed pair is a same-base variant family (cross-family
    signatures measure hamming >= 97/256 on the fixture, far above the
    gate), same-family recall is high (the 16 time-aligned bands give a
    variant ~zero chance of losing every band), and hamming is within
    the gate."""
    from bacalhau_spark.operators.multimodal import (VPHASH_FAMILY,
                                                     VPHASH_MAX_HAMMING,
                                                     nd_video_phash)

    rows = nd_video_phash(spark, sf_dir).collect()
    assert rows, "no near-dup video families found"
    assert all(r.a_id // VPHASH_FAMILY == r.b_id // VPHASH_FAMILY
               for r in rows)
    assert all(0 <= r.hamming <= VPHASH_MAX_HAMMING for r in rows)
    n_docs = table(spark, sf_dir, "documents").count()
    full = sum(VPHASH_FAMILY * (VPHASH_FAMILY - 1) // 2
               for _ in range(n_docs // VPHASH_FAMILY))
    assert len(rows) >= 0.95 * full, (len(rows), full)


def test_video_phash_scale_shape(spark, sf_dir):
    """Plan claims: candidate generation is capped bucket-and-expand
    (no cartesian), verification gathers the persisted signature index
    in one scan, the hash build is JVM-side HOF evaluation (no Python
    eval anywhere), and the build scans doc_id ONLY — video payloads
    (here: any other column) never reach the hash stage."""
    from bacalhau_spark.operators.multimodal import (video_phash_frame,
                                                     nd_video_phash)

    df = nd_video_phash(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan

    hashes = video_phash_frame(
        table(spark, sf_dir, "documents").select("doc_id"))
    hplan = hashes._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint>" in hplan


def test_image_phash_broadcast_gate_degrades(spark, sf_dir, monkeypatch):
    """Round-11 ADVICE: the candidate-side broadcast is count-gated like
    nd_editdist_dedup's — with the gate forced below the candidate
    count, the explicit broadcast hint is withheld (AQE then owns the
    join strategy, which is the degrade-not-die contract) and the
    result rows are IDENTICAL to the hinted plan's."""
    from bacalhau_spark.operators import dedup
    from bacalhau_spark.sources.indexstore import clear_session_index
    from bacalhau_spark.operators.multimodal import nd_image_phash

    rows_bcast = sorted(map(tuple,
                            nd_image_phash(spark, sf_dir).collect()))
    # drop the cached count so the gate decision is re-made
    dedup.CAND_COUNTS.clear()
    monkeypatch.setattr(dedup, "EDIT_BROADCAST_MAX_PAIRS", 0)
    df = nd_image_phash(spark, sf_dir)
    rows_shuffle = sorted(map(tuple, df.collect()))
    assert rows_shuffle == rows_bcast
    dedup.CAND_COUNTS.clear()


def test_leakage_safe_split_invariants(spark, sf_dir):
    """The properties the split audit's hash gate cannot state alone:
    (a) NO near-dup cluster spans splits — the anti-contamination
    guarantee that is the operator's whole point (a per-doc hash split
    provably violates it whenever a cluster has >= 2 members);
    (b) every document is assigned exactly once; (c) the heldout
    fraction is in a sane band around HELDOUT_PCT (cluster-granular
    assignment is lumpy, so the band is wide)."""
    from bacalhau_spark.operators.dedup import (leakage_safe_split_frame,
                                                nd_dedup_clusters)

    frame = leakage_safe_split_frame(spark, sf_dir)
    n_docs = table(spark, sf_dir, "documents").count()
    assert frame.count() == n_docs
    assert frame.select("doc_id").distinct().count() == n_docs
    spans = (frame.groupBy("cluster_id")
             .agg(F.countDistinct("split").alias("k"))
             .where(F.col("k") > 1).count())
    assert spans == 0, "a near-dup cluster spans train/heldout"
    held = frame.where(F.col("split") == "heldout").count()
    assert 0.02 <= held / n_docs <= 0.3, held / n_docs
    # the guarantee is non-vacuous: some cluster really has >= 2 members
    assert (nd_dedup_clusters(spark, sf_dir).groupBy("cluster_id")
            .count().where(F.col("count") >= 2).count()) > 0


def test_boilerplate_strip_preserves_first_occurrences(spark, sf_dir):
    """Semantic invariants the oracle hash cannot express by itself:
    (a) across the corpus, every distinct chunk survives EXACTLY once
    (keep-first means no chunk value disappears entirely and none keeps
    two copies); (b) per doc, n_kept <= n_chunks; (c) a doc whose every
    chunk is first-seen keeps everything and its cleaned text md5 equals
    the md5 of its space-joined words (chunk rebuild is lossless)."""
    from bacalhau_spark.operators.dedup import (BOILER_CHUNK_WORDS,
                                                nd_boilerplate_strip)
    out = nd_boilerplate_strip(spark, sf_dir)
    rows = out.collect()
    assert all(r.n_kept <= r.n_chunks for r in rows)

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    w = docs.select("doc_id", words("text").alias("w"))
    n_chunks = F.ceil(F.size("w") / BOILER_CHUNK_WORDS).cast("int")
    chunks = w.select("doc_id", F.posexplode(F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(
            F.col("w"), i * BOILER_CHUNK_WORDS + 1, BOILER_CHUNK_WORDS))))
        .alias("idx", "chunk"))
    n_distinct = chunks.select("chunk").distinct().count()
    total_kept = out.agg(F.sum("n_kept")).first()[0]
    assert total_kept == n_distinct, (
        "keep-first must retain each distinct chunk exactly once")

    # an all-first doc rebuilds to its own text (doc with min doc_id whose
    # kept == chunks): verify via the emitted md5
    full = [r for r in rows if r.n_kept == r.n_chunks]
    assert full, "fixture should contain at least one all-unique doc"
    probe = {r.doc_id: r.clean_md5 for r in full}
    expect = (w.where(F.col("doc_id").isin(*list(probe)[:20]))
              .select("doc_id", F.md5(F.concat_ws(" ", "w")).alias("m"))
              .collect())
    for r in expect:
        assert probe[r.doc_id] == r.m


def test_epoch_shuffle_is_balanced_deterministic_permutation(spark, sf_dir):
    """Each epoch covers every doc exactly once; shard sizes are
    hash-uniform (no shard over 2x the mean); the permutation differs
    between epochs (the whole point) yet is identical across runs."""
    from bacalhau_spark.operators.pipeline import (EPOCH_SHARDS, N_EPOCHS,
                                                   nd_epoch_shuffle)
    out = nd_epoch_shuffle(spark, sf_dir)
    n_docs = table(spark, sf_dir, "documents").count()
    per_epoch = out.groupBy("epoch").agg(
        F.countDistinct("doc_id").alias("n")).collect()
    assert len(per_epoch) == N_EPOCHS
    assert all(r.n == n_docs for r in per_epoch)
    shard_sizes = [r.n for r in out.groupBy("epoch", "shard")
                   .agg(F.count("*").alias("n")).collect()]
    mean = n_docs / EPOCH_SHARDS
    assert max(shard_sizes) < 2 * mean
    # epoch orders differ: rank-by-sort_key disagrees somewhere
    from pyspark.sql.window import Window
    ranks = (out.withColumn("rk", F.rank().over(
        Window.partitionBy("epoch").orderBy("sort_key")))
        .groupBy("doc_id")
        .agg(F.countDistinct("rk").alias("nr")))
    assert ranks.where(F.col("nr") > 1).count() > 0
    # determinism across fresh plan constructions
    a = out.collect()
    b = nd_epoch_shuffle(spark, sf_dir).collect()
    assert a == b


def test_semantic_dedup_kept_is_partitioning_invariant(spark, sf_dir):
    """The greedy keep-first screen must not depend on physical layout:
    re-running over a repartitioned-input plan yields the identical kept
    set, and every dropped vector really has a lower-id bucket-mate with
    cosine >= tau."""
    from bacalhau_spark.operators.similarity import (SEMDEDUP_TAU,
                                                     nd_semantic_dedup)
    base = {(r.vec_id, r.kept) for r in
            nd_semantic_dedup(spark, sf_dir).collect()}
    again = {(r.vec_id, r.kept) for r in
             nd_semantic_dedup(spark, sf_dir).collect()}
    assert base == again

    out = nd_semantic_dedup(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    joined = (out.where(~F.col("kept"))
              .join(emb, "vec_id")
              .alias("d")
              .join(out.join(emb, "vec_id").alias("k"),
                    (F.col("k.bucket") == F.col("d.bucket"))
                    & (F.col("k.vec_id") < F.col("d.vec_id")))
              .where(cosine(F.col("d.embedding"), F.col("k.embedding"))
                     >= SEMDEDUP_TAU)
              .select(F.col("d.vec_id")).distinct())
    n_dropped = out.where(~F.col("kept")).count()
    assert joined.count() == n_dropped, (
        "every dropped vector must have a qualifying earlier bucket-mate")


def test_epoch_manifest_matches_shuffle_rollup(spark, sf_dir):
    """Cross-operator coherence: nd_epoch_manifest must equal the
    (epoch, shard) rollup of nd_epoch_shuffle's own output — counts AND
    mod-prime key sums — so a loader validating shards against the
    manifest is validating exactly what the shuffle wrote."""
    from bacalhau_spark.operators.pipeline import (EPOCH_HASH_PRIME,
                                                   nd_epoch_manifest,
                                                   nd_epoch_shuffle)
    rolled = (nd_epoch_shuffle(spark, sf_dir)
              .groupBy("epoch", "shard")
              .agg(F.count("*").cast("long").alias("n_docs"),
                   (F.sum(F.col("sort_key") % EPOCH_HASH_PRIME)
                    % EPOCH_HASH_PRIME).cast("long").alias("key_sum"))
              .orderBy("epoch", "shard"))
    assert [tuple(r) for r in nd_epoch_manifest(spark, sf_dir).collect()] \
        == [tuple(r) for r in rolled.collect()]


def test_semantic_dedup_fast_equals_exact(spark, sf_dir):
    """The Arrow-batched numpy screen must produce the identical kept set
    as the exact-fold screen — and the equivalence must be principled:
    no same-bucket candidate's cosine sits within float noise of the
    threshold (where numpy's summation order could legitimately flag
    differently from the left fold)."""
    from bacalhau_spark.operators.similarity import (SEMDEDUP_SIGN_BITS,
                                                     SEMDEDUP_TAU,
                                                     nd_semantic_dedup,
                                                     nd_semantic_dedup_fast)
    exact = [(r.vec_id, r.bucket, r.kept)
             for r in nd_semantic_dedup(spark, sf_dir).collect()]
    fast = [(r.vec_id, r.bucket, r.kept)
            for r in nd_semantic_dedup_fast(spark, sf_dir).collect()]
    assert fast == exact

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bucket = sum(
        (F.when(F.element_at("embedding", i + 1) >= 0, F.lit(1 << i))
         .otherwise(F.lit(0)) for i in range(SEMDEDUP_SIGN_BITS)),
        start=F.lit(0)).cast("int")
    b = emb.select("vec_id", bucket.alias("bucket"), "embedding")
    a_side = b.select(F.col("vec_id").alias("a_id"), "bucket",
                      F.col("embedding").alias("a_emb"))
    b_side = b.select(F.col("vec_id").alias("b_id"), "bucket",
                      F.col("embedding").alias("b_emb"))
    margin = (a_side.join(b_side, "bucket")
              .where(F.col("a_id") < F.col("b_id"))
              .select(F.abs(cosine(F.col("a_emb"), F.col("b_emb"))
                            - F.lit(SEMDEDUP_TAU)).alias("m"))
              .agg(F.min("m")).first()[0])
    assert margin > 1e-6, (
        f"a candidate cosine sits {margin} from tau — kernel equivalence "
        "would be luck, not guarantee")


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """Bloom admission must never miss a true duplicate: every verified
    dup is a bloom hit, and false positives are exactly hits minus dups."""
    from bacalhau_spark.operators.dedup import nd_bloom_prefilter
    rows = nd_bloom_prefilter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_dup"] <= r["n_bloom_hits"] <= r["n_batch"]
        assert r["n_false_pos"] == r["n_bloom_hits"] - r["n_dup"]


def test_kmeans_partitions_corpus(spark, sf_dir):
    """K-means must assign every vector exactly once, keep all K clusters
    non-empty at fixture scale, and report strictly positive inertia."""
    from bacalhau_spark.catalog import table
    from bacalhau_spark.operators.similarity import KM_K, nd_kmeans
    rows = nd_kmeans(spark, sf_dir).collect()
    n_vecs = table(spark, sf_dir, "embeddings").count()
    assert len(rows) == KM_K
    assert sum(r["n_points"] for r in rows) == n_vecs
    assert all(r["n_points"] > 0 and r["inertia"] > 0 for r in rows)


def test_pca_project_matches_numpy_and_identities(spark, sf_dir):
    """The PCA surface's correctness gate (it is no_oracle by design):
    (1) components orthonormal, (2) eigenvalues descending, (3) the
    Spark projection equals a pure-numpy PCA of the same quantized
    rows, (4) per-component projection variance equals its eigenvalue
    (the PCA identity, tying the transform back to the EXACT
    distributed covariance it was fit from)."""
    import numpy as np

    from bacalhau_spark.operators.similarity import (KM_OFF, KM_SCALE,
                                                     _pca_model,
                                                     nd_pca_project,
                                                     pca_project_frame)

    mu, w, evals, n = _pca_model(spark, sf_dir)
    w = np.asarray(w)
    assert np.allclose(w.T @ w, np.eye(w.shape[1]), atol=1e-9)
    assert all(a >= b - 1e-9 for a, b in zip(evals, evals[1:]))

    rows = pca_project_frame(spark, sf_dir).collect()
    emb = {r["vec_id"]: r["embedding"]
           for r in table(spark, sf_dir, "embeddings").collect()}
    q = np.array([[np.floor(float(v) * KM_SCALE) + KM_OFF
                   for v in emb[r["vec_id"]]] for r in rows])
    want = (q - np.asarray(mu)) @ w
    got = np.array([r["proj"] for r in rows])
    assert np.allclose(got, want, atol=1e-6)
    assert got.shape[1] == len(evals)
    # population-variance identity vs the exact covariance eigenvalues
    var = ((got - got.mean(axis=0)) ** 2).sum(axis=0) / n
    assert np.allclose(var, np.asarray(evals), rtol=1e-6)

    # the REGISTERED surface is the exploded scalar form (the round-8
    # red row: the driver's canonicalizer cannot hash array columns) —
    # every column scalar, values identical to the array frame
    reg = nd_pca_project(spark, sf_dir)
    assert all("array" not in t for _, t in reg.dtypes)
    flat = reg.collect()
    assert len(flat) == got.shape[0] * got.shape[1]
    ids = sorted({r["vec_id"] for r in rows})
    pos = {v: i for i, v in enumerate(sorted({r["vec_id"] for r in flat}))}
    assert sorted(pos) == ids
    rebuilt = np.zeros_like(want)
    for r in flat:
        rebuilt[pos[r["vec_id"]], r["k"]] = r["proj_k"]
    by_id = np.array([r["proj"] for r in
                      sorted(rows, key=lambda r: r["vec_id"])])
    assert np.allclose(rebuilt, by_id, atol=1e-9)


def test_containment_catches_asymmetric_quote_embedding(spark):
    """A short document quoted wholesale inside a much longer one:
    Jaccard is tiny (union dominated by the long doc) so the symmetric
    pass misses it, but containment(short in long) = 1.0. The directed
    output must contain exactly (short -> long), never the reverse."""
    from bacalhau_spark.operators.dedup import (containment_pairs,
                                                ngram_jaccard_pairs)

    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.upper())],
        ["doc_id", "text"])
    jac = ngram_jaccard_pairs(docs).collect()
    assert jac == []  # symmetric pass misses the embedding
    got = containment_pairs(docs).collect()
    assert [(r.contained_id, r.container_id) for r in got] == [(1, 2)]
    assert got[0].containment == 1.0


def test_weighted_jaccard_emphasizes_rare_content(spark):
    """Two docs that share RARE shingles (their actual content) must
    score above two docs that share only corpus-wide boilerplate, even
    when the plain shingle-count overlap is identical — the idf-style
    property that motivates the weighted variant."""
    from bacalhau_spark.operators.dedup import (ngram_jaccard_pairs,
                                                weighted_jaccard_pairs)

    # 10-word shared blocks (8 3-gram shingles) + 2-word unique tails;
    # docs 5/6 exist only to make `boiler` corpus-common (df=4 -> weight
    # nd//df = 1) while `rare` stays df=2 -> weight 3 and tails df=1 ->
    # weight 6. By symmetry plain jaccard CANNOT separate (1,2) from
    # (3,4); the weighted score must rank the rare-content pair higher.
    boiler = " ".join(f"b{i}" for i in range(10))
    rare = " ".join(f"r{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, boiler + " t1a t1b"), (2, boiler + " t2a t2b"),
         (3, rare + " t3a t3b"), (4, rare + " t4a t4b"),
         (5, boiler + " t5a t5b"), (6, boiler + " t6a t6b")],
        ["doc_id", "text"])
    got = {(r.a_id, r.b_id): r.wjaccard
           for r in weighted_jaccard_pairs(docs, threshold=0.0).collect()}
    plain = {(r.a_id, r.b_id): r.jaccard
             for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert plain[(1, 2)] == plain[(3, 4)]
    assert got[(3, 4)] > got[(1, 2)]
    # exact expected values: shared_w(3,4)=8*3, sizes 8*3+2*6=36 ->
    # 24/48; shared_w(1,2)=8, sizes 8+12=20 -> 8/32
    assert got[(3, 4)] == 24 / 48 and got[(1, 2)] == 8 / 32


def test_cc_doubling_converges_on_deep_chains(spark):
    """Pointer jumping's reason to exist: a 200-node path graph
    (diameter 199) converges within CC_DOUBLING_MAX_ITERS=12 doubling
    rounds — plain min-propagation would need ~199 rounds, far past
    nd_dedup_clusters' CC_MAX_ITERS=12 cap — and every node lands on
    the chain-head label."""
    from bacalhau_spark.operators.dedup import cc_labels_doubling

    n = 200
    sym = [(i, i + 1) for i in range(n - 1)] + \
          [(i + 1, i) for i in range(n - 1)]
    edges = spark.createDataFrame(sym, "src long, dst long")
    labels = cc_labels_doubling(edges)
    rows = labels.collect()
    labels.unpersist()
    assert len(rows) == n
    assert {r["label"] for r in rows} == {0}


def test_cc_doubling_matches_propagation_labels(spark):
    """On a mixed graph (two cliques, a bridge chain, isolates-in-pairs)
    the doubling labels must equal plain min-propagation's — same
    min-id-per-component contract, different round complexity."""
    from bacalhau_spark.operators.dedup import cc_labels_doubling

    pairs = (
        [(a, b) for a in range(0, 5) for b in range(a + 1, 5)]        # clique
        + [(10, 11), (11, 12), (12, 13)]                              # chain
        + [(4, 10)]                                                   # bridge
        + [(20, 21), (30, 31)]                                        # pairs
    )
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    labels = cc_labels_doubling(edges)
    got = {r["id"]: r["label"] for r in labels.collect()}
    labels.unpersist()

    # pure-Python union-find ground truth
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in {x for p in pairs for x in p}}
    assert got == want


def test_winnowing_local_containment_guarantee(spark):
    """The winnowing selection property (SIGMOD'03): a shared run of
    WINNOW_W + MH_SHINGLE_N - 1 = 8 words guarantees ONE shared
    fingerprint (one selection window lies fully inside the run, both
    docs pick the same minimum); the operator's >= WINNOW_MIN_SHARED
    cut needs a longer shared run (here 30 words, ~20 fully-inside
    windows), while documents with no shared words share none."""
    from bacalhau_spark.operators.dedup import winnowing_pairs

    shared = " ".join(f"common{i}" for i in range(30))
    a = "x1 x2 x3 " + shared + " x4 x5 x6 x7 x8"
    b = "y1 y2 " + shared + " y3 y4 y5 y6 y7 y8 y9"
    c = " ".join(f"z{i} w{i} v{i}" for i in range(15))  # disjoint
    docs = spark.createDataFrame([(1, a), (2, b), (3, c)],
                                 ["doc_id", "text"])
    got = {(r.a_id, r.b_id): r.shared_fps
           for r in winnowing_pairs(docs).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 2
    assert all(3 not in k for k in got)


def test_row_signature_equals_grouped_signature(spark, sf_dir):
    """The stream-safe per-row signature (_mh_sig_row_cols: in-row
    array_min over the affine maps) must be value-identical to the
    grouped fold (_mh_sig_frame: explode + min-aggregate) on every doc
    that has shingles — the incremental/streaming probes are only
    correct if the two folds can never drift."""
    from bacalhau_spark.operators.dedup import (_mh_sig_frame,
                                                _mh_sig_row_cols,
                                                _rolling_shingle_keys,
                                                _word_hashes)

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    grouped = sorted(map(tuple, _mh_sig_frame(docs).collect()))
    wh = docs.select("doc_id", _word_hashes(F.col("text")).alias("wh"))
    sk = (wh.select("doc_id",
                    _rolling_shingle_keys(F.col("wh")).alias("sk"))
          .where(F.size("sk") > 0))
    row = sorted(map(tuple,
                     sk.select("doc_id", *_mh_sig_row_cols()).collect()))
    assert grouped == row


def test_pq_adc_recall_vs_brute_force(spark, sf_dir):
    """ADC shortlist + exact re-rank must recover most true top-3
    neighbors (numpy prototype: ~0.95 on the fixture); 0.6 is the
    regression floor — ADC alone on these structure-free random unit
    vectors ranks at ~0.33, so a broken re-rank stage fails loudly."""
    from bacalhau_spark.operators.similarity import nd_ann_pq

    truth = {(r["vec_id"], r["nn"])
             for r in nd_ann_topk(spark, sf_dir).collect()}
    got = {(r["vec_id"], r["nn"])
           for r in nd_ann_pq(spark, sf_dir).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"PQ-ADC recall@3 {recall:.2f} below floor"


def test_pq_codes_cover_all_subspaces(spark, sf_dir):
    """Every subspace trains a codebook and every vector gets PQ_M codes:
    per-subspace n_points sums to the corpus size in each subspace, and
    distortion is positive (a zero-distortion cell at this K would mean
    a degenerate codebook)."""
    from bacalhau_spark.catalog import table
    from bacalhau_spark.operators.similarity import PQ_M, nd_pq_quantize

    rows = nd_pq_quantize(spark, sf_dir).collect()
    n = table(spark, sf_dir, "embeddings").count()
    per_sub = {}
    for r in rows:
        per_sub[r.sub] = per_sub.get(r.sub, 0) + r.n_points
    assert set(per_sub) == set(range(PQ_M))
    assert all(v == n for v in per_sub.values())
    assert sum(r.distortion for r in rows) > 0


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    """The full IVF-PQ composition (coarse cells prune, residual-PQ
    codes compress, ADC shortlists, exact cosine re-ranks) must recover
    most true top-3 neighbors — measured 0.88-0.90 on the fixtures
    (numpy prototype 0.77 at nprobe 3); 0.55 is the regression floor
    (a broken residual or cell routing lands far below)."""
    from bacalhau_spark.operators.similarity import nd_ann_ivfpq

    truth = {(r["vec_id"], r["nn"])
             for r in nd_ann_topk(spark, sf_dir).collect()}
    got = {(r["vec_id"], r["nn"])
           for r in nd_ann_ivfpq(spark, sf_dir).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.55, f"IVF-PQ recall@3 {recall:.2f} below floor"


def test_semantic_dedup_hot_bucket_cap_and_escalation(spark, tmp_path):
    """The round-12 verdict's last uncapped quadratic, pinned: a
    sign-skewed corpus (real encoder embeddings concentrate in a few
    orthants) must never expand an O(n²) pair set. Three regimes in one
    synthetic corpus:

    - 120 identical all-positive vectors: hot at 8 bits AND at the
      16-bit escalation -> excluded from pair generation entirely, all
      kept (lenient-on-pathology, the PHASH_BUCKET_CAP semantics);
    - 60 vectors sharing the hot 8-bit orthant but splitting into six
      16-bit sub-buckets of 10 identical vectors -> escalation keeps
      screening: exactly the lowest id of each sub-bucket survives;
    - one cold bucket with an identical pair -> baseline keep-first.

    Every pair-generating bucket is <= SEMDEDUP_BUCKET_CAP by
    construction of the gate (asserted via the assignment counts), and
    the DuckDB oracle states the identical escalate/cap rule, so the
    semantics stay hash-gated even on the adversarial shape."""
    import duckdb

    from bacalhau_spark.operators.similarity import (
        SEMDEDUP_BUCKET_CAP, _SEMDEDUP_ORACLE, _semantic_assignment,
        nd_semantic_dedup)

    def vec(signs):
        assert len(signs) == 16
        return [0.25 * s for s in signs]

    rows, vid = [], 0
    all_pos = [1] * 16
    for _ in range(120):  # group A: hot even after escalation
        rows.append((vid, vec(all_pos))); vid += 1
    b_groups = []
    for k in range(6):   # group B: hot at 8 bits, splits at 16
        signs = [1] * 16
        signs[8 + k] = -1
        b_groups.append(vid)
        for _ in range(10):
            rows.append((vid, vec(signs))); vid += 1
    c_first = vid          # group C: cold bucket, identical pair
    cold = [-1] + [1] * 15
    rows.append((vid, vec(cold))); vid += 1
    rows.append((vid, vec(cold))); vid += 1

    sf = str(tmp_path / "hotsf")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .write.parquet(f"{sf}/embeddings.parquet"))

    out = {r.vec_id: r.kept
           for r in nd_semantic_dedup(spark, sf).collect()}
    assert len(out) == vid
    # group A: excluded from screening -> every member kept
    assert all(out[v] for v in range(120)), \
        "hot-through-escalation bucket members must be kept, not paired"
    # group B: keep-first within each 16-bit sub-bucket
    for first in b_groups:
        assert out[first], "sub-bucket's lowest id must survive"
        assert not any(out[v] for v in range(first + 1, first + 10)), \
            "identical sub-bucket mates must drop"
    # group C: baseline pair
    assert out[c_first] and not out[c_first + 1]
    # the pair bound: no bucket that generates pairs exceeds the cap
    counts = (_semantic_assignment(spark, sf)
              .groupBy("bucket").count().collect())
    hot = {r["bucket"] for r in counts if r["count"] > SEMDEDUP_BUCKET_CAP}
    survivors = {r["bucket"]: r["count"] for r in counts
                 if r["count"] <= SEMDEDUP_BUCKET_CAP}
    assert hot, "the synthetic corpus must actually trip the cap"
    assert survivors and max(survivors.values()) <= SEMDEDUP_BUCKET_CAP
    # oracle states the identical rule on the same adversarial corpus
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf}/embeddings.parquet/*.parquet')")
    du = {int(r[0]): bool(r[2])
          for r in con.execute(_SEMDEDUP_ORACLE).fetchall()}
    assert du == out


def _make_bmp_px(pixels):
    """24bpp BMP from a row-major [[gray,...], ...] pixel grid (top-down
    input; written bottom-up as positive-height BMPs store rows)."""
    import struct
    h, w = len(pixels), len(pixels[0])
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for row in reversed(pixels):
        line = bytearray()
        for v in row:
            line += bytes([v, v, v])
        line += bytes(stride - len(line))
        body += line
    header = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                            2835, 2835, 0, 0))
    return bytes(header + body)


def test_real_pixel_phash_near_dup_via_binaryfile(spark, tmp_path):
    """Round-13: REAL image bytes through the real path end to end —
    binaryFile source -> mapInPandas decode (built-in BMP parser; PIL
    when importable) -> block-mean thumbnail -> the SAME dHash band
    layout as phash_frame -> capped band candidates -> exact Hamming.
    A re-encode-noise near-dup pair lands within the gate; an inverted
    image is maximally far; true dimensions come out of real headers."""
    from bacalhau_spark.operators.multimodal import (image_near_dup_real,
                                                     image_phash_real_frame,
                                                     real_binary_table)

    w, h = 36, 16
    grad = [[(x * 7) % 256 for x in range(w)] for _ in range(h)]
    noisy = [row[:] for row in grad]
    for k in range(4):  # a few perturbed pixels: re-encode noise
        noisy[(3 * k) % h][(5 * k) % w] = min(
            255, noisy[(3 * k) % h][(5 * k) % w] + 6)
    inverted = [[255 - v for v in row] for row in grad]
    d = tmp_path / "imgs"
    d.mkdir()
    (d / "a_base.bmp").write_bytes(_make_bmp_px(grad))
    (d / "b_noisy.bmp").write_bytes(_make_bmp_px(noisy))
    (d / "c_inverted.bmp").write_bytes(_make_bmp_px(inverted))

    bin_df = real_binary_table(spark, str(d))
    hashes = image_phash_real_frame(bin_df)
    rows = {r["doc_id"]: r for r in hashes.collect()}
    assert len(rows) == 3
    assert all(r["decoder"] in ("bmp", "pil") for r in rows.values()), \
        "real BMP bytes must take a REAL decode path"
    assert all((r["width"], r["height"]) == (w, h) for r in rows.values())

    pairs = {(r["a_id"], r["b_id"]): r["hamming"]
             for r in image_near_dup_real(hashes).collect()}
    # doc_ids are row_number over sorted path: a=1, b=2, c=3
    assert (1, 2) in pairs, "re-encode-noise near-dup must survive"
    assert pairs[(1, 2)] <= 10
    assert (1, 3) not in pairs and (2, 3) not in pairs, \
        "the inverted image must not screen as a near-dup"


def _make_png_px(pixels):
    """Truecolor 8-bit PNG (gray written as r=g=b) from a row-major
    pixel grid — struct+zlib only, so the FIXTURE needs no image
    library even though DECODING it does (that is the point: this is
    the compressed-format payload that exercises decode_image_real's
    PIL branch, the branch real crawls actually take)."""
    import struct
    import zlib

    h, w = len(pixels), len(pixels[0])

    def chunk(tag, data):
        c = tag + data
        return (struct.pack(">I", len(data)) + c
                + struct.pack(">I", zlib.crc32(c) & 0xFFFFFFFF))

    raw = b"".join(b"\x00" + bytes(v for p in row for v in (p, p, p))
                   for row in pixels)
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def test_pil_branch_png_matches_bmp_canonical_hash():
    """Round-14 (r13 verdict #5): the PIL branch on a COMPRESSED format.
    decode_image_real's contract is that the content hash is the
    canonical integer-luma grayscale whatever library decoded — so the
    same pixel grid shipped as PNG (PIL branch) and as 24bpp BMP
    (either branch) must produce IDENTICAL (width, height, hash), and
    dedup-by-hash never splits on payload format or decoder
    environment. Green where PIL is importable; skipped with reason
    where not (this container ships no image library — the BMP half
    still runs everywhere via the struct parser)."""
    import pytest as _pytest

    from bacalhau_spark.operators.multimodal import (decode_image_real,
                                                     image_codec_available)

    grad = [[(x * 7 + y * 13) % 256 for x in range(10)]
            for y in range(6)]
    bmp_out = decode_image_real(_make_bmp_px(grad))
    assert bmp_out[:2] == (10, 6)
    if not image_codec_available():
        _pytest.skip("PIL not importable in this environment; the "
                     "compressed-format (PNG) half of the canonical-"
                     "hash equivalence needs the PIL decoder")
    png_out = decode_image_real(_make_png_px(grad))
    assert png_out == bmp_out, \
        "identical pixels must hash identically across PNG/BMP decoders"


def test_pq_incremental_staleness_monitor(spark, sf_dir):
    """nd_pq_incremental semantics the hash row can't state by itself:
    (a) the corpus baseline measures the PUBLISHED code assignment
    under the reconstruction codebook (so it equals re-deriving it by
    hand), (b) an increment of UNPERTURBED corpus vectors re-encodes
    with distortion no worse than the baseline per subspace and is
    never stale, while (c) the registered perturbed batch measurably
    drifts (higher mean distortion in most subspaces) — the signal the
    monitor exists to raise."""
    from bacalhau_spark.operators.similarity import (PQ_STALENESS_FACTOR,
                                                     _pq_exploded,
                                                     nd_pq_incremental,
                                                     pq_centroid_index)

    rows = nd_pq_incremental(spark, sf_dir).collect()
    assert rows and all(r["n_new"] > 0 and r["n_corpus"] > 0
                        for r in rows)
    for r in rows:
        lhs = r["new_distortion"] / r["n_new"]
        rhs = (PQ_STALENESS_FACTOR
               * r["corpus_distortion"] / r["n_corpus"])
        assert r["stale"] == (lhs > rhs)

    # an UNPERTURBED increment (the same vectors, fresh argmin against
    # the reconstruction codebook) can only match or improve the
    # baseline mean: argmin(d) <= d(published assignment) per vector
    emb = table(spark, sf_dir, "embeddings")
    cent = pq_centroid_index(spark, sf_dir)
    e = _pq_exploded(emb.limit(50), persist=False)
    sq = (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
    fresh = (e.join(F.broadcast(cent), ["sub", "dim"])
             .groupBy("vec_id", "sub", "cid").agg(F.sum(sq).alias("d"))
             .groupBy("vec_id", "sub")
             .agg(F.min(F.struct("d", "cid")).alias("m"))
             .agg(F.sum("m.d").alias("fresh_d")).first()["fresh_d"])
    baseline = sum(r["corpus_distortion"] for r in rows)
    assert fresh <= baseline, \
        "fresh argmin distortion must never exceed the published codes'"
    # the perturbed batch really drifts somewhere
    drifted = sum(1 for r in rows
                  if r["new_distortion"] / r["n_new"]
                  > r["corpus_distortion"] / r["n_corpus"])
    assert drifted >= len(rows) // 2, \
        "the synthesized distribution shift must be visible"


def _make_wav(samples, channels=1, rate=8000):
    """Minimal 16-bit PCM WAV from an int sample list (struct-only)."""
    import struct
    data = b"".join(struct.pack("<h", max(-32768, min(32767, v)))
                    for v in samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _make_avi(frames_px):
    """Minimal uncompressed 24bpp AVI from [[row-major gray grid]] —
    RIFF('AVI ') with an avih header and raw '00db' DIB frames
    (bottom-up, stride-padded), struct-only."""
    import struct

    h, w = len(frames_px[0]), len(frames_px[0][0])
    stride = (w * 3 + 3) // 4 * 4

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) % 2 else b"")

    avih = struct.pack("<8I", 40_000, stride * h, 0, 0,
                       len(frames_px), 0, 1, len(frames_px)) \
        + struct.pack("<II", w, h) + b"\x00" * 16
    hdrl = b"hdrl" + chunk(b"avih", avih)
    movi = b"movi"
    for px in frames_px:
        body = bytearray()
        for row in reversed(px):  # DIB stores rows bottom-up
            line = bytearray()
            for v in row:
                line += bytes([v, v, v])
            line += bytes(stride - len(line))
            body += line
        movi += chunk(b"00db", bytes(body))
    payload = (b"AVI " + chunk(b"LIST", hdrl) + chunk(b"LIST", movi))
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def test_shingle_posting_index_shared_and_equivalent(spark, sf_dir):
    """r14: the jaccard family's session-shared posting index.

    - ngram/weighted/containment registered rows must serve from ONE
      cached posting frame per (session, table content): two lookups
      return the same object, and the family rows over the index equal
      the frame-level generics' fresh-build path row for row.
    - clear_session_index evicts it (cold measurements re-pay the
      build), after which a fresh lookup returns a NEW frame.
    """
    from bacalhau_spark.catalog import spread_compute, table
    from bacalhau_spark.operators import dedup as D
    from bacalhau_spark.sources.indexstore import clear_session_index

    idx1 = D.shingle_posting_index(spark, sf_dir)
    idx2 = D.shingle_posting_index(spark, sf_dir)
    assert idx1 is idx2, "second lookup must hit the session cache"

    docs = spread_compute(spark, table(spark, sf_dir, "documents")
                          .select("doc_id", "text"), "doc_id")
    for fresh_fn, row_name in (
            (D.ngram_jaccard_pairs, "nd_ngram_jaccard"),
            (D.weighted_jaccard_pairs, "nd_weighted_jaccard"),
            (D.containment_pairs, "nd_containment")):
        from bacalhau_spark.registry import ALL_QUERIES
        fresh = sorted(map(tuple, fresh_fn(docs).collect()))
        shared = sorted(map(tuple,
                            ALL_QUERIES[row_name][0](spark, sf_dir)
                            .collect()))
        assert fresh == shared, f"{row_name} diverges from fresh build"

    clear_session_index(spark)
    idx3 = D.shingle_posting_index(spark, sf_dir)
    assert idx3 is not idx1, "eviction must force a rebuild"


def test_shingle_pair_index_shared_and_equivalent(spark, sf_dir):
    """r14 closing slice: tier 2 — the session-shared pair-stats
    frames over the posting index (the phash candidate-tier
    convention). The fresh-vs-registered equality for all three
    consumer rows is pinned by the posting-index test above (the
    registered rows route through this tier); here we pin the tier's
    own lifecycle:

    - two lookups return the SAME checkpointed frames (one build per
      session/content);
    - the weighted tier is a distinct cache entry (different frames);
    - clear_session_index evicts it alongside the posting tier, after
      which a fresh lookup returns NEW frames whose rows still equal
      the evicted ones (rebuild, not drift).
    """
    from bacalhau_spark.operators import dedup as D
    from bacalhau_spark.sources.indexstore import clear_session_index

    p1 = D.shingle_pair_index(spark, sf_dir)
    p2 = D.shingle_pair_index(spark, sf_dir)
    assert p1[0] is p2[0] and p1[1] is p2[1], \
        "second lookup must hit the session cache"
    w1 = D.shingle_pair_index(spark, sf_dir, weighted=True)
    assert w1[0] is not p1[0], "weighted tier is its own entry"
    assert "shared_w" in w1[0].columns and "tw" in w1[1].columns
    before = sorted(map(tuple, p1[0].collect()))

    clear_session_index(spark)
    p3 = D.shingle_pair_index(spark, sf_dir)
    assert p3[0] is not p1[0], "eviction must force a rebuild"
    assert sorted(map(tuple, p3[0].collect())) == before, \
        "rebuilt pair stats must match the evicted frames"


def test_warm_jaccard_read_refreshes_posting_liveness(spark, sf_dir):
    """A warm read through the shingle posting/pair views must keep the
    persisted shpost artifact's _LAST_ADOPTED marker fresh — otherwise
    `index drop --stale-days 7` could reap a table a live session is
    reading."""
    import os
    import time

    from bacalhau_spark.operators.dedup import nd_ngram_jaccard
    from bacalhau_spark.sources.indexstore import index_table_root

    nd_ngram_jaccard(spark, sf_dir).collect()  # adopt + fill the views
    marker = os.path.join(index_table_root(sf_dir, "shpost3", "documents"),
                          "_LAST_ADOPTED")
    if not os.path.exists(marker):
        pytest.skip("index store unusable here (session-local fallback)")
    aged = time.time() - 8 * 86400
    os.utime(marker, (aged, aged))
    nd_ngram_jaccard(spark, sf_dir).collect()  # warm: a tier-1 view hit
    assert os.path.getmtime(marker) > aged + 7 * 86400


def test_warm_view_hit_fingerprints_the_source_once(spark, sf_dir,
                                                    monkeypatch):
    """A warm derived-view read costs one listing + stat pass over the
    source's part files, not one per tier it derives from."""
    from bacalhau_spark.operators.dedup import (shingle_pair_index,
                                                winnow_capped_postings)
    from bacalhau_spark.sources import indexstore

    shingle_pair_index(spark, sf_dir)
    winnow_capped_postings(spark, sf_dir)
    calls = []
    real = indexstore.docs_fingerprint
    monkeypatch.setattr(indexstore, "docs_fingerprint",
                        lambda *a: calls.append(a) or real(*a))
    shingle_pair_index(spark, sf_dir)
    winnow_capped_postings(spark, sf_dir)
    assert len(calls) == 2
