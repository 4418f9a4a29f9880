"""The PQ staleness RETRAIN LOOP (round-13 verdict #1: "the staleness
monitor has no consumer"): pq_refresh consumes the flag nd_pq_incremental
raises — retraining over the merged corpus when the increment drifted,
adopting the pinned codebook when it did not — and the tests pin the
closed-loop properties: drift triggers the flag, the retrain verb runs,
the published retrieval equals the FRESH-TRAIN level, and the signal
CLEARS on re-read. Reference analog: the event-fold-drives-action loop,
pkg/controller/controller.go:328-385.
"""
import os
import shutil

from pyspark.sql import functions as F


def _emb_corpus(spark, src_df, dest_dir):
    """Write an embeddings table under dest_dir. Spark part filenames
    carry a UUID, so every run's corpus is content-unique — no
    cross-run index-store collisions (the round-13 store gotcha)."""
    src_df.coalesce(2).write.parquet(
        os.path.join(dest_dir, "embeddings.parquet"))


def _drop_store(dirs):
    from bacalhau_spark.operators.similarity import PQ_FAMILIES
    from bacalhau_spark.sources.indexstore import index_table_root

    for d in dirs:
        for fam in PQ_FAMILIES:
            for kind in (fam.codes, fam.cent, fam.base, *fam.carry):
                shutil.rmtree(
                    index_table_root(d, kind, "embeddings", rev=fam.rev),
                    ignore_errors=True)


def test_pq_refresh_retrains_on_drift_and_closes_the_loop(
        spark, sf_dir, tmp_path):
    """Synthesized drift triggers the staleness flag; pq_refresh
    retrains + publishes under the merged content key; the published
    retrieval is IDENTICAL to an independently fresh-trained one (recall
    recovers to the fresh-train level by identity, not tolerance); and
    re-reading the monitor against the retrained epoch reads clean."""
    from bacalhau_spark.sources.indexstore import index_table_root
    from bacalhau_spark.operators.similarity import (
        _pq_drift_batch, _pq_exploded, adc_topk, pq_centroid_index,
        pq_code_index, pq_refresh, pq_staleness, pq_train_assign)
    from bacalhau_spark.sources.versioned import latest_manifest

    parent = str(tmp_path / "parent")
    merged = str(tmp_path / "merged")
    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .select("vec_id", "embedding"))
    _emb_corpus(spark, emb, parent)
    try:
        pq_code_index(spark, parent).count()   # publish epoch N
        drift = _pq_drift_batch(spark, parent)
        mon = pq_staleness(spark, parent, drift).collect()
        assert any(r["stale"] for r in mon), \
            "the synthesized mean-offset drift must trigger the flag"

        _emb_corpus(spark,
                    spark.read.parquet(
                        os.path.join(parent, "embeddings.parquet"))
                    .unionByName(drift), merged)
        out = pq_refresh(spark, merged, parent).collect()
        assert out and all(r["action"] == "retrain" for r in out)
        man = latest_manifest(
            index_table_root(merged, "pq_assign", "embeddings"))
        assert man is not None and man["files"], \
            "retrain must publish codes under the merged content key"

        # recall recovers to the FRESH-TRAIN level: the published
        # state's retrieval equals one computed from scratch in-session
        # (pq_train_assign + the final M-step), with no store involved
        # on the fresh side — identity, not a tolerance.
        m_emb = spark.read.parquet(
            os.path.join(merged, "embeddings.parquet"))
        qids = [r["vec_id"] for r in drift.select("vec_id")
                .orderBy("vec_id").limit(10).collect()]
        qp = F.col("vec_id").isin(qids)
        published = adc_topk(
            m_emb, pq_code_index(spark, merged),
            pq_centroid_index(spark, merged), qp, shortlist=25).collect()
        e_m = _pq_exploded(m_emb, persist=False)
        fresh_codes = pq_train_assign(e_m)
        fresh_cent = (e_m.join(fresh_codes.select("vec_id", "sub", "cid"),
                               ["vec_id", "sub"])
                      .groupBy("sub", "cid", "dim")
                      .agg(F.expr("sum(q) DIV count(*)").alias("cq")))
        fresh = adc_topk(m_emb, fresh_codes, fresh_cent, qp,
                         shortlist=25).collect()
        assert sorted(map(tuple, published)) == sorted(map(tuple, fresh))

        # the loop CLOSES: the same batch against the retrained epoch
        mon2 = pq_staleness(spark, merged, drift).collect()
        assert not any(r["stale"] for r in mon2), \
            "after retrain the staleness signal must clear"
    finally:
        _drop_store([parent, merged])


def test_pq_refresh_adopts_pinned_on_undrifted_batch(
        spark, sf_dir, tmp_path):
    """An increment that quantizes like the corpus (exact copies under
    new ids) must NOT trigger a retrain: pq_refresh takes the cheap
    path — pinned-codebook encoding of only the new rows, parent codes
    carried, codebook unchanged."""
    from bacalhau_spark.operators.similarity import (
        PQ_M, pq_centroid_index, pq_code_index, pq_refresh)

    parent = str(tmp_path / "parent")
    merged = str(tmp_path / "merged")
    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .select("vec_id", "embedding"))
    _emb_corpus(spark, emb, parent)
    try:
        p_codes = pq_code_index(spark, parent)
        n_parent_codes = p_codes.count()
        cent_rows = sorted(map(tuple,
                               pq_centroid_index(spark, parent).collect()))
        p_emb = spark.read.parquet(
            os.path.join(parent, "embeddings.parquet"))
        batch = (p_emb.where(F.col("vec_id") % 11 == 0)
                 .select((F.col("vec_id") + 2_000_000).alias("vec_id"),
                         "embedding"))
        n_new = batch.count()
        _emb_corpus(spark, p_emb.unionByName(batch), merged)

        out = pq_refresh(spark, merged, parent).collect()
        assert out and all(r["action"] == "adopt_pinned" for r in out)
        m_codes = pq_code_index(spark, merged)  # adopts the pinned table
        assert m_codes.count() == n_parent_codes + n_new * PQ_M
        assert sorted(map(tuple,
                          pq_centroid_index(spark, merged).collect())) \
            == cent_rows, "adopt_pinned must carry the codebook verbatim"
        # the published new-row codes must be exactly the declared rule:
        # deterministic argmin against the RECONSTRUCTION codebook c2
        # (NOT the training-era c1 argmin — pinned encoding optimizes
        # what ADC consumers actually pay; pq_refresh's declared
        # caveat). Re-derive independently and compare.
        from bacalhau_spark.operators.similarity import _pq_exploded

        cent_m = pq_centroid_index(spark, merged)
        sq = (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
        expect = (_pq_exploded(batch, persist=False)
                  .join(F.broadcast(cent_m), ["sub", "dim"])
                  .groupBy("vec_id", "sub", "cid")
                  .agg(F.sum(sq).alias("d"))
                  .groupBy("vec_id", "sub")
                  .agg(F.min(F.struct("d", "cid")).alias("m"))
                  .select("vec_id", "sub", F.col("m.cid").alias("cid")))
        mism = (m_codes.where(F.col("vec_id") >= 2_000_000)
                .select("vec_id", "sub", F.col("cid").alias("cid_pub"))
                .join(expect, ["vec_id", "sub"])
                .where(F.col("cid_pub") != F.col("cid")).count())
        assert mism == 0
    finally:
        _drop_store([parent, merged])


def test_ivf_coarse_quantizer_is_published_and_adopted(
        spark, sf_dir, tmp_path):
    """Round 14: the IVF coarse quantizer becomes a PUBLISHED store
    artifact — before this it was session state retrained per process
    (float AVGs with scheduling-dependent merge order), so a session
    adopting the published IVF-PQ code table could pair it with a
    subtly different quantizer than the codes were assigned under. A
    session-cache clear must re-ADOPT the published rows verbatim, not
    retrain."""
    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   index_table_root)
    from bacalhau_spark.operators.similarity import (IVF_REV,
                                                     ivf_coarse_index)
    from bacalhau_spark.sources.versioned import latest_manifest

    corpus = str(tmp_path / "corpus")
    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .select("vec_id", "embedding"))
    _emb_corpus(spark, emb, corpus)
    try:
        first = sorted(map(tuple,
                           ivf_coarse_index(spark, corpus).collect()))
        root = index_table_root(corpus, "ivf_coarse", "embeddings",
                                rev=IVF_REV)
        man = latest_manifest(root)
        assert man is not None and man["files"] and man["version"] == 1
        clear_session_index(spark)
        again = sorted(map(tuple,
                           ivf_coarse_index(spark, corpus).collect()))
        assert latest_manifest(root)["version"] == 1, \
            "the cold read must adopt, never republish"
        assert again == first, \
            "adopted quantizer must be the published rows verbatim"
    finally:
        _drop_store([corpus])


def test_ivfpq_refresh_retrains_on_drift_and_closes_the_loop(
        spark, sf_dir, tmp_path):
    """The refresh loop generalizes to the composed IVF-PQ index: drift
    flags the residual-space monitor, the retrain publishes a fresh
    coarse quantizer + residual codebooks + codes under the merged
    content key, and the signal clears on re-read; an exact-copies
    batch takes the pinned path with both codebooks carried."""
    from bacalhau_spark.sources.indexstore import index_table_root
    from bacalhau_spark.operators.similarity import (
        _pq_drift_batch, ivfpq_code_index, ivfpq_refresh,
        ivfpq_staleness)
    from bacalhau_spark.sources.versioned import latest_manifest

    parent = str(tmp_path / "parent")
    merged = str(tmp_path / "merged")
    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .select("vec_id", "embedding"))
    _emb_corpus(spark, emb, parent)
    try:
        ivfpq_code_index(spark, parent).count()   # publish epoch N
        drift = _pq_drift_batch(spark, parent)
        mon = ivfpq_staleness(spark, parent, drift).collect()
        assert any(r["stale"] for r in mon)
        _emb_corpus(spark,
                    spark.read.parquet(
                        os.path.join(parent, "embeddings.parquet"))
                    .unionByName(drift), merged)
        out = ivfpq_refresh(spark, merged, parent).collect()
        assert out and all(r["action"] == "retrain" for r in out)
        from bacalhau_spark.operators.similarity import IVF_REV

        for kind in ("ivf_coarse", "ivfpq_codes", "ivfpq_cent"):
            man = latest_manifest(
                index_table_root(merged, kind, "embeddings",
                                 rev=IVF_REV))
            assert man is not None and man["files"], \
                f"retrain must publish {kind} under the merged key"
        mon2 = ivfpq_staleness(spark, merged, drift).collect()
        assert not any(r["stale"] for r in mon2), \
            "after retrain the residual staleness signal must clear"
    finally:
        _drop_store([parent, merged])


def test_ivfpq_refresh_adopts_pinned_on_undrifted_batch(
        spark, sf_dir, tmp_path):
    from bacalhau_spark.operators.similarity import (
        PQ_M, ivf_coarse_index, ivfpq_centroid_index, ivfpq_code_index,
        ivfpq_refresh)

    parent = str(tmp_path / "parent")
    merged = str(tmp_path / "merged")
    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .select("vec_id", "embedding"))
    _emb_corpus(spark, emb, parent)
    try:
        n_parent = ivfpq_code_index(spark, parent).count()
        cent_rows = sorted(map(tuple,
                               ivfpq_centroid_index(spark,
                                                    parent).collect()))
        coarse = sorted(map(tuple,
                            ivf_coarse_index(spark, parent).collect()))
        p_emb = spark.read.parquet(
            os.path.join(parent, "embeddings.parquet"))
        batch = (p_emb.where(F.col("vec_id") % 11 == 0)
                 .select((F.col("vec_id") + 3_000_000).alias("vec_id"),
                         "embedding"))
        n_new = batch.count()
        _emb_corpus(spark, p_emb.unionByName(batch), merged)
        out = ivfpq_refresh(spark, merged, parent).collect()
        assert out and all(r["action"] == "adopt_pinned" for r in out)
        assert ivfpq_code_index(spark, merged).count() \
            == n_parent + n_new * PQ_M
        assert sorted(map(tuple, ivfpq_centroid_index(
            spark, merged).collect())) == cent_rows
        assert sorted(map(tuple, ivf_coarse_index(
            spark, merged).collect())) == coarse, \
            "adopt_pinned must carry the coarse quantizer verbatim"
    finally:
        _drop_store([parent, merged])


def test_refresh_append_guard_rejects_non_append_epochs(
        spark, sf_dir, tmp_path):
    """The refresh verbs' premise is merged = parent + appended rows,
    and they must FAIL LOUDLY when it does not hold (r14 review): an
    in-place embedding rewrite is invisible to the vec_id anti-join
    (the parent's code would republish for the new bytes — silently
    wrong), and a removed vector would keep a phantom code. Both
    shapes raise with a rebuild instruction; the error path publishes
    nothing under the merged content key."""
    import pytest

    from bacalhau_spark.sources.indexstore import index_table_root
    from bacalhau_spark.operators.similarity import (pq_code_index,
                                                     pq_refresh)
    from bacalhau_spark.sources.versioned import latest_manifest

    parent = str(tmp_path / "parent")
    rewritten = str(tmp_path / "rewritten")
    shrunk = str(tmp_path / "shrunk")
    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .select("vec_id", "embedding"))
    _emb_corpus(spark, emb, parent)
    try:
        pq_code_index(spark, parent).count()
        # in-place rewrite: same ids, one vector's bytes changed
        changed = emb.withColumn(
            "embedding",
            F.when(F.col("vec_id") == 3,
                   F.expr("transform(embedding, v -> CAST(v AS FLOAT)"
                          " * CAST(0.5 AS FLOAT))"))
            .otherwise(F.col("embedding")))
        _emb_corpus(spark, changed, rewritten)
        with pytest.raises(ValueError, match="rewrites embeddings"):
            pq_refresh(spark, rewritten, parent)
        # removal: an id present in parent is missing from merged
        _emb_corpus(spark, emb.where(F.col("vec_id") != 3), shrunk)
        with pytest.raises(ValueError, match="missing vec_ids"):
            pq_refresh(spark, shrunk, parent)
        # fast-path hole (r14 review, second pass): parent shards
        # carried VERBATIM plus a new shard that re-carries a parent
        # vec_id with different bytes — the file-level proof alone
        # would pass it, so the fast path must also check id
        # disjointness of the appended shards
        import shutil as _sh

        recarry = str(tmp_path / "recarry")
        src = os.path.join(parent, "embeddings.parquet")
        dst = os.path.join(recarry, "embeddings.parquet")
        os.makedirs(dst)
        for fn in os.listdir(src):
            if fn.endswith(".parquet"):
                _sh.copy2(os.path.join(src, fn), os.path.join(dst, fn))
        (emb.where(F.col("vec_id") == 3)
         .withColumn("embedding",
                     F.expr("transform(embedding, v -> CAST(v AS FLOAT)"
                            " * CAST(0.25 AS FLOAT))"))
         .coalesce(1).write.mode("append").parquet(dst))
        with pytest.raises(ValueError, match="re-carry"):
            pq_refresh(spark, recarry, parent)
        # fast-path hole #2 (r14 review, third pass): parent shards
        # carried verbatim plus appended shards that duplicate a NEW
        # vec_id among THEMSELVES — both rows would be encoded, so the
        # fast path must reject internal duplicates too
        dupnew = str(tmp_path / "dupnew")
        dnd = os.path.join(dupnew, "embeddings.parquet")
        os.makedirs(dnd)
        for fn in os.listdir(src):
            if fn.endswith(".parquet"):
                _sh.copy2(os.path.join(src, fn), os.path.join(dnd, fn))
        fresh = (emb.where(F.col("vec_id") == 5)
                 .select((F.col("vec_id") + 5_000_000).alias("vec_id"),
                         "embedding"))
        fresh.coalesce(1).write.mode("append").parquet(dnd)
        fresh.coalesce(1).write.mode("append").parquet(dnd)
        with pytest.raises(ValueError, match="duplicate vec_ids among"):
            pq_refresh(spark, dupnew, parent)
        for d in (rewritten, shrunk, recarry):
            assert latest_manifest(index_table_root(
                d, "pq_assign", "embeddings")) is None, \
                "a refused refresh must publish nothing"
    finally:
        _drop_store([parent, rewritten, shrunk,
                     str(tmp_path / "recarry")])


def test_adopt_pinned_publishes_encoding_provenance(
        spark, sf_dir, tmp_path):
    """A pinned publish and a fresh build are two declared rules for
    one content address; the manifest's encoding prop records which
    rule produced the head (r14 review) so the state is inspectable."""
    from bacalhau_spark.sources.indexstore import index_table_root
    from bacalhau_spark.operators.similarity import (pq_code_index,
                                                     pq_refresh)
    from bacalhau_spark.sources.versioned import latest_manifest

    parent = str(tmp_path / "parent")
    merged = str(tmp_path / "merged")
    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .select("vec_id", "embedding"))
    _emb_corpus(spark, emb, parent)
    try:
        pq_code_index(spark, parent).count()
        p_emb = spark.read.parquet(
            os.path.join(parent, "embeddings.parquet"))
        batch = (p_emb.where(F.col("vec_id") % 11 == 0)
                 .select((F.col("vec_id") + 2_000_000).alias("vec_id"),
                         "embedding"))
        _emb_corpus(spark, p_emb.unionByName(batch), merged)
        out = pq_refresh(spark, merged, parent).collect()
        assert out and all(r["action"] == "adopt_pinned" for r in out)
        man = latest_manifest(index_table_root(
            merged, "pq_assign", "embeddings"))
        assert man and man["props"].get("encoding") == "pinned"
        # the parent's own (fresh-trained) manifest carries no mark
        pman = latest_manifest(index_table_root(
            parent, "pq_assign", "embeddings"))
        assert pman and pman["props"].get("encoding") is None
    finally:
        _drop_store([parent, merged])
