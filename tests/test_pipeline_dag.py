"""Pipeline (DAG-of-jobs) tests — the reference's pipelines roadmap item
(`ROADMAP.md:39-41`) on the engine's submit/admission machinery: output →
input hand-off, wave parallelism through the capacity backlog, failure
cancellation of transitive dependents, and spec validation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bacalhau_spark.engine import Engine, JobSpec, PipelineError
from bacalhau_spark.registry import queries

from tests.conftest import SF_DIR


@pytest.fixture()
def dag_engine(spark):
    """Engine with a registry extended by path-reading stage functions:
    `filter_docs` publishes a filtered documents table; `count_by_lang`
    consumes ANY parquet path as its input (the '@parent' hand-off)."""
    reg = queries()

    def filter_docs(spark_, sf_dir):
        from bacalhau_spark.catalog import table
        return table(spark_, sf_dir, "documents").filter(
            F.col("doc_id") % 2 == 0).select("doc_id", "lang", "text")

    def count_by_lang(spark_, path):
        return (spark_.read.parquet(path).groupBy("lang")
                .agg(F.count("*").alias("n")).orderBy("lang"))

    def always_fails(spark_, path):
        raise RuntimeError("boom")

    reg["p_filter_docs"] = filter_docs
    reg["p_count_by_lang"] = count_by_lang
    reg["p_fails"] = always_fails
    return Engine(spark, reg)


def test_linear_pipeline_hands_off_output(dag_engine, tmp_path, spark):
    out_a = str(tmp_path / "filtered")
    statuses = dag_engine.submit_pipeline([
        {"name": "a", "query": "p_filter_docs",
         "inputs": {"sf_dir": SF_DIR}, "outputs": {"path": out_a}},
        {"name": "b", "query": "p_count_by_lang", "after": ["a"],
         "inputs": {"sf_dir": "@a"},
         "outputs": {"path": str(tmp_path / "counts")}},
    ])
    assert set(statuses) == {"a", "b"}
    assert all(v not in ("Cancelled", "Rejected") for v in statuses.values())
    counts = spark.read.parquet(str(tmp_path / "counts"))
    total = counts.agg(F.sum("n")).first()[0]
    expected = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .filter(F.col("doc_id") % 2 == 0).count())
    assert total == expected


def test_diamond_pipeline_runs_all_stages(dag_engine, tmp_path):
    out = lambda n: str(tmp_path / n)
    statuses = dag_engine.submit_pipeline([
        {"name": "src", "query": "p_filter_docs",
         "inputs": {"sf_dir": SF_DIR}, "outputs": {"path": out("src")}},
        {"name": "left", "query": "p_count_by_lang", "after": ["src"],
         "inputs": {"sf_dir": "@src"}, "outputs": {"path": out("left")}},
        {"name": "right", "query": "p_count_by_lang", "after": ["src"],
         "inputs": {"sf_dir": "@src"}, "outputs": {"path": out("right")}},
        {"name": "join", "query": "p_count_by_lang", "after": ["left"],
         "inputs": {"sf_dir": "@left"}},
    ])
    assert len(statuses) == 4
    assert all(v not in ("Cancelled", "Rejected") for v in statuses.values())


def test_failed_stage_cancels_transitive_dependents(dag_engine, tmp_path):
    with pytest.raises(PipelineError) as ei:
        dag_engine.submit_pipeline([
            {"name": "a", "query": "p_filter_docs",
             "inputs": {"sf_dir": SF_DIR},
             "outputs": {"path": str(tmp_path / "a")}},
            {"name": "bad", "query": "p_fails", "after": ["a"],
             "inputs": {"sf_dir": "@a"},
             "outputs": {"path": str(tmp_path / "bad")}},
            {"name": "c", "query": "p_count_by_lang", "after": ["bad"],
             "inputs": {"sf_dir": "@bad"}},
            {"name": "d", "query": "p_count_by_lang", "after": ["c"],
             "inputs": {"sf_dir": SF_DIR}},
        ])
    st = ei.value.statuses
    # a completed, bad has a run id whose state is Error, c and d cancelled
    assert st["a"] not in ("Cancelled", "Rejected")
    assert dag_engine.state(st["bad"]) == "Error"
    assert st["c"] == "Cancelled" and st["d"] == "Cancelled"


def _curation_stages(base: str, store: str) -> list[dict]:
    return [
        {"name": "gopher", "query": "stage_gopher_keep",
         "inputs": {"sf_dir": SF_DIR},
         "outputs": {"path": f"{base}/gopher_kept"}},
        {"name": "pii", "query": "stage_pii_redact", "after": ["gopher"],
         "inputs": {"sf_dir": "@gopher"},
         "outputs": {"path": f"{base}/pii_clean"}},
        {"name": "dedup", "query": "stage_dedup", "after": ["pii"],
         "inputs": {"sf_dir": "@pii"},
         "outputs": {"path": f"{base}/deduped"}},
        {"name": "pack", "query": "stage_seq_pack", "after": ["dedup"],
         "inputs": {"sf_dir": "@dedup"},
         "outputs": {"path": store, "format": "contentstore"}},
    ]


def test_pq_refresh_stage_runs_in_the_dag(spark, tmp_path):
    """The staleness consumer INSIDE the epoch-ingest DAG (round 14):
    stage_pq_refresh is a MULTI-INPUT stage (engine._extra_inputs —
    the merged corpus arrives as sf_dir, the parent epoch by declared
    parameter name), its retrain decision publishes the codes under
    the merged content key, and its commit-log output (monitor rows +
    chosen action) hands off to a dependent audit stage through the
    standard '@' token — the controller loop with no operator in it."""
    import shutil

    from bacalhau_spark.sources.indexstore import index_table_root
    from bacalhau_spark.operators.similarity import (_pq_drift_batch,
                                                     pq_code_index)
    from bacalhau_spark.registry import engine_registry
    from bacalhau_spark.sources.versioned import latest_manifest

    parent = str(tmp_path / "parent")
    merged = str(tmp_path / "merged")
    emb = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
           .select("vec_id", "embedding"))
    emb.coalesce(2).write.parquet(
        os.path.join(parent, "embeddings.parquet"))
    try:
        pq_code_index(spark, parent).count()   # publish epoch N
        drift = _pq_drift_batch(spark, parent)
        (spark.read.parquet(os.path.join(parent, "embeddings.parquet"))
         .unionByName(drift).coalesce(2)
         .write.parquet(os.path.join(merged, "embeddings.parquet")))

        reg = engine_registry()

        def audit(spark_, path):
            return (spark_.read.parquet(path).groupBy("action")
                    .agg(F.count("*").alias("n")))

        reg["p_refresh_audit"] = audit
        eng = Engine(spark, reg)
        statuses = eng.submit_pipeline([
            {"name": "refresh", "query": "stage_pq_refresh",
             "inputs": {"sf_dir": merged, "parent_dir": parent},
             "outputs": {"path": str(tmp_path / "refresh_log")}},
            {"name": "audit", "query": "p_refresh_audit",
             "after": ["refresh"], "inputs": {"sf_dir": "@refresh"},
             "outputs": {"path": str(tmp_path / "audit")}},
        ])
        assert all(v not in ("Cancelled", "Rejected")
                   for v in statuses.values())
        out = spark.read.parquet(str(tmp_path / "audit")).collect()
        # the synthesized mean-offset drift flags stale -> every one of
        # the PQ_M subspace rows records the retrain decision
        assert [(r["action"], r["n"]) for r in out] == [("retrain", 16)]
        man = latest_manifest(
            index_table_root(merged, "pq_assign", "embeddings"))
        assert man is not None and man["files"], \
            "the DAG's retrain must publish under the merged content key"
    finally:
        for d in (parent, merged):
            for kind in ("pq_assign", "pq_cent"):
                shutil.rmtree(
                    index_table_root(d, kind, "embeddings"),
                    ignore_errors=True)


def test_crawl_curation_pipeline_end_to_end(spark, tmp_path):
    """The crawl front door as the flagship DAG's entry stage
    (examples/pipeline_crawl_curation.yaml): crawl-extract -> pii ->
    dedup -> pack, plus the round-12 terminal SPLIT branch
    (-> split -> train/heldout contentstore publishes). Stage 1 must
    keep exactly the unblocked-domain documents with their EXTRACTED
    text (boilerplate gone, body preserved after whitespace collapse);
    the split must partition the deduped corpus with ZERO near-dup
    clusters spanning splits; every terminal manifest address must be
    run-invariant."""
    from bacalhau_spark.operators.web import (BLOCKED_DOMAINS, _url_expr,
                                              url_canonicalize_frame)
    from bacalhau_spark.registry import engine_registry
    from bacalhau_spark.sources import contentstore as cs

    eng = Engine(spark, engine_registry())

    def run(tag):
        base = str(tmp_path / tag)
        store = f"{base}/store"
        stages = [
            {"name": "index_ingest", "query": "stage_index_build",
             "inputs": {"sf_dir": SF_DIR},
             "outputs": {"path": f"{base}/index_log"}},
            {"name": "crawl", "query": "stage_crawl_extract",
             "inputs": {"sf_dir": SF_DIR},
             "outputs": {"path": f"{base}/extracted"}},
            {"name": "pii", "query": "stage_pii_redact",
             "after": ["crawl"], "inputs": {"sf_dir": "@crawl"},
             "outputs": {"path": f"{base}/pii_clean"}},
            {"name": "dedup", "query": "stage_dedup", "after": ["pii"],
             "inputs": {"sf_dir": "@pii"},
             "outputs": {"path": f"{base}/deduped"}},
            {"name": "pack", "query": "stage_seq_pack", "after": ["dedup"],
             "inputs": {"sf_dir": "@dedup"},
             "outputs": {"path": store, "format": "contentstore"}},
            {"name": "split", "query": "stage_split", "after": ["dedup"],
             "inputs": {"sf_dir": "@dedup"},
             "outputs": {"path": f"{base}/split"}},
            {"name": "train", "query": "stage_split_train",
             "after": ["split"], "inputs": {"sf_dir": "@split"},
             "outputs": {"path": f"{base}/train_store",
                         "format": "contentstore"}},
            {"name": "heldout", "query": "stage_split_heldout",
             "after": ["split"], "inputs": {"sf_dir": "@split"},
             "outputs": {"path": f"{base}/heldout_store",
                         "format": "contentstore"}},
        ]
        statuses = eng.submit_pipeline(stages)
        assert all(v not in ("Cancelled", "Rejected")
                   for v in statuses.values())
        return base, store

    base, store = run("crawl1")
    # the index-ingest branch published every persisted artifact family
    # (r14: the documents kinds AND the trained-state embeddings kinds)
    idx = sorted(map(tuple,
                     spark.read.parquet(f"{base}/index_log").collect()))
    assert {r[0] for r in idx} == {
        "sig", "cand", "winnow", "phash", "aphash", "vphash",
        "canon", "extract", "lshsig", "ivf_coarse", "ivf_cells",
        "ivf_vectors", "pq_assign", "pq_cent", "ivfpq_codes",
        "ivfpq_cent"}
    assert all(r[1] > 0 and r[2] >= 1 for r in idx)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    canon = url_canonicalize_frame(
        docs.select("doc_id", "source", _url_expr().alias("url")))
    expected = canon.where(
        ~F.col("domain").isin(*BLOCKED_DOMAINS)).count()
    extracted = spark.read.parquet(f"{base}/extracted")
    assert extracted.count() == expected
    row = extracted.orderBy("doc_id").first()
    assert "<" not in row.text and "&amp;" not in row.text
    # the split stage partitions the deduped corpus, whole clusters
    # moving together (the anti-contamination invariant), and the two
    # terminal publishes carry exactly the two sides
    deduped_n = spark.read.parquet(f"{base}/deduped").count()
    split = spark.read.parquet(f"{base}/split")
    assert split.count() == deduped_n
    spans = (split.groupBy("cluster_id")
             .agg(F.countDistinct("split").alias("k"))
             .where(F.col("k") > 1).count())
    assert spans == 0, "a near-dup cluster spans train/heldout"
    by_split = {r["split"]: r["n"] for r in
                split.groupBy("split").agg(F.count("*").alias("n"))
                .collect()}
    for side, store_name in (("train", "train_store"),
                             ("heldout", "heldout_store")):
        _, entries = cs.last_manifest(f"{base}/{store_name}")
        n_rows = sum(
            len(open(f"{base}/{store_name}/{a}").read().splitlines())
            for a, _ in entries)
        assert n_rows == by_split.get(side, 0), side
    _, store2 = run("crawl2")
    assert cs.last_manifest(store2)[0] == cs.last_manifest(store)[0]
    # the second epoch's ingest ADOPTS the published indexes: same
    # versions, same rows — the stage output is run-invariant too
    base2 = store2.rsplit("/", 1)[0]
    assert sorted(map(tuple, spark.read.parquet(
        f"{base2}/index_log").collect())) == idx
    # run-invariant terminal manifests for BOTH split sides
    for store_name in ("train_store", "heldout_store"):
        assert cs.last_manifest(f"{store2.rsplit('/', 1)[0]}/"
                                f"{store_name}")[0] == \
            cs.last_manifest(f"{base}/{store_name}")[0]


def test_curation_pipeline_end_to_end(spark, tmp_path):
    """Flagship DAG (examples/pipeline_curation.yaml): gopher -> pii ->
    dedup -> pack with '@parent' hand-offs, terminal publish through the
    contentstore writer. Checks stage semantics against direct
    computation AND that the final manifest address is RUN-INVARIANT
    across two full executions."""
    from bacalhau_spark.operators.curation import gopher_keep
    from bacalhau_spark.registry import engine_registry
    from bacalhau_spark.sources import contentstore as cs

    eng = Engine(spark, engine_registry())

    def run(tag):
        base = str(tmp_path / tag)
        store = f"{base}/store"
        statuses = eng.submit_pipeline(_curation_stages(base, store))
        assert all(v not in ("Cancelled", "Rejected")
                   for v in statuses.values())
        return base, store

    base, store = run("run1")
    # stage 1: exactly the Gopher-kept documents survived
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected_kept = gopher_keep(docs.select("doc_id", "text")).count()
    kept = spark.read.parquet(f"{base}/gopher_kept")
    assert kept.count() == expected_kept
    # stage 2: same rows, text scrubbed (schema preserved for composition)
    clean = spark.read.parquet(f"{base}/pii_clean")
    assert clean.count() == expected_kept
    assert set(clean.columns) == {"doc_id", "text"}
    # stage 3: dedup keeps one survivor per distinct text
    deduped = spark.read.parquet(f"{base}/deduped")
    assert deduped.count() == clean.select("text").distinct().count()
    # stage 4: the published bins account for every surviving token
    _, entries = cs.last_manifest(store)
    bins = (spark.read.json(
        spark.sparkContext.parallelize(
            [ln for a, _ in entries
             for ln in open(f"{store}/{a}").read().splitlines()])))
    total = bins.agg(F.sum("total_tokens")).first()[0]
    from bacalhau_spark.functions import words
    expected_tokens = (deduped.select(F.size(words("text")).alias("n"))
                       .agg(F.sum("n")).first()[0])
    assert total == expected_tokens
    # run-invariance: the whole DAG re-run publishes the SAME address
    _, store2 = run("run2")
    assert cs.last_manifest(store2)[0] == cs.last_manifest(store)[0]
    # and the address itself is pinned at sf0.001, so a change to the
    # packing or to the publish encoding shows here
    if os.path.basename(SF_DIR) == "sf0.001":
        assert cs.last_manifest(store)[0] == \
            "0f9026cb9e95d21698f52d78b555fcf2"


def test_reuse_parent_hand_off_reads_real_data(dag_engine, tmp_path, spark):
    """The ADVICE regression: a parent stage with reuse:true whose content
    key already sits in the result cache but whose declared outputs.path is
    FRESH must still produce readable data at the path '@parent' resolves
    to — either by executing for real (fresh path bypasses the cache) or by
    resolving the hand-off through the effective spec."""
    prior = str(tmp_path / "prior")
    dag_engine.submit(JobSpec(query="p_filter_docs",
                              inputs={"sf_dir": SF_DIR},
                              outputs={"path": prior}, verified=True))
    fresh = str(tmp_path / "fresh")
    statuses = dag_engine.submit_pipeline([
        {"name": "a", "query": "p_filter_docs",
         "inputs": {"sf_dir": SF_DIR}, "outputs": {"path": fresh},
         "verified": True, "reuse": True},
        {"name": "b", "query": "p_count_by_lang", "after": ["a"],
         "inputs": {"sf_dir": "@a"},
         "outputs": {"path": str(tmp_path / "counts")}},
    ])
    assert all(v not in ("Cancelled", "Rejected") for v in statuses.values())
    counts = spark.read.parquet(str(tmp_path / "counts"))
    assert counts.agg(F.sum("n")).first()[0] > 0
    # same-path reuse (the cache now points at the run that wrote `fresh`)
    # still short-circuits and hands off the cached artifact
    statuses2 = dag_engine.submit_pipeline([
        {"name": "a", "query": "p_filter_docs",
         "inputs": {"sf_dir": SF_DIR}, "outputs": {"path": fresh},
         "verified": True, "reuse": True},
        {"name": "b", "query": "p_count_by_lang", "after": ["a"],
         "inputs": {"sf_dir": "@a"},
         "outputs": {"path": str(tmp_path / "counts2")}},
    ])
    assert all(v not in ("Cancelled", "Rejected")
               for v in statuses2.values())
    reused = [e.name for e in dag_engine.events(statuses2["a"])]
    assert "ResultsReused" in reused
    assert spark.read.parquet(str(tmp_path / "counts2")).count() > 0


def test_cycle_rejected(dag_engine):
    with pytest.raises(ValueError, match="cycle"):
        dag_engine.submit_pipeline([
            {"name": "a", "query": "p_filter_docs", "after": ["b"],
             "inputs": {"sf_dir": SF_DIR}},
            {"name": "b", "query": "p_filter_docs", "after": ["a"],
             "inputs": {"sf_dir": SF_DIR}},
        ])


def test_undeclared_reference_rejected_before_any_run(dag_engine, tmp_path):
    with pytest.raises(ValueError, match="does not list it in 'after'"):
        dag_engine.submit_pipeline([
            {"name": "a", "query": "p_filter_docs",
             "inputs": {"sf_dir": SF_DIR},
             "outputs": {"path": str(tmp_path / "a")}},
            {"name": "b", "query": "p_count_by_lang",
             "inputs": {"sf_dir": "@a"}},  # no 'after': undeclared dep
        ])
    assert dag_engine.list_runs() == {}  # nothing was submitted


def test_reference_to_pathless_stage_rejected(dag_engine):
    with pytest.raises(ValueError, match="declares no outputs.path"):
        dag_engine.submit_pipeline([
            {"name": "a", "query": "p_filter_docs",
             "inputs": {"sf_dir": SF_DIR}},  # no outputs.path
            {"name": "b", "query": "p_count_by_lang", "after": ["a"],
             "inputs": {"sf_dir": "@a"}},
        ])


def _verified_curation_stages(base: str, parquet=()) -> list[dict]:
    """The flagship chain (_curation_stages) with a `format:
    contentstore` sink on every stage, except the stages named in
    `parquet`, which keep their parquet sink."""
    stages = _curation_stages(base, f"{base}/store")
    for stage in stages:
        if stage["name"] not in parquet:
            stage["outputs"]["format"] = "contentstore"
    return stages


def test_verified_pipeline_every_edge_through_store(spark, tmp_path):
    """The curation DAG with EVERY edge routed through the contentstore
    (examples/pipeline_curation_verified.yaml): the plain stages, each
    sink `format: contentstore`, so each stage publishes content-
    addressed blobs and each child mounts its parent through the
    verified read. Every stage's manifest must be run-invariant, and a
    mixed DAG (pii's edge parquet) and the plain parquet-edged pipeline
    must publish the same addresses on their store sinks: an address
    does not depend on how the stage's parent arrived."""
    from bacalhau_spark.registry import engine_registry
    from bacalhau_spark.sources import contentstore as cs

    eng = Engine(spark, engine_registry())

    def run(tag, parquet=()):
        base = str(tmp_path / tag)
        statuses = eng.submit_pipeline(
            _verified_curation_stages(base, parquet))
        assert all(v not in ("Cancelled", "Rejected")
                   for v in statuses.values())
        return base

    b1 = run("v1")
    b2 = run("v2")
    # every stage (not just the terminal one) published a manifest, and
    # every stage's address is run-invariant
    for stage in ("gopher_kept", "pii_clean", "deduped", "store"):
        a1 = cs.last_manifest(f"{b1}/{stage}")[0]
        a2 = cs.last_manifest(f"{b2}/{stage}")[0]
        assert a1 == a2, f"{stage} manifest is not run-invariant"
    mixed = run("mixed", parquet=("pii",))
    assert not os.path.exists(f"{mixed}/pii_clean/MANIFEST")
    assert spark.read.parquet(f"{mixed}/pii_clean").count() > 0
    for stage in ("gopher_kept", "deduped", "store"):
        assert cs.last_manifest(f"{mixed}/{stage}")[0] == \
            cs.last_manifest(f"{b1}/{stage}")[0], stage
    # the plain parquet-edged flagship packs the same terminal blob
    b3 = str(tmp_path / "plain")
    eng.submit_pipeline(_curation_stages(b3, f"{b3}/store"))
    assert cs.last_manifest(f"{b3}/store")[0] == \
        cs.last_manifest(f"{b1}/store")[0]


def test_verified_edge_detects_tampered_blob(spark, tmp_path):
    """The property the store-routed edges BUY: corrupt one intermediate
    blob between two stages and the CHILD'S read fails (address/content
    mismatch) instead of silently propagating poisoned bytes."""
    import pytest

    from bacalhau_spark.registry import engine_registry
    from bacalhau_spark.sources import contentstore as cs
    from bacalhau_spark.stages import stage_pii_redact

    eng = Engine(spark, engine_registry())
    base = str(tmp_path / "t")
    root = f"{base}/gopher_kept"
    eng.submit(JobSpec.from_dict(
        {"query": "stage_gopher_keep", "inputs": {"sf_dir": SF_DIR},
         "outputs": {"path": root, "format": "contentstore"}}))
    addr = cs.last_manifest(root)[1][0][0]
    blob = f"{root}/{addr}"
    data = open(blob, "rb").read()
    with open(blob, "wb") as f:
        f.write(data[:-1] + bytes([data[-1] ^ 1]))
    with pytest.raises(Exception, match="(?i)integrity"):
        stage_pii_redact(spark, root).collect()


def test_empty_store_parent_reads_as_zero_rows(spark, tmp_path):
    """A parent stage that kept no rows publishes an empty manifest;
    its child reads zero rows of the declared schema instead of failing
    the mount."""
    from bacalhau_spark.sources import contentstore as cs
    from bacalhau_spark.stages import stage_pii_redact

    root = str(tmp_path / "empty")
    cs.publish(spark.range(0).select(F.lit("x").alias("value")), root)
    assert cs.last_manifest(root)[1] == []
    out = stage_pii_redact(spark, root)
    assert out.columns == ["doc_id", "text"]
    assert out.count() == 0


def test_store_edges_carry_the_pii_and_dedup_changes(spark, tmp_path):
    """Over the fixture the pii and dedup stages change no row, so the
    pinned addresses cannot tell a skipped stage from a run one. Over a
    corpus holding one email and one exact duplicate, each stage's
    contentstore edge must carry its change: a new manifest address,
    the email redacted, the duplicate dropped."""
    import json

    from bacalhau_spark.registry import engine_registry
    from bacalhau_spark.sources import contentstore as cs

    roots = [str(tmp_path / "docs")]
    cs.publish(cs.json_lines(spark.createDataFrame(
        [(1, "write to ada@example.org for the notes"),
         (2, "the same words twice over"),
         (3, "the same words twice over")],
        "doc_id bigint, text string")), roots[0])
    eng = Engine(spark, engine_registry())
    for query in ("stage_pii_redact", "stage_dedup"):
        roots.append(str(tmp_path / query))
        run_id = eng.submit(JobSpec.from_dict(
            {"query": query, "inputs": {"sf_dir": roots[-2]},
             "outputs": {"path": roots[-1], "format": "contentstore"}}))
        assert eng.state(run_id) == "Completed", query
    addrs = [cs.last_manifest(root)[0] for root in roots]
    assert len(set(addrs)) == len(addrs), addrs

    def docs_at(root):
        return sorted((d["doc_id"], d["text"]) for d in (
            json.loads(r.value) for r in cs.read_root(spark, root).collect()))

    redacted = (1, "write to <EMAIL> for the notes")
    dup = (2, "the same words twice over")
    assert docs_at(roots[1]) == [redacted, dup, (3, dup[1])]
    assert docs_at(roots[2]) == [redacted, dup]


def test_parquet_parent_reads_launch_no_job(spark, tmp_path):
    """A stage reads its parquet parent with the schema it expects, so
    the call plans without a Spark job (a schemaless read infers the
    schema from a footer in a one-task job at the call)."""
    from bacalhau_spark.stages import (stage_dedup, stage_gopher_keep,
                                       stage_pii_redact)

    from tests.test_index_ingest import _jobs

    parent = str(tmp_path / "parent")
    stage_gopher_keep(spark, SF_DIR).write.parquet(parent)
    for stage in (stage_pii_redact, stage_dedup):
        out, jobs = _jobs(spark, lambda: stage(spark, parent))
        assert jobs == 0, stage.__name__
        assert out.count() > 0
