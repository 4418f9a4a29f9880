"""Path-reading pipeline stages: the corpus-curation verbs as engine jobs.

The oracle-graded queries in `operators/` read the fixture tables by
scale-factor directory. A DAG-of-jobs pipeline instead hands a PARENT
STAGE'S PUBLISHED OUTPUT to the child via the '@parent' token
(`engine.submit_pipeline`), so these stage functions take a plain path —
each reads whatever parquet its parent wrote, applies one curation verb
(reusing the same core frame functions the graded queries exercise), and
returns the frame the engine publishes to the stage's declared sink.

The flagship chain (examples/pipeline_curation.yaml, tested end-to-end in
tests/test_pipeline_dag.py) is the reference's ROADMAP pipelines item
(`ROADMAP.md:39-41`) instantiated as a real training-data flow:

    gopher_keep -> pii_redact -> dedup -> seq_pack (publish to contentstore)

The final stage publishes to the contentstore (`contentstore.publish`), so
the pipeline's end artifact is a content-addressed manifest whose address
is RUN-INVARIANT: re-running the whole DAG over the same fixture produces
the identical manifest address — the determinism contract the reference
states per-job (`pkg/executor/python_wasm/executor.go:48-73`), extended
across an entire DAG.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bacalhau_spark.catalog import table
from bacalhau_spark.functions import words
from bacalhau_spark.operators.curation import (gopher_keep, pii_redact_frame,
                                               seq_pack_bins)


def stage_gopher_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry stage: fixture documents filtered through the Gopher gates.
    Per-row codegen, zero shuffle; the only stage that reads by sf_dir."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_keep(docs)


def stage_crawl_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry stage: the CRAWL FRONT DOOR as a pipeline verb — derive the
    fixture's deterministic URLs and pages, canonicalize, drop blocked
    domains, extract main content. Emits (doc_id, text) with text = the
    extracted content, so the whole curation chain (pii → dedup → pack)
    composes downstream unchanged — the end-to-end crawl-to-corpus flow
    a training-data run starts with. Every stage is per-row codegen or
    a literal-IN filter; zero shuffle."""
    from bacalhau_spark.operators.web import (BLOCKED_DOMAINS, _html_expr,
                                              _url_expr,
                                              html_extract_frame,
                                              url_canonicalize_frame)

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    canon = url_canonicalize_frame(
        docs.select("doc_id", "source", "text", _url_expr().alias("url")))
    surv = (canon.where(~F.col("domain").isin(*BLOCKED_DOMAINS))
            .select("doc_id", "source", "text",
                    _html_expr().alias("html")))
    return (html_extract_frame(surv)
            .select("doc_id", F.col("content").alias("text")))


# stage_index_build's kinds as dependency chains: each kind's builder
# calls the builders of the kinds before it in its chain (cand bands the
# signatures; the IVF cells, vectors and IVF-PQ kinds read the coarse
# quantizer; the PQ codebook reads the codes), and no builder calls into
# another chain. One chain is built in order on one lane, so no kind is
# built twice.
INGEST_CHAINS = (("sig", "cand"), ("winnow",), ("phash",), ("aphash",),
                 ("vphash",), ("canon",), ("extract",), ("lshsig",),
                 ("ivf_coarse", "ivf_cells", "ivf_vectors", "ivfpq_codes",
                  "ivfpq_cent"),
                 ("pq_assign", "pq_cent"))


def lane_count(spark: SparkSession) -> int:
    """Lanes for independent index builds: half the default parallelism.
    The ingest shares the cores with whatever else the epoch runs (the
    crawl-curation chain beside an appended epoch's ingest), and a lane
    per chain starves it without finishing the ingest any sooner."""
    return max(1, spark.sparkContext.defaultParallelism // 2)


def run_in_lanes(spark: SparkSession, chains, build) -> None:
    """Call `build(item)` for every item of every chain, on
    lane_count(spark) parallel lanes: each lane takes the next chain,
    longest first, and builds its items in order. Lanes are
    InheritableThreads: they carry the calling thread's Spark local
    properties (job group and description), so the
    engine's timeout cancel and per-run job counts see every job a lane
    launches. After a failure no lane starts another chain; the first
    failure is re-raised only once every lane has joined, so no build is
    still writing when the caller sees the error."""
    from pyspark import InheritableThread

    pending = sorted(chains, key=len, reverse=True)
    errors: list[BaseException] = []
    lock = threading.Lock()

    def lane() -> None:
        while True:
            with lock:
                if errors or not pending:
                    return
                chain = pending.pop(0)
            try:
                for item in chain:
                    build(item)
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                with lock:
                    errors.append(exc)

    # a lane carries its caller's thread name, so thread dumps and
    # per-thread traces attribute its work to the caller's run
    name = threading.current_thread().name
    lanes = [InheritableThread(target=lane, name=name)
             for _ in range(min(lane_count(spark), len(pending)))]
    for t in lanes:
        t.start()
    for t in lanes:
        t.join()
    if errors:
        raise errors[0]


def stage_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry stage: the INDEX-INGEST job as a pipeline verb — pre-build
    and publish the corpus's persisted per-doc indexes (minhash
    signatures, image/audio/video perceptual hashes, the materialized
    crawl front door) OFF the query path: the production shape where
    one ingest job per crawl epoch publishes the artifacts and every
    later consumer — batch query, streaming screen, next session —
    adopts. On an appended corpus the build delta-adopts (only new
    shards hashed; sources.indexstore.cached_index). Emits the store's
    commit-log view for the built kinds: (kind, n_rows, version,
    delta_parent) — a deterministic function of the corpus content, so
    the stage output is graded like any other stage's. The kinds build
    chain by chain on parallel lanes (INGEST_CHAINS, run_in_lanes); the
    rows keep the declared kind order."""
    from bacalhau_spark.operators.dedup import (band_candidate_index,
                                                minhash_signature_index,
                                                winnow_posting_index)
    from bacalhau_spark.operators.multimodal import (audio_phash_index,
                                                     phash_index,
                                                     video_phash_index)
    from bacalhau_spark.operators.similarity import (IVF_REV,
                                                     ivf_cells_index,
                                                     ivf_coarse_index,
                                                     ivf_vectors_index,
                                                     ivfpq_centroid_index,
                                                     ivfpq_code_index,
                                                     lsh_signature_index,
                                                     pq_centroid_index,
                                                     pq_code_index)
    from bacalhau_spark.operators.web import (FRONT_DOOR_REV, canon_index,
                                              html_extract_index)
    from bacalhau_spark.sources import versioned
    from bacalhau_spark.sources.indexstore import (index_table_root,
                                                   published_rows)

    # kind -> (builder, builder rev, source table): the table root folds
    # the rev, so a commit-log lookup at the wrong rev reads a
    # nonexistent table (the r13 rev bump surfaced exactly that).
    # Since r14 the stage publishes EVERY persisted artifact family —
    # per-row/banding kinds over documents AND the trained-state kinds
    # over embeddings (lshsig bands, PQ codes+codebook, the coarse
    # quantizer, IVF-PQ codes+residual codebook) — so one ingest job
    # per epoch leaves nothing for the query path to train.
    builders = {"sig": (minhash_signature_index, 1, "documents"),
                "cand": (band_candidate_index, 1, "documents"),
                "winnow": (winnow_posting_index, 2, "documents"),
                "phash": (phash_index, 1, "documents"),
                "aphash": (audio_phash_index, 1, "documents"),
                "vphash": (video_phash_index, 1, "documents"),
                "canon": (canon_index, FRONT_DOOR_REV, "documents"),
                "extract": (html_extract_index, FRONT_DOOR_REV,
                            "documents"),
                "lshsig": (lsh_signature_index, 1, "embeddings"),
                "ivf_coarse": (ivf_coarse_index, IVF_REV, "embeddings"),
                "ivf_cells": (ivf_cells_index, IVF_REV, "embeddings"),
                "ivf_vectors": (ivf_vectors_index, IVF_REV, "embeddings"),
                "pq_assign": (pq_code_index, 1, "embeddings"),
                "pq_cent": (pq_centroid_index, 1, "embeddings"),
                "ivfpq_codes": (ivfpq_code_index, IVF_REV, "embeddings"),
                "ivfpq_cent": (ivfpq_centroid_index, IVF_REV,
                               "embeddings")}
    rows = {}

    def build(kind: str) -> None:
        fn, rev, tbl = builders[kind]
        frame = fn(spark, sf_dir)
        n = published_rows(spark, sf_dir, kind, frame, tbl=tbl, rev=rev)
        if n is None:
            n = frame.count()
        man = versioned.latest_manifest(
            index_table_root(sf_dir, kind, tbl, rev=rev)) or {}
        rows[kind] = (kind, n, int(man.get("version", 0)),
                      man.get("props", {}).get("delta_parent") or "")

    run_in_lanes(spark, INGEST_CHAINS, build)
    return spark.range(1).select(F.inline(F.array(*[
        F.struct(F.lit(k).alias("kind"),
                 F.lit(n).cast("long").alias("n_rows"),
                 F.lit(v).alias("version"),
                 F.lit(dp).alias("delta_parent"))
        for k, n, v, dp in (rows[kind] for kind in builders)])))


def stage_pq_refresh(spark: SparkSession, sf_dir: str,
                     parent_dir: str) -> DataFrame:
    """The STALENESS LOOP as a pipeline stage (round 14) — the last
    mile of the round-13 verdict's #1: the CLI verb consumed the
    signal, this puts the same consumer INSIDE the epoch-ingest DAG so
    a scheduled pipeline (new crawl epoch lands -> refresh decision ->
    index publish) needs no operator in the loop. A MULTI-INPUT stage
    (engine._extra_inputs): `sf_dir` is the merged epoch N+1 corpus,
    `parent_dir` epoch N (either may arrive as an '@parent' token).
    Emits pq_refresh's per-subspace commit-log rows — the monitor
    values plus the chosen action ('retrain' | 'adopt_pinned') — which
    the stage's sink publishes like any stage output, so the DECISION
    itself is part of the pipeline's auditable artifact chain.
    Reference analog: the event-fold-drives-action controller loop,
    pkg/controller/controller.go:328-385."""
    from bacalhau_spark.operators.similarity import pq_refresh

    return pq_refresh(spark, sf_dir, parent_dir)


def stage_ivfpq_refresh(spark: SparkSession, sf_dir: str,
                        parent_dir: str) -> DataFrame:
    """stage_pq_refresh's IVF-PQ twin: the composed index's epoch verb
    (coarse quantizer + residual codebooks retrain together on a stale
    flag; both carry pinned otherwise) as a DAG stage."""
    from bacalhau_spark.operators.similarity import ivfpq_refresh

    return ivfpq_refresh(spark, sf_dir, parent_dir)


def stage_split(spark: SparkSession, path: str) -> DataFrame:
    """Leakage-safe train/heldout SPLIT as a DAG stage (the terminal
    verb of a training-data pipeline — round-11 verdict #6): near-dup
    cluster labels over the PARENT'S corpus (whatever the dedup stage
    published, not a fixture), whole clusters assigned to one side by a
    deterministic md5 bucket of the label
    (dedup.leakage_safe_split_labels — the same rule the registered
    nd_leakage_safe_split audit hash-gates). Emits
    (doc_id, text, cluster_id, split); the per-split terminal publishes
    below filter it, so the split computes ONCE however many sides
    consume it."""
    from bacalhau_spark.operators.dedup import leakage_safe_split_labels

    docs = spark.read.parquet(path).select("doc_id", "text")
    return (docs.join(leakage_safe_split_labels(docs), "doc_id")
            .select("doc_id", "text", "cluster_id", "split"))


def _stage_split_half(spark: SparkSession, path: str,
                      which: str) -> DataFrame:
    docs = (spark.read.parquet(path)
            .where(F.col("split") == which).select("doc_id", "text"))
    return _publish_doc_rows(docs)


def stage_split_train(spark: SparkSession, path: str) -> DataFrame:
    """Terminal publish of the TRAIN side of a stage_split parent —
    canonical JSONL through the contentstore publish, so the training
    corpus's manifest address is run-invariant."""
    return _stage_split_half(spark, path, "train")


def stage_split_heldout(spark: SparkSession, path: str) -> DataFrame:
    """Terminal publish of the HELDOUT side (the eval corpus no
    training near-duplicate can leak into, by the split's cluster-
    granular construction)."""
    return _stage_split_half(spark, path, "heldout")


def stage_pii_redact(spark: SparkSession, path: str) -> DataFrame:
    """Scrub emails / IPv4 / phone numbers from a parent's (doc_id, text)
    output; emits the redacted text under the same column name so stages
    compose positionally. Zero shuffle."""
    docs = spark.read.parquet(path).select("doc_id", "text")
    return (pii_redact_frame(docs)
            .select("doc_id", F.col("redacted").alias("text")))


def _keep_first(docs: DataFrame) -> DataFrame:
    """Keep-first exact dedup of (doc_id, text): survivor = lowest doc_id
    per content hash. One shuffle keyed by md5(text) — constant-width key
    regardless of document size; the text travels once (it must:
    survivors' text is the output)."""
    win = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (docs.withColumn("_rn", F.row_number().over(win))
            .where(F.col("_rn") == 1).drop("_rn"))


def _pack_json(docs: DataFrame) -> DataFrame:
    """Pack (doc_id, text) into SEQ_LEN-token training bins (per-shard
    windows — no global order materialized) and serialize the bin table
    as canonical sorted JSONL in ONE partition, so the contentstore
    writer publishes a single deterministic blob and a run-invariant
    manifest address. The single-partition sort is over the BIN SUMMARY
    (thousands of rows at any corpus size), not the corpus; at larger
    outputs, repartitionByRange over (shard, bin_id) keeps the same
    determinism with parallel blobs."""
    bins = seq_pack_bins(
        docs.select("doc_id", F.size(words("text")).alias("n_tok")))
    return (bins.repartition(1)
            .sortWithinPartitions("shard", "bin_id")
            .select(F.to_json(F.struct("shard", "bin_id", "n_docs",
                                       "total_tokens")).alias("value")))


def stage_dedup(spark: SparkSession, path: str) -> DataFrame:
    """Keep-first exact dedup over a parent's (doc_id, text) output."""
    return _keep_first(spark.read.parquet(path).select("doc_id", "text"))


def stage_seq_pack(spark: SparkSession, path: str) -> DataFrame:
    """Terminal stage: a parent's (doc_id, text) output packed into bins
    and published as one canonical JSONL blob (_pack_json)."""
    return _pack_json(spark.read.parquet(path).select("doc_id", "text"))


# ---------------------------------------------------------------------------
# Contentstore-edged variants: EVERY DAG edge routed through the verified
# store (the round-5 verdict's item 6). The plain stages above hand off via
# shared-filesystem parquet — fine on the one-box devstack premise, but the
# reference mounts every input content-addressed (StorageSpec CIDs), so each
# edge here publishes canonical JSONL through the contentstore publish and
# the child reads it back through the verified source: a blob whose bytes no
# longer match its address fails the CHILD'S read task, making every
# stage-to-stage hand-off integrity-checked, not just the terminal manifest.
# ---------------------------------------------------------------------------

_DOC_SCHEMA = "doc_id bigint, text string"
_EDGE_PARTITIONS = 4  # fixed hash-partition count => deterministic blobs


def _publish_doc_rows(docs: DataFrame) -> DataFrame:
    """Serialize a (doc_id, text) frame to the store's (value string)
    contract as canonical JSONL, deterministically partitioned: fixed-n
    hash repartition by doc_id + within-partition sort makes every blob's
    bytes — and therefore its content address — a pure function of the
    data, so intermediate manifests are run-invariant too, not just the
    terminal one."""
    return (docs.repartition(_EDGE_PARTITIONS, "doc_id")
            .sortWithinPartitions("doc_id")
            .select(F.to_json(F.struct("doc_id", "text")).alias("value")))


def _read_doc_store(spark: SparkSession, root: str) -> DataFrame:
    """Mount the parent stage's published output via the VERIFIED
    contentstore source: the MANIFEST pointer names the blob set, every
    blob is re-hashed against its address at read (the HasStorageLocally
    probe plans it, the task-side check enforces it)."""
    from bacalhau_spark.sources import contentstore

    _, entries = contentstore.last_manifest(root)
    rows = contentstore.read_addresses(spark, root,
                                       [a for a, _ in entries])
    return (rows.select(F.from_json("value", _DOC_SCHEMA).alias("d"))
            .select("d.doc_id", "d.text"))


def stage_gopher_keep_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry stage, store-published: gopher-gated fixture documents as
    canonical (value) rows for the contentstore publish."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return _publish_doc_rows(gopher_keep(docs))


def stage_pii_redact_cs(spark: SparkSession, root: str) -> DataFrame:
    """PII scrub over a verified store mount; republishes to the store."""
    docs = _read_doc_store(spark, root)
    return _publish_doc_rows(
        pii_redact_frame(docs).select("doc_id",
                                      F.col("redacted").alias("text")))


def stage_dedup_cs(spark: SparkSession, root: str) -> DataFrame:
    """Keep-first exact dedup over a verified store mount (the
    stage_dedup plan); republishes to the store."""
    return _publish_doc_rows(_keep_first(_read_doc_store(spark, root)))


def stage_seq_pack_cs(spark: SparkSession, root: str) -> DataFrame:
    """Terminal stage over a verified store mount — the stage_seq_pack
    bin packing and single-blob serialization."""
    return _pack_json(_read_doc_store(spark, root))


# Engine-registry stages: runnable via `cli apply` / `cli pipeline` and
# the HTTP API, but NOT part of registry.queries() — they take a parent
# output path, not an sf_dir, so the sf-driven oracle harness cannot
# grade them (their cores are oracle-graded through the nd_* queries).
STAGES = {
    "stage_index_build": stage_index_build,
    "stage_pq_refresh": stage_pq_refresh,
    "stage_ivfpq_refresh": stage_ivfpq_refresh,
    "stage_crawl_extract": stage_crawl_extract,
    "stage_gopher_keep": stage_gopher_keep,
    "stage_pii_redact": stage_pii_redact,
    "stage_dedup": stage_dedup,
    "stage_split": stage_split,
    "stage_split_train": stage_split_train,
    "stage_split_heldout": stage_split_heldout,
    "stage_seq_pack": stage_seq_pack,
    "stage_gopher_keep_cs": stage_gopher_keep_cs,
    "stage_pii_redact_cs": stage_pii_redact_cs,
    "stage_dedup_cs": stage_dedup_cs,
    "stage_seq_pack_cs": stage_seq_pack_cs,
}
