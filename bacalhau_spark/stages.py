"""Path-reading pipeline stages: the corpus-curation verbs as engine jobs.

The oracle-graded queries in `operators/` read the fixture tables by
scale-factor directory. A DAG-of-jobs pipeline instead hands a PARENT
STAGE'S PUBLISHED OUTPUT to the child via the '@parent' token
(`engine.submit_pipeline`), so these stage functions take a plain path —
each reads whatever its parent published (`_read_docs`: a parquet
directory, or a contentstore root mounted through the verified read),
applies one curation verb (reusing the same core frame functions the
graded queries exercise), and returns the frame the engine publishes to
the stage's declared sink. The sink's `format:` is the one place an edge's
transport is chosen: a `format: contentstore` sink publishes canonical
JSON lines (`contentstore.json_lines`), and the child's read re-hashes
every blob against its address, so that hand-off is integrity-checked.

The flagship chain (examples/pipeline_curation.yaml, tested end-to-end in
tests/test_pipeline_dag.py) is the reference's ROADMAP pipelines item
(`ROADMAP.md:39-41`) instantiated as a real training-data flow:

    gopher_keep -> pii_redact -> dedup -> seq_pack (publish to contentstore)

The final stage publishes to the contentstore (`contentstore.publish`), so
the pipeline's end artifact is a content-addressed manifest whose address
is RUN-INVARIANT: re-running the whole DAG over the same fixture produces
the identical manifest address — the determinism contract the reference
states per-job (`pkg/executor/python_wasm/executor.go:48-73`), extended
across an entire DAG. examples/pipeline_curation_verified.yaml runs the
same stages with every edge through the store.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bacalhau_spark.catalog import table
from bacalhau_spark.functions import words
from bacalhau_spark.operators.curation import (gopher_keep, pii_redact_frame,
                                               seq_pack_bins)
from bacalhau_spark.sources import contentstore


_DOC_SCHEMA = "doc_id bigint, text string"


def _read_docs(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """A parent stage's published output as a frame of `schema`. A
    contentstore root (it holds the MANIFEST pointer) is mounted through
    `contentstore.read_root` (verified; an empty manifest reads as zero
    rows) and each JSON line parsed with `from_json`. Anything else is
    a parquet directory, read with `schema` so the call launches no
    footer job."""
    if not os.path.exists(os.path.join(path, "MANIFEST")):
        return spark.read.schema(schema).parquet(path)
    return (contentstore.read_root(spark, path)
            .select(F.from_json("value", schema).alias("d")).select("d.*"))


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


_DEDUP = "bacalhau_spark.operators.dedup"
_MEDIA = "bacalhau_spark.operators.multimodal"
_WEB = "bacalhau_spark.operators.web"
_SIM = "bacalhau_spark.operators.similarity"

# Every store kind the epoch ingest publishes, in row order: kind ->
# (builder module, builder name, the kind it follows in its chain). A
# builder calls the builders of the kinds before it in its chain (cand
# bands the signatures; the IVF cells, vectors and IVF-PQ kinds read the
# coarse quantizer; the PQ codebook reads the codes), and no builder
# calls into another chain. Builders are looked up when the ingest runs,
# so a wrapped or patched module attribute is the one called.
INDEX_KINDS = {
    "sig": (_DEDUP, "minhash_signature_index", None),
    "cand": (_DEDUP, "band_candidate_index", "sig"),
    "winnow": (_DEDUP, "winnow_posting_index", None),
    "phash": (_MEDIA, "phash_index", None),
    "aphash": (_MEDIA, "audio_phash_index", None),
    "vphash": (_MEDIA, "video_phash_index", None),
    "canon": (_WEB, "canon_index", None),
    "extract": (_WEB, "html_extract_index", None),
    "lshsig": (_SIM, "lsh_signature_index", None),
    "ivf_coarse": (_SIM, "ivf_coarse_index", None),
    "ivf_cells": (_SIM, "ivf_cells_index", "ivf_coarse"),
    "ivf_vectors": (_SIM, "ivf_vectors_index", "ivf_cells"),
    "pq_assign": (_SIM, "pq_code_index", None),
    "pq_cent": (_SIM, "pq_centroid_index", "pq_assign"),
    "ivfpq_codes": (_SIM, "ivfpq_code_index", "ivf_vectors"),
    "ivfpq_cent": (_SIM, "ivfpq_centroid_index", "ivfpq_codes"),
}


def _chains() -> tuple:
    """INDEX_KINDS as chains, in the order of their first kinds: one
    chain is built in order on one lane, so no kind is built twice."""
    chain_of: dict[str, list] = {}
    for kind, (_module, _attr, after) in INDEX_KINDS.items():
        chain_of[kind] = chain_of[after] if after else []
        chain_of[kind].append(kind)
    return tuple(tuple(c) for k, c in chain_of.items() if c[0] == k)


INGEST_CHAINS = _chains()


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


def index_ingest(spark: SparkSession, sf_dir: str,
                 kinds=INDEX_KINDS) -> list[tuple]:
    """Build and publish `kinds` (INDEX_KINDS by default) over sf_dir,
    chain by chain on parallel lanes (INGEST_CHAINS, run_in_lanes; a
    chain keeps only the selected kinds, and a builder still builds the
    kinds before it). Returns the store's commit-log view of each kind,
    in INDEX_KINDS order: (kind, n_rows, version, delta_parent). A
    published kind's row count comes from its manifest, a session-local
    frame is counted, and its version is 0."""
    from importlib import import_module

    from bacalhau_spark.sources.indexstore import published_manifest

    rows = {}

    def build(kind: str) -> None:
        module, attr, _after = INDEX_KINDS[kind]
        frame = getattr(import_module(module), attr)(spark, sf_dir)
        man = published_manifest(spark, frame) or {}
        n = man.get("n_rows")
        rows[kind] = (kind, frame.count() if n is None else n,
                      int(man.get("version", 0)),
                      man.get("props", {}).get("delta_parent") or "")

    chains = [tuple(k for k in chain if k in kinds)
              for chain in INGEST_CHAINS]
    run_in_lanes(spark, [c for c in chains if c], build)
    return [rows[k] for k in INDEX_KINDS if k in rows]


def stage_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry stage: the INDEX-INGEST job as a pipeline verb — pre-build
    and publish every persisted artifact family of the corpus (the
    per-doc indexes over documents and the trained-state kinds over
    embeddings) OFF the query path: the production shape where one
    ingest job per crawl epoch publishes the artifacts and every later
    consumer — batch query, streaming screen, next session — adopts. On
    an appended corpus the build delta-adopts (only new shards hashed;
    sources.indexstore.cached_index). Emits index_ingest's rows (kind,
    n_rows, version, delta_parent) — a deterministic function of the
    corpus content, so the stage output is graded like any other
    stage's."""
    return spark.range(1).select(F.inline(F.array(*[
        F.struct(F.lit(k).alias("kind"),
                 F.lit(n).cast("long").alias("n_rows"),
                 F.lit(v).alias("version"),
                 F.lit(dp).alias("delta_parent"))
        for k, n, v, dp in index_ingest(spark, sf_dir)])))


def stage_pq_refresh(spark: SparkSession, sf_dir: str,
                     parent_dir: str) -> DataFrame:
    """The STALENESS LOOP as a pipeline stage: the same consumer as the
    CLI verb, INSIDE the epoch-ingest DAG, so a scheduled pipeline
    (new crawl epoch lands -> refresh decision -> index publish) needs
    no operator in the loop. A MULTI-INPUT stage
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
    verb of a training-data pipeline): near-dup cluster labels over the
    PARENT'S corpus (whatever the dedup stage published, not a fixture),
    whole clusters assigned to one side by a deterministic md5 bucket of
    the label (dedup.leakage_safe_split_labels — the same rule the
    registered nd_leakage_safe_split audit hash-gates). Emits
    (doc_id, text, cluster_id, split); the per-split stages below filter
    it, so the split computes ONCE however many sides consume it."""
    from bacalhau_spark.operators.dedup import leakage_safe_split_labels

    docs = _read_docs(spark, path, _DOC_SCHEMA)
    return (docs.join(leakage_safe_split_labels(docs), "doc_id")
            .select("doc_id", "text", "cluster_id", "split"))


def _stage_split_half(spark: SparkSession, path: str,
                      which: str) -> DataFrame:
    return (_read_docs(spark, path, f"{_DOC_SCHEMA}, split string")
            .where(F.col("split") == which).select("doc_id", "text"))


def stage_split_train(spark: SparkSession, path: str) -> DataFrame:
    """The (doc_id, text) TRAIN side of a stage_split parent; published
    to a contentstore sink, the training corpus's manifest address is
    run-invariant."""
    return _stage_split_half(spark, path, "train")


def stage_split_heldout(spark: SparkSession, path: str) -> DataFrame:
    """The (doc_id, text) HELDOUT side (the eval corpus no training
    near-duplicate can leak into, by the split's cluster-granular
    construction)."""
    return _stage_split_half(spark, path, "heldout")


def stage_pii_redact(spark: SparkSession, path: str) -> DataFrame:
    """Scrub emails / IPv4 / phone numbers from a parent's (doc_id, text)
    output; emits the redacted text under the same column name so stages
    compose positionally. Zero shuffle."""
    return (pii_redact_frame(_read_docs(spark, path, _DOC_SCHEMA))
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
    return _keep_first(_read_docs(spark, path, _DOC_SCHEMA))


def stage_seq_pack(spark: SparkSession, path: str) -> DataFrame:
    """Terminal stage: a parent's (doc_id, text) output packed into bins
    and published as one canonical JSONL blob (_pack_json)."""
    return _pack_json(_read_docs(spark, path, _DOC_SCHEMA))


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
}
