"""Similarity search over embedding columns.

Three tiers, from exact to scale-out:

- q30_nn / nd_ann_topk: brute-force cosine — correct baseline, quadratic;
  bounded here to a query slice. At scale this is only sane when one side is
  small enough to broadcast (query batch ≪ corpus).
- nd_ann_lsh: random-hyperplane LSH — the 100 TB path. Each vector gets
  N_BANDS independent BAND_BITS-bit signatures from fixed
  (deterministically derived) hyperplanes; the candidate join is an equi
  join on the (band, signature) composite key — OR-of-bands semantics,
  recall 1-(1-p^K)^B (see the banding comment below) — so the cluster
  partitions by bucket and never forms the full cross product. Recall is
  tested against the brute-force baseline in tests (threshold, not hash).

All dot products use functions.dot_double — a JVM-side left fold, no UDFs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bacalhau_spark.catalog import read_parts, spread_compute, table
from bacalhau_spark.functions import cosine
from bacalhau_spark.session import SessionCache
from bacalhau_spark.sources.indexstore import (cached_index,
                                               docs_fingerprint,
                                               published_manifest,
                                               rowwise_index,
                                               scan_table_windows,
                                               table_part_paths)

_DOT_SQL = ("list_sum(list_transform(list_zip(a.embedding, b.embedding), "
            "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")

# Multi-band random-hyperplane LSH: B independent bands of K bits each.
# A pair is a candidate when ANY band's K-bit signature matches, so recall is
# 1-(1-p^K)^B for per-bit agreement p — banding trades index size (each row is
# indexed B times) for recall without widening any single bucket join.
N_BANDS = 8
BAND_BITS = 4
DIM = 64


def _pairs(spark: SparkSession, sf_dir: str, a_filter, b_filter):
    emb = table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("a_id"),
                   F.col("embedding").alias("a_emb")).where(a_filter)
    b = emb.select(F.col("vec_id").alias("b_id"),
                   F.col("embedding").alias("b_emb")).where(b_filter)
    return a, b


def q30_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force nearest neighbor on a 50-vector slice (Q30): min
    cosine *distance* per query, ties broken by vec_id — min_by is
    documented ARBITRARY on ties in BOTH engines, so an exact-distance
    tie (duplicate embeddings) could hash-diverge nondeterministically;
    the ranked-window form is deterministic (the nd_ann_topk
    convention). Embeddings are unit-normalized (FIXTURES.md §2), so
    distance = 1 - dot."""
    a, b = _pairs(spark, sf_dir, F.col("a_id") < 50, F.col("b_id") < 50)
    dist = 1 - cosine(F.col("a_emb"), F.col("b_emb"))
    w = Window.partitionBy("a_id").orderBy("d", "b_id")
    return (
        a.join(b, F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", dist.alias("d"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("a_id").alias("vec_id"),
                F.col("b_id").alias("nn"))
        .orderBy("vec_id")
    )


def nd_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= 0.4) on a 200-vector slice."""
    a, b = _pairs(spark, sf_dir, F.col("a_id") < 200, F.col("b_id") < 200)
    # Raw cosine output: the left-fold dot product is bit-identical across
    # engines (verified empirically), so no rounding is needed — or wanted
    # (ROUND-of-double is the cross-engine divergent op, see scalar.q04).
    cos = cosine(F.col("a_emb"), F.col("b_emb"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .where(cos >= 0.4)
        .select("a_id", "b_id", cos.alias("cos"))
        .orderBy("a_id", "b_id")
    )


def nd_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for the first 20 query vectors over
    the whole corpus. The query side is broadcast (tiny); the corpus streams.
    Ranking happens on the raw double, rounding only on output."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(F.col("vec_id").alias("vec_id"),
                   F.col("embedding").alias("q_emb")).where(F.col("vec_id") < 20)
    c = emb.select(F.col("vec_id").alias("nn"),
                   F.col("embedding").alias("c_emb"))
    cos = cosine(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_raw"), F.asc("nn"))
    return (
        F.broadcast(q).join(c, F.col("vec_id") != F.col("nn"))
        .select("vec_id", "nn", cos.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("vec_id", "rank", "nn", F.col("cos_raw").alias("cos"))
        .orderBy("vec_id", "rank")
    )


def _hyperplanes(band: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for one band: coefficient
    (band, p, d) is derived from md5, centered to [-1, 1]. Fixed model
    parameters, not data — computed driver-side once and inlined as
    literals."""
    planes = []
    for p in range(BAND_BITS):
        row = []
        for d in range(DIM):
            h = hashlib.md5(f"{band}:{p}:{d}".encode()).hexdigest()
            row.append(int(h[:2], 16) / 255.0 * 2 - 1)
        planes.append(row)
    return planes


def _coef_literals(coefs: list[float], suffix: str = "") -> str:
    """One plane's coefficients as SQL literals, shared by the Spark
    expression and the DuckDB oracle. repr() round-trips float64
    exactly, so both engines fold identical values; Spark needs the
    "D" suffix, since a bare decimal parses as DECIMAL there."""
    return ", ".join(repr(c) + suffix for c in coefs)


def _band_signatures_sql() -> str:
    """All N_BANDS K-bit random-hyperplane signatures of `embedding`
    as one Spark SQL array (JVM-side folds): per band, the left fold
    0 + sum over planes p of (dot_p >= 0 ? 2^p : 0), each dot a
    zip_with/aggregate fold over the plane's literals. One string is
    one parse, where a Column tree of the same expression costs ~15k
    Py4J calls to build."""
    bands = []
    for band in range(N_BANDS):
        sig = "0"
        for p, coefs in enumerate(_hyperplanes(band)):
            dot = (f"aggregate(zip_with(embedding, "
                   f"array({_coef_literals(coefs, 'D')}), "
                   f"(x, y) -> CAST(x AS DOUBLE) * y), "
                   f"0.0D, (acc, v) -> acc + v)")
            sig = f"({sig} + CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)"
        bands.append(sig)
    return f"array({', '.join(bands)})"


def embedding_band_signatures() -> Column:
    """The band-signature array over the `embedding` column."""
    return F.expr(_band_signatures_sql())


# The module's one model cache, per session: the trained coarse
# quantizer, the semantic-dedup histogram and the PCA basis.
_MODELS = SessionCache()


def lsh_signature_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared hyperplane-LSH signature index (vec_id, band, sig) — the
    minhash_signature_index lifecycle for the embedding plane: built
    once per embeddings content fingerprint, published to the persisted
    store, every consumer (the ANN probe, the bucket audit, the next
    session) scans the artifact."""
    def transform(emb):
        return (spread_compute(spark, emb.select("vec_id", "embedding"),
                               "vec_id")
                .select("vec_id",
                        F.posexplode(embedding_band_signatures())
                        .alias("band", "sig")))

    return rowwise_index(spark, sf_dir, "lshsig", transform,
                         tbl="embeddings")


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (q_id, nn) candidate pairs for the fixed query set
    (vec_id < 20): queries probe the shared persisted signature index
    on the (band, sig) key; a pair colliding in several bands appears
    once per band and dedups before any vector is fetched. The ONE
    candidate generator nd_ann_lsh ranks and nd_ann_lsh_candidates
    hash-gates."""
    sig = lsh_signature_index(spark, sf_dir)
    q_sig = (sig.where(F.col("vec_id") < 20)
             .select(F.col("vec_id").alias("q_id"), "band", "sig"))
    return (F.broadcast(q_sig)
            .join(sig.select(F.col("vec_id").alias("nn"), "band", "sig"),
                  ["band", "sig"])
            .where(F.col("q_id") != F.col("nn"))
            .select("q_id", "nn").distinct())


def nd_ann_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-gated candidate HALF of nd_ann_lsh (r13, shrinking the
    no_oracle surface): the exact (vec_id, nn) bucket-collision pair
    set the ANN probe ranks. The hyperplanes are literals and the dot
    is the same left fold both engines run (the bucketstats precedent),
    so membership is value-exact in SQL — only the float cosine RANKING
    stays recall-tested on nd_ann_lsh itself."""
    return (_lsh_candidate_pairs(spark, sf_dir)
            .select(F.col("q_id").alias("vec_id"), "nn")
            .orderBy("vec_id", "nn"))


def nd_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: top-3 per query among candidates that share at least
    one (band, signature) bucket. The candidate join is an equi join on
    (band, bucket) — at 100 TB the corpus index is hash-partitioned by that
    key and each query probes B buckets' worth of candidates, never the full
    cross product. Recall vs brute force stays threshold-tested in
    tests/ (the SEMANTICS are approximate); the IMPLEMENTATION is
    hash-gated end to end since round 14 (_ANN_LSH_ORACLE: exact
    candidate set + the bit-identical cosine fold re-rank)."""
    emb = table(spark, sf_dir, "embeddings")
    # LEAN signature table: (vec_id, band, sig) only — never drag the
    # embedding arrays through the explode and the bucket join (the r3
    # form computed the full signature lineage twice, once per join
    # branch, with 64-double arrays riding along; profiled 3.2s for a
    # 20k-pair candidate join at sf0.1). The index is tiny (#vectors x
    # #bands x 12 bytes), feeds both branches, and since round 11 lives
    # in the PERSISTED index store like every other shared index (build
    # once per embeddings fingerprint, probes scan the artifact across
    # sessions); embeddings are fetched per candidate PAIR via broadcast
    # joins afterwards — at corpus scale that is the classic two-phase
    # ANN read (index probe, then gather vectors for scoring).
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    # Gather shape (round-12 review): broadcast only the SMALL sides —
    # the 20 query vectors and then the bounded candidate probe — and
    # STREAM the corpus side. The first cut broadcast the full
    # unfiltered embeddings table on both sides, shipping every corpus
    # vector to every executor twice (inverted at 100 TB).
    q_emb = (emb.where(F.col("vec_id") < 20)
             .select(F.col("vec_id").alias("q_id"),
                     F.col("embedding").alias("q_emb")))
    c_emb = emb.select(F.col("vec_id").alias("nn"),
                       F.col("embedding").alias("c_emb"))
    cos = cosine(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_raw"), F.asc("nn"))
    return (
        F.broadcast(pairs.join(F.broadcast(q_emb), "q_id"))
        .join(c_emb, "nn")
        .select(F.col("q_id").alias("vec_id"), "nn", cos.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("vec_id", "rank", "nn", F.col("cos_raw").alias("cos"))
        .orderBy("vec_id", "rank")
    )


def nd_ann_lsh_bucketstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index structure audit — the hash-gated companion to nd_ann_lsh:
    the full (band, signature) bucket histogram. Exactly reproducible in SQL
    (the hyperplanes are literals, the dot is the same left fold), so the
    driver gets a hard correctness row for the LSH plumbing while recall
    itself stays threshold-tested. Operationally this is the index-skew
    report you'd run before shipping an index: a band whose buckets collapse
    to one signature means dead hyperplanes. Reads the shared persisted
    signature index (one aggregate over the artifact)."""
    sig = lsh_signature_index(spark, sf_dir)
    return (sig.groupBy("band", "sig")
            .agg(F.count("*").alias("n_vectors"))
            .orderBy("band", "sig"))


N_CLUSTERS = 16
NPROBE = 4
NPROBE_PCA = 6


# Builder revision for the IVF plane (coarse quantizer, cells, IVF-PQ
# codes + residual codebook). rev=2 since round 14: the coarse training
# moved from session-local float AVGs (numpy dot-argmax assignment,
# normalized float centroids — never SQL-replayable, and pre-r14 never
# even persisted) to the INTEGER-EXACT kmeans convention — quantized
# coords, integer squared-distance argmin with a (d, cluster)
# tie-break, sum-DIV-count means — and residuals became pure integer
# deltas (q_v - cq + IVFPQ_OFF, no float roundtrip). Same content would
# otherwise adopt the old-rule artifacts.
IVF_REV = 2


def _ivf_q_exploded(emb: DataFrame) -> DataFrame:
    """(vec_id, dim, q) — the quantized integer coords of an embedding
    frame, envelope-guarded like the kmeans core (sum DIV count is only
    floor-exact on nonnegatives)."""
    qcol = (F.floor(F.col("v").cast("double") * F.lit(KM_SCALE))
            .cast("long") + F.lit(KM_OFF))
    qsafe = F.when(qcol >= 0, qcol).otherwise(F.expr(
        "raise_error(concat('ivf: quantized embedding < 0 for vec_id ',"
        " CAST(vec_id AS STRING), ' — embedding value below "
        f"-{KM_OFF}/{KM_SCALE}; widen KM_OFF'))").cast("long"))
    return (emb.select("vec_id",
                       F.posexplode("embedding").alias("dim", "v"))
            .select("vec_id", "dim", qsafe.alias("q")))


def ivf_coarse_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained IVF coarse quantizer as a PERSISTED store artifact:
    (cluster int, dim int, cq long) — K x DIM rows, published under the
    embeddings content key like every other trained-state index.
    Pre-r14 the quantizer was SESSION state (retrained per process with
    scheduling-dependent float AVGs), so a session ADOPTING the
    published IVF-PQ code table could pair it with a subtly different
    quantizer than the codes were assigned under — the exact
    adoption-never-changes-results violation the store exists to
    prevent. Training is the kmeans convention (INTEGER-EXACT, so the
    ANN oracles replay it): deterministic seeds (first K vectors'
    quantized coords) + one Lloyd refinement — integer squared-distance
    argmin with a (d, cluster) tie-break, sum-DIV-count means."""
    def build():
        e = _ivf_q_exploded(table(spark, sf_dir, "embeddings")
                            .select("vec_id", "embedding"))
        c0 = (e.where(F.col("vec_id") < N_CLUSTERS)
              .select(F.col("vec_id").cast("int").alias("cluster"),
                      "dim", F.col("q").alias("cq")))
        d1 = (e.join(F.broadcast(c0), "dim")
              .groupBy("vec_id", "cluster")
              .agg(F.sum((F.col("q") - F.col("cq"))
                         * (F.col("q") - F.col("cq"))).alias("d")))
        a1 = (d1.groupBy("vec_id")
              .agg(F.min(F.struct("d", "cluster")).alias("m"))
              .select("vec_id", F.col("m.cluster").alias("cluster")))
        return (e.join(a1, "vec_id")
                .groupBy("cluster", "dim")
                .agg(F.expr("sum(q) DIV count(*)").alias("cq")))

    return cached_index(spark, sf_dir, "ivf_coarse", build,
                        tbl="embeddings", rev=IVF_REV)


def _ivf_coarse_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster, cq_arr array<long>) — the published quantizer rows
    folded to per-cluster arrays for the fold-based assignment."""
    return (ivf_coarse_index(spark, sf_dir)
            .groupBy("cluster")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cq"))),
                lambda x: x["cq"]).alias("cq_arr")))


def _ivf_assign_ranked(emb: DataFrame, coarse_arr: DataFrame) -> DataFrame:
    """(vec_id, cluster, arank) — EXACT integer cell ranking of an
    embedding frame against the published quantizer: quantize, one
    16-way broadcast join, integer squared-distance fold, (d, cluster)
    tie-break. Bit-replayable in SQL (integer sums commute), and
    measured fast — the plain zip_with fold does ~4M 64-dim pairs in
    1.5 s, so the numpy matmul this replaces (r13 and earlier) bought
    nothing at these candidate volumes."""
    q_arr = F.expr(
        f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) "
        f"* {KM_SCALE}) AS BIGINT) + {KM_OFF})")
    d = F.aggregate(
        F.zip_with(F.col("q_arr"), F.col("cq_arr"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    wa = Window.partitionBy("vec_id").orderBy("d", "cluster")
    return (emb.select("vec_id", q_arr.alias("q_arr"))
            .crossJoin(F.broadcast(coarse_arr))
            .select("vec_id", "cluster", d.alias("d"))
            .withColumn("arank", F.row_number().over(wa))
            .select("vec_id", "cluster", "arank"))


def _coarse_rows(spark: SparkSession,
                 sf_dir: str) -> list[tuple[int, list[int]]]:
    """The published quantizer as driver-side model state (K x DIM
    integers — the trained-quantizer collect pattern), session-cached
    per (app, table fingerprint) so the per-query probe expression
    never re-reads the store."""
    return _MODELS.get_or_make(
        spark, ("coarse", *_emb_cache_key(sf_dir)),
        lambda: sorted((int(r["cluster"]), [int(v) for v in r["cq_arr"]])
                       for r in _ivf_coarse_arrays(spark, sf_dir)
                       .collect()))


def _probe_cells_expr(rows: list[tuple[int, list[int]]],
                      nprobe: int) -> Column:
    """array<int> of the `nprobe` nearest cells for the row's
    `embedding` — the quantizer inlined as literals so the whole probe
    ranking runs INSIDE the scan stage (no join, no window: the
    frame-based _ivf_assign_ranked form paid ~1 s of stage launches
    for 20 query rows). Identical math and (d, cluster) tie-break:
    array_sort over (d, cl) structs is the same total order the
    ranking window uses, so probe sets match the oracle's ivr2 rows
    exactly."""
    cents = "array(" + ", ".join(
        f"named_struct('cl', {cl}, 'cq', array("
        + ", ".join(f"{v}L" for v in arr) + "))"
        for cl, arr in rows) + ")"
    return F.expr(
        f"transform(slice(array_sort(transform({cents}, c -> "
        f"named_struct('d', aggregate(zip_with("
        f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) "
        f"* {KM_SCALE}) AS BIGINT) + {KM_OFF}), c.cq, "
        f"(x, cv) -> (x - cv) * (x - cv)), CAST(0 AS BIGINT), "
        f"(acc, v) -> acc + v), 'cl', c.cl))), 1, {nprobe}), "
        f"s -> s.cl)")


def ivf_cells_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared persisted corpus cell assignment (vec_id, cluster) under
    the published coarse quantizer — the inverted-file half of IVF: at
    100 TB this is the table the corpus is hash-partitioned/bucketed by,
    so a query's candidate fetch touches NPROBE/K of the data. One
    4-byte cell id per vector; build once per content, every probe
    scans the artifact."""
    def build():
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding")
        return (_ivf_assign_ranked(
            emb, _ivf_coarse_arrays(spark, sf_dir))
            .where(F.col("arank") == 1)
            .select("vec_id", "cluster"))

    return cached_index(spark, sf_dir, "ivf_cells", build,
                        tbl="embeddings", rev=IVF_REV)


# Layout rule for the published inverted file. File count scales with
# source bytes toward IVF_VEC_TARGET_BYTES per file, floored at K (one
# file per cell — the canonical inverted-file layout) and capped at
# 256 locally (at 100 TB the cap is the object store's, not ours).
# The cluster key is chosen by scale: while files <= K, a SINGLE-key
# range on cell id aligns every file boundary exactly to a cell edge
# (range sampling on a composite key would put a cell boundary inside
# most files, and with one file per cell that doubles what a probe
# opens — measured 6-8/16 vs the aligned 4/16); past K files the
# COMPOSITE (cluster, vec_id) takes over so files-per-cell can exceed
# 1, and the ~K boundary-spanning files amortize to noise. Layout
# choices here affect PRUNING QUALITY only, never row content — an
# artifact published under either layout adopts with identical query
# results, so this is not a builder-rev concern.
IVF_VEC_TARGET_BYTES = 32 * 1024 * 1024


def _ivf_vec_layout(sf_dir: str) -> dict:
    n = sum(os.path.getsize(p)
            for p in table_part_paths(sf_dir, "embeddings"))
    files = max(N_CLUSTERS, min(256, -(-n // IVF_VEC_TARGET_BYTES)))
    keys = (["cluster"] if files <= N_CLUSTERS
            else ["cluster", "vec_id"])
    return {"cluster_by": keys, "cluster_files": files}


def ivf_vectors_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INVERTED FILE itself as a persisted store artifact:
    (cluster, vec_id, embedding) — the corpus vectors physically
    re-clustered by their coarse cell, published range-CLUSTERED on
    the scale-chosen key (_ivf_vec_layout; write_version cluster_by)
    so every file covers a contiguous, footer-stat-recorded cell
    range. This is the
    standard IVF storage trade: one re-clustered copy of the vectors
    buys every probe a candidate fetch that OPENS only the probed
    cells' files — nd_ann_ivf's "at 100 TB the corpus is partitioned
    by cell" claim made physical and measurable (pruned_file_count)
    instead of argued. Rebuild-only like the other trained-state
    kinds: cell assignment is a global function of the trained
    quantizer, so a delta union would not equal a rebuild after the
    quantizer moves."""
    def build():
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding")
        return (emb.join(ivf_cells_index(spark, sf_dir), "vec_id")
                .select("cluster", "vec_id", "embedding"))

    return cached_index(
        spark, sf_dir, "ivf_vectors", build, tbl="embeddings",
        rev=IVF_REV, write_kwargs=_ivf_vec_layout(sf_dir))


def ivf_vectors_pruned(spark: SparkSession, sf_dir: str,
                       cells: list[int]) -> DataFrame:
    """Selective candidate fetch from the published inverted file: a
    manifest-stat pruned read (`cluster in cells`) that opens only the
    files whose recorded cell range intersects the probe set — the
    two-phase ANN read with the gather phase actually skipping data.
    Falls back to a row filter when the frame is session-local (an
    unusable store, an empty head, or a head the store refused to
    adopt) — correctness never depends on pruning."""
    from bacalhau_spark.sources import versioned

    frame = ivf_vectors_index(spark, sf_dir)  # ensures built/published
    if not cells:
        # no probed cells (no query rows): empty result, and the
        # fallback's isin(*[]) below would raise
        return frame.where(F.lit(False))
    man = published_manifest(spark, frame)
    if man is None:
        return frame.where(F.col("cluster").isin(*cells))
    return versioned.read_version(
        spark, man["root"], version=man["version"],
        predicate=[("cluster", "in", tuple(cells))])


def nd_ann_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN over the PUBLISHED inverted file (ivf_vectors_index)
    with a manifest-stat PRUNED candidate fetch — identical semantics,
    probe rule, and output to nd_ann_ivf (the two rows share
    _ANN_IVF_ORACLE), but the gather phase reads the re-clustered
    artifact selectively instead of scanning the corpus: the union of
    the queries' probed cells becomes a `cluster in (...)` predicate
    whose file pruning the manifest's per-file cell ranges decide. The
    candidate vectors travel IN the artifact (IVF-Flat's layout), so no
    second corpus scan exists. The probed-cell collect is bounded by K
    (N_CLUSTERS) regardless of corpus size; a single query's fetch
    opens ~NPROBE/K of the files (the graded 20-query row unions most
    cells at fixture scale — tests and
    experiments/ivf_prune_r14.txt measure the single-probe pruning
    directly)."""
    emb = table(spark, sf_dir, "embeddings")
    probes = (emb.where(F.col("vec_id") < 20)
              .select(F.col("vec_id").alias("q_id"),
                      F.explode(_probe_cells_expr(
                          _coarse_rows(spark, sf_dir), NPROBE))
                      .alias("cluster")))
    cells = sorted(int(r["cluster"]) for r in
                   probes.select("cluster").distinct().collect())
    cand = ivf_vectors_pruned(spark, sf_dir, cells)
    qv = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"))
    cos = cosine(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_raw"),
                                             F.asc("nn"))
    return (
        cand.select(F.col("vec_id").alias("nn"), "cluster",
                    F.col("embedding").alias("c_emb"))
        .join(F.broadcast(probes), "cluster")
        .where(F.col("q_id") != F.col("nn"))
        .join(F.broadcast(qv), "q_id")
        .select(F.col("q_id").alias("vec_id"), "nn", cos.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("vec_id", "rank", "nn", F.col("cos_raw").alias("cos"))
        .orderBy("vec_id", "rank")
    )


def nd_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: corpus vectors are partitioned into K coarse cells
    (nearest centroid, read from the persisted ivf_cells artifact);
    each query probes its NPROBE nearest cells only. The candidate join
    is an equi join on cell id — at 100 TB the corpus is
    hash-partitioned (or bucketed) by cell, so a query touches NPROBE/K
    of the data.

    HASH-GATED END TO END since round 14 (_ANN_IVF_ORACLE): coarse
    training is the integer-exact kmeans convention (ivf_coarse_index),
    cell assignment is the integer squared-distance argmin with a
    (d, cluster) tie-break, and the re-rank is the bit-identical cosine
    fold over every probed candidate (IVF-Flat's semantics — exact
    scoring inside probed cells). The numpy matmul path this replaces
    bought nothing at these volumes (fold: ~4M pairs/1.5 s). Recall vs
    brute force stays threshold-tested in tests/ — the SEMANTICS are
    approximate, the implementation no longer is."""
    emb = table(spark, sf_dir, "embeddings")
    # probe cells rank inside the query scan (literal quantizer); the
    # candidate (q_id, nn) pairs come from the persisted cells table
    # alone, and vectors are gathered afterwards via ONE corpus scan +
    # broadcasts — the two-phase ANN read (index probe, then gather)
    probes = (emb.where(F.col("vec_id") < 20)
              .select(F.col("vec_id").alias("q_id"),
                      F.explode(_probe_cells_expr(
                          _coarse_rows(spark, sf_dir), NPROBE))
                      .alias("cluster")))
    # candidate pairs scale with the CORPUS (n_queries x n x NPROBE/K
    # rows), so only the bounded sides broadcast — probes (queries x
    # NPROBE) and the query vectors; cand joins the corpus scan on nn
    # as an ordinary shuffle equi join (r14 review: broadcasting cand
    # ships an O(n) frame to every executor, the exact shape the
    # docstring's gather claim forbids)
    cand = (ivf_cells_index(spark, sf_dir)
            .select(F.col("vec_id").alias("nn"), "cluster")
            .join(F.broadcast(probes), "cluster")
            .where(F.col("q_id") != F.col("nn"))
            .select("q_id", "nn"))
    cv = emb.select(F.col("vec_id").alias("nn"),
                    F.col("embedding").alias("c_emb"))
    qv = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    cos = cosine(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_raw"), F.asc("nn"))
    return (
        cv.join(cand, "nn")
        .join(F.broadcast(qv), "q_id")
        .select(F.col("q_id").alias("vec_id"), "nn", cos.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("vec_id", "rank", "nn", F.col("cos_raw").alias("cos"))
        .orderBy("vec_id", "rank")
    )


def nd_ann_ivf_cellstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF partitioning audit — the hash-gated companion to nd_ann_ivf: the
    per-cell vector histogram under the SEED quantizer (first K vectors as
    centroids, no Lloyd step — the trained quantizer is iterative and
    driver-side, but the partitioning machinery is identical). Assignment
    uses the JVM-side cosine fold, not the numpy matmul: BLAS reorders the
    accumulation, and only the sequential fold is bit-identical with the
    oracle's list_sum. Ties (improbable on continuous dots) break to the
    lowest cell id via the window order."""
    emb = table(spark, sf_dir, "embeddings")
    cent = (emb.where(F.col("vec_id") < N_CLUSTERS)
            .select(F.col("vec_id").alias("cluster"),
                    F.col("embedding").alias("c_emb")))
    d = cosine(F.col("embedding"), F.col("c_emb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("d"), F.asc("cluster"))
    assigned = (emb.crossJoin(F.broadcast(cent))
                .select("vec_id", "cluster", d.alias("d"))
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1))
    return (assigned.groupBy("cluster")
            .agg(F.count("*").alias("n_vectors"))
            .orderBy("cluster"))


def nd_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics (first 8 dimensions): component mean +
    stddev per (label, dim) — the E-step building block of distributed
    k-means and the per-class embedding-drift audit. posexplode turns the
    vector column into (dim, value) rows; the aggregate shuffles one row
    per (label, dim) after map-side combine, independent of corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .where(F.col("dim") < 8)
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("mean_v"),
             F.round(F.stddev_samp("v"), 6).alias("sd_v"))
        .orderBy("label", "dim")
    )


def nd_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene scan: dimension count and L2 norm per vector (the
    pre-index validation pass — catches zero/denormal vectors before they
    poison cosine math). Left-fold sum of squares then sqrt: bit-identical
    across engines, so the norms hash-match raw."""
    emb = table(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x),
        F.lit(0.0), lambda acc, v: acc + v)
    return (
        emb.select("vec_id", F.size("embedding").alias("dim"),
                   F.sqrt(sumsq).alias("l2_norm"))
        .orderBy("vec_id")
    )


def _planes_sql() -> str:
    """Hyperplane coefficients as SQL literals (band, plane, DOUBLE[64]).
    repr() round-trips float64 exactly, so both engines fold identical
    coefficient values."""
    rows = []
    for band in range(N_BANDS):
        for p, coefs in enumerate(_hyperplanes(band)):
            arr = f"[{_coef_literals(coefs)}]"
            rows.append(f"({band}, {p}, {arr}::DOUBLE[])")
    return ", ".join(rows)


# THE signature CTE chain (planes -> dots -> sig), stated once for the
# two LSH oracles — the bit layout cannot drift between them.
_LSH_SIG_CTES = f"""planes(band, p, coefs) AS (VALUES {_planes_sql()}),
dots AS (SELECT e.vec_id, pl.band, pl.p,
         list_sum(list_transform(list_zip(e.embedding, pl.coefs),
                  z -> CAST(z[1] AS DOUBLE) * z[2])) AS d
         FROM embeddings e CROSS JOIN planes pl),
sig AS (SELECT vec_id, CAST(band AS INTEGER) AS band,
               CAST(SUM(CASE WHEN d >= 0
                        THEN (1 << CAST(p AS INTEGER)) ELSE 0 END)
                    AS INTEGER) AS sig
        FROM dots GROUP BY vec_id, band)"""

_LSH_BUCKETSTATS_ORACLE = f"""
WITH {_LSH_SIG_CTES}
SELECT band, sig, COUNT(*) AS n_vectors
FROM sig GROUP BY band, sig ORDER BY band, sig
"""

_LSH_CANDIDATES_ORACLE = f"""
WITH {_LSH_SIG_CTES}
SELECT DISTINCT q.vec_id, s.vec_id AS nn
FROM sig q JOIN sig s ON q.band = s.band AND q.sig = s.sig
WHERE q.vec_id < 20 AND s.vec_id <> q.vec_id
ORDER BY q.vec_id, nn
"""

# End-to-end LSH retrieval oracle (round 14, the _ANN_PQ_ORACLE
# convention): the candidate set is value-exact in SQL (literal
# hyperplanes + the shared left fold) and the re-rank cosine is the
# same bit-identical fold, so the whole probe — bucket collision ->
# gather -> exact rank — hash-gates with no recall tolerance.
_ANN_LSH_ORACLE = f"""
WITH {_LSH_SIG_CTES},
cand AS (SELECT DISTINCT q.vec_id AS qid, s.vec_id AS nn
         FROM sig q JOIN sig s ON q.band = s.band AND q.sig = s.sig
         WHERE q.vec_id < 20 AND s.vec_id <> q.vec_id)
SELECT vec_id, rank, nn, cos FROM
(SELECT c.qid AS vec_id, c.nn AS nn, {_DOT_SQL} AS cos,
        ROW_NUMBER() OVER (PARTITION BY c.qid
                           ORDER BY {_DOT_SQL} DESC, c.nn) AS rank
 FROM cand c JOIN embeddings a ON a.vec_id = c.qid
             JOIN embeddings b ON b.vec_id = c.nn) t
WHERE rank <= 3 ORDER BY vec_id, rank
"""

_IVF_CELLSTATS_ORACLE = f"""
WITH cent AS (SELECT vec_id AS cluster, embedding AS c_emb
              FROM embeddings WHERE vec_id < {N_CLUSTERS}),
s AS (SELECT e.vec_id, c.cluster,
      list_sum(list_transform(list_zip(e.embedding, c.c_emb),
               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS d
      FROM embeddings e CROSS JOIN cent c),
a AS (SELECT vec_id, cluster FROM s
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY d DESC, cluster) = 1)
SELECT cluster, COUNT(*) AS n_vectors FROM a GROUP BY cluster ORDER BY cluster
"""


def nd_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8-style quantization (min/max affine, 0..255 codes)
    with reconstruction-error audit — the storage-compression step before
    an ANN index ships (4x smaller than float32; IVF/LSH probe the codes,
    rerank on floats). Quantization params (lo/hi/scale) are PROJECTED
    before the per-element transform references them — the HOF
    re-evaluation trap again: inlined array_min/array_max would recompute
    per element. Every arithmetic step is an identical double-op sequence
    in both engines, so codes AND the max-error doubles hash exactly.
    Per-row codegen; zero shuffle."""
    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "embedding",
        F.array_min("embedding").cast("double").alias("lo"),
        F.array_max("embedding").cast("double").alias("hi"),
    ).withColumn("scale", (F.col("hi") - F.col("lo")) / F.lit(255.0))
    lo, scale = F.col("lo"), F.col("scale")
    coded = base.withColumn(
        "codes",
        F.when(F.col("hi") > F.col("lo"),
               F.transform("embedding",
                           lambda v: F.floor((v.cast("double") - lo) / scale
                                             + F.lit(0.5)).cast("int")))
        .otherwise(F.transform("embedding", lambda v: F.lit(0))))
    err = F.array_max(F.zip_with(
        "codes", "embedding",
        lambda c, v: F.abs(lo + c.cast("double") * scale
                           - v.cast("double"))))
    return (
        coded.select(
            "vec_id", "lo", "hi",
            F.aggregate("codes", F.lit(0).cast("long"),
                        lambda a, v: a + v).cast("int").alias("q_sum"),
            F.col("codes")[0].alias("q0"),
            err.alias("max_err"),
        )
        .orderBy("vec_id")
    )


_QUANTIZE_ORACLE = """
WITH b AS (SELECT vec_id, embedding,
  CAST(list_min(embedding) AS DOUBLE) AS lo,
  CAST(list_max(embedding) AS DOUBLE) AS hi FROM embeddings),
s AS (SELECT *, (hi - lo) / 255.0 AS scale FROM b),
c AS (SELECT vec_id, lo, hi, scale, embedding,
  CASE WHEN hi > lo THEN list_transform(embedding,
    v -> CAST(floor((CAST(v AS DOUBLE) - lo) / scale + 0.5) AS INTEGER))
  ELSE list_transform(embedding, v -> 0) END AS codes FROM s)
SELECT vec_id, lo, hi,
  CAST(list_sum(codes) AS INTEGER) AS q_sum,
  codes[1] AS q0,
  list_max(list_transform(list_zip(codes, embedding),
    p -> abs(lo + p[1] * scale - CAST(p[2] AS DOUBLE)))) AS max_err
FROM c ORDER BY vec_id
"""

SEMDEDUP_SIGN_BITS = 8
SEMDEDUP_SUB_BITS = 16
SEMDEDUP_BUCKET_CAP = 50
SEMDEDUP_TAU = 0.3


def _sign_bucket(nbits: int):
    """The first `nbits` coordinate-sign bits folded into one int — the
    deterministic hyperplane LSH key, stated once for the 8-bit coarse
    key and the 16-bit escalation key (and mirrored verbatim in the
    oracle's range()/list_transform fold)."""
    return sum(
        (F.when(F.element_at("embedding", i + 1) >= 0, F.lit(1 << i))
         .otherwise(F.lit(0)) for i in range(nbits)),
        start=F.lit(0)).cast("int")


def _emb_cache_key(sf_dir: str) -> tuple:
    """Session-model cache key for embeddings-derived state: realpath +
    a size/mtime fingerprint of the embeddings table, the index store's
    tier-1 convention (keying on the path alone would let a fixture
    rewritten in place mid-session serve a stale sign histogram / PCA
    basis, so escalation and projection decisions could diverge from
    the oracle run over the new bytes)."""
    return (os.path.realpath(sf_dir),
            docs_fingerprint(sf_dir, "embeddings"))


def _semantic_bucket_model(spark: SparkSession,
                           sf_dir: str) -> dict[int, int]:
    """{b16 sign key: count} over the corpus — BOUNDED model state
    (≤2^16 entries regardless of corpus size, the centroid-collect
    pattern): one map-side-combined aggregate, collected once per
    (session, fixture) and cached like the IVF quantizer. The low 8
    bits of the 16-bit key ARE the 8-bit key, so this one histogram
    answers both the escalation decision (per-b8 rollup) and the final
    per-bucket cap gate without any second pass."""
    def fit() -> dict[int, int]:
        emb = table(spark, sf_dir, "embeddings")
        rows = (emb.select(_sign_bucket(SEMDEDUP_SUB_BITS).alias("b16"))
                .groupBy("b16").agg(F.count("*").alias("n16")).collect())
        return {int(r["b16"]): int(r["n16"]) for r in rows}

    return _MODELS.get_or_make(
        spark, ("semdedup", *_emb_cache_key(sf_dir)), fit)


def _semantic_bucket_rules(model: dict[int, int]) \
        -> tuple[list[int], list[int]]:
    """(hot 8-bit keys, excluded final buckets) from the histogram:
    an 8-bit bucket above the cap escalates its members to 16-bit
    sub-buckets; a sub-bucket STILL above the cap is excluded from
    pair generation (its members are kept). Cold 8-bit buckets are
    ≤ cap by definition and are never excluded."""
    from collections import Counter
    n8: Counter = Counter()
    for b16, n in model.items():
        n8[b16 % 256] += n
    hot8 = sorted(b for b, n in n8.items() if n > SEMDEDUP_BUCKET_CAP)
    hotset = set(hot8)
    excluded = sorted(
        b16 + (1 << SEMDEDUP_SUB_BITS)
        for b16, n in model.items()
        if b16 % 256 in hotset and n > SEMDEDUP_BUCKET_CAP)
    return hot8, excluded


def _semantic_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, bucket): the final bucket per vector after
    the hot-bucket escalation — members of 8-bit buckets above
    SEMDEDUP_BUCKET_CAP re-key on SEMDEDUP_SUB_BITS sign bits, offset
    by 1<<SUB_BITS so the two key spaces never collide.

    The escalate decision compiles to PURE CODEGEN against the
    collected histogram's hot-key literals (Catalyst turns the IN list
    into an InSet hash probe): one corpus scan, no count joins, no
    broadcast jobs, never a window over the hot key (which would sort
    the entire hot orthant in one task). The first capped cut derived
    the counts as DataFrame branches — re-scanning the corpus per
    branch, measured 2x the uncapped form at sf0.1; a ≤2^16-entry
    model collect is strictly cheaper at every scale."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    hot8, _excluded = _semantic_bucket_rules(
        _semantic_bucket_model(spark, sf_dir))
    base = emb.select("vec_id", "embedding",
                      _sign_bucket(SEMDEDUP_SUB_BITS).alias("b16"))
    b8 = F.col("b16") % 256
    bucket = (F.when(b8.isin(hot8),
                     F.col("b16") + F.lit(1 << SEMDEDUP_SUB_BITS))
              .otherwise(b8) if hot8 else b8)
    return base.select("vec_id", "embedding",
                       bucket.cast("int").alias("bucket"))


_SEMDEDUP_PAIR_EXPAND = (
    "flatten(transform(ms, (a, i) -> "
    "transform(slice(ms, i + 2, size(ms)), "
    "b -> struct(a.vec_id AS a_id, b.vec_id AS b_id, "
    "a.embedding AS a_emb, b.embedding AS b_emb))))")


def nd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-space dedup: coarse-partition the corpus
    into deterministic sign-pattern buckets (the sign of the first
    SEMDEDUP_SIGN_BITS dims folded into one int — a data-independent
    hyperplane LSH whose planes are the coordinate axes), then screen
    WITHIN each bucket: a vector is dropped when any lower-id bucket-mate
    has cosine >= SEMDEDUP_TAU with it (greedy keep-first against all
    earlier ids — deterministic and non-recursive, unlike connected
    components; nd_dedup_clusters is the transitive variant for the text
    families). Emits (vec_id, bucket, kept).

    Scale shape (capped bucket-and-expand — the sibling screens'
    quadratic guard): real encoder embeddings are NOT
    sign-balanced (post-ReLU / mean-offset representations concentrate
    mass in a few orthants), so "each added bit halves expected bucket
    size" fails exactly where the screen matters — one hot orthant
    degrades an uncapped bucket join to O(n²). The plan instead: (1)
    ONE map-side-combined histogram over the 16-bit sign key — bounded
    model state (≤2^16 entries at any corpus size), collected once per
    session and compiled to InSet codegen literals (never a window over
    the skewed key, which would serialize the hot bucket into one
    sorted partition); (2) members of 8-bit buckets above
    SEMDEDUP_BUCKET_CAP deterministically SUB-BUCKET on
    SEMDEDUP_SUB_BITS sign bits (offset past the 8-bit key space); (3)
    buckets still above the cap after escalation are excluded from pair
    generation entirely (their members are kept — the same lenient-on-
    pathology semantics as buckets.BUCKET_CAP, and the
    oracle states the identical rule); (4) surviving buckets — provably
    ≤ cap members — collect (vec_id, embedding) lists and expand a<b
    pairs in codegen (bucket-and-expand, never a pair self-join), so
    per-task pair work is bounded by cap²/2 regardless of corpus skew.
    Production SemDeDup uses k-means cells the same way — the IVF cells
    of nd_ann_ivf would slot in here; sign buckets are the
    deterministic/oracle-able stand-in. The dot product is the
    bit-identical left fold (_DOT_SQL), so kept flags are hash-exact.

    Reference intent: the dedup job family run over bacalhau-style
    embedding shards (docs/examples analog), re-expressed as one
    declarative plan."""
    assigned = _semantic_assignment(spark, sf_dir)
    _hot8, excluded = _semantic_bucket_rules(
        _semantic_bucket_model(spark, sf_dir))
    gated = (assigned.where(~F.col("bucket").isin(excluded))
             if excluded else assigned)
    # no array_sort: each unordered pair is emitted exactly once by
    # POSITION, and greatest() names the dropped (larger-id) side —
    # per-element products commute, so the cosine fold is bit-identical
    # under either operand order and the kept set cannot depend on the
    # collect order
    buckets = (gated.groupBy("bucket")
               .agg(F.collect_list(F.struct("vec_id", "embedding"))
                    .alias("ms"))
               .where(F.size("ms") >= 2))
    dropped = (buckets.select(
                   F.explode(F.expr(_SEMDEDUP_PAIR_EXPAND)).alias("p"))
               .select("p.a_id", "p.b_id", "p.a_emb", "p.b_emb")
               .where(cosine(F.col("a_emb"), F.col("b_emb"))
                      >= SEMDEDUP_TAU)
               .select(F.greatest("a_id", "b_id").alias("vec_id"))
               .distinct()
               .withColumn("hit", F.lit(True)))
    return (assigned.select("vec_id", "bucket")
            .join(dropped, "vec_id", "left")
            .select("vec_id", "bucket",
                    F.col("hit").isNull().alias("kept"))
            .orderBy("vec_id"))


_SEMDEDUP_ORACLE = f"""
WITH s AS (
  SELECT vec_id, embedding,
         CAST(list_sum(list_transform(range({SEMDEDUP_SIGN_BITS}), i ->
             CASE WHEN embedding[i+1] >= 0 THEN 1 << i ELSE 0 END))
              AS INTEGER) AS b8,
         CAST(list_sum(list_transform(range({SEMDEDUP_SUB_BITS}), i ->
             CASE WHEN embedding[i+1] >= 0 THEN 1 << i ELSE 0 END))
              AS INTEGER) AS b16
  FROM embeddings),
c8 AS (SELECT b8, COUNT(*) AS n8 FROM s GROUP BY b8),
a AS (
  SELECT s.vec_id, s.embedding,
         CASE WHEN c8.n8 > {SEMDEDUP_BUCKET_CAP}
              THEN s.b16 + {1 << SEMDEDUP_SUB_BITS} ELSE s.b8
         END AS bucket
  FROM s JOIN c8 USING (b8)),
cb AS (SELECT bucket, COUNT(*) AS nb FROM a GROUP BY bucket),
g AS (SELECT a.vec_id, a.embedding, a.bucket
      FROM a JOIN cb USING (bucket)
      WHERE cb.nb <= {SEMDEDUP_BUCKET_CAP}),
dropped AS (
  SELECT DISTINCT y.vec_id
  FROM g x JOIN g y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
  WHERE list_sum(list_transform(list_zip(x.embedding, y.embedding),
        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        >= {SEMDEDUP_TAU})
SELECT a.vec_id, a.bucket, d.vec_id IS NULL AS kept
FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
"""


# Deterministic k-means geometry. Embeddings are quantized to integers
# (floor(x*1000) + offset, offset keeps every value nonnegative so integer
# division is portable: Spark DIV == DuckDB // on nonnegatives) so every
# arithmetic step — distances, centroid updates, inertia — is exact 64-bit
# integer math, order-independent, and hash-gatable where float k-means
# never is. Seeds are the K smallest vec_ids; a fixed iteration count
# replaces a convergence test so the oracle is a finite CTE unroll.
KM_K = 4
KM_ITERS = 2
KM_SCALE = 1000.0
KM_OFF = 1024
KM_DIMS = 64


def nd_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column, the
    canonical Spark shape: centroids are a K*dims-row broadcast (tiny at
    any corpus size), the E-step is one broadcast join + map-side-combined
    groupBy per iteration (shuffles one (vec_id, cid, dist) row per
    vector-centroid pair after partial aggregation), the M-step one
    groupBy(cid, dim) whose width is K*dims regardless of corpus size.
    Nothing driver-side ever holds more than the centroid table; the
    exploded quantized matrix is checkpointed once and reused across
    iterations instead of re-scanning parquet per step.

    Integer quantization (module constants) makes the whole computation
    exact, so unlike textbook float k-means this one is value-hash-gated
    against an unrolled SQL oracle. Output: per-cluster size + exact
    integer inertia after KM_ITERS assignment rounds."""
    return kmeans_frame(table(spark, sf_dir, "embeddings"),
                        k=KM_K, iters=KM_ITERS)


def kmeans_frame(emb: DataFrame, k: int = KM_K,
                 iters: int = KM_ITERS) -> DataFrame:
    """The k-means core over an ARBITRARY (vec_id, embedding) frame —
    see _kmeans_lazy for the pipeline; this wrapper materializes the
    k-row audit eagerly and RELEASES the exploded staging matrix (the
    round-10 pq_code_index staging-frame rule — the lazy form pinned
    N*64 DISK_ONLY rows per call for the session). Plan-shape tests
    assert on _kmeans_lazy's frame (the checkpoint hides the joins)."""
    lazy, e = _kmeans_lazy(emb, k, iters)
    out = lazy.localCheckpoint(eager=True)
    e.unpersist()
    return out


def _kmeans_lazy(emb: DataFrame, k: int = KM_K,
                 iters: int = KM_ITERS):
    """(lazy audit frame, staging handle) — seeds are the k smallest
    vec_ids (assumed 0-based contiguous); also the property-test surface
    (tests/test_property.py pins it against a pure-Python integer
    model). Deterministic min-vec_id seeding keeps the oracle finite; a
    production run that doesn't need hash-exactness would seed with
    k-means|| (sample-by-cost rounds) for quality on adversarial inputs
    — the loop body is seeding-agnostic.

    Durability: the exploded quantized matrix is persisted DISK_ONLY,
    not localCheckpoint'ed — persist keeps the lineage, so on a real
    cluster an executor loss mid-iteration recomputes the lost
    partitions instead of failing the job (localCheckpoint truncates
    lineage and dies with the executor). Callers own the unpersist."""
    from pyspark.storagelevel import StorageLevel

    qcol = (F.floor(F.col("v").cast("double") * F.lit(KM_SCALE))
            .cast("long") + F.lit(KM_OFF))
    # `sum(q) DIV count` truncates in Spark but floors in DuckDB/Python —
    # identical ONLY on nonnegatives. KM_OFF guarantees q >= 0 for
    # embeddings >= -KM_OFF/KM_SCALE; enforce the contract in-plan so an
    # out-of-range vector fails loudly instead of silently desyncing the
    # cross-engine hash. (when/otherwise so pruning can't drop the check.)
    qsafe = F.when(qcol >= 0, qcol).otherwise(F.expr(
        "raise_error(concat('kmeans: quantized embedding < 0 for vec_id ',"
        " CAST(vec_id AS STRING), ' — embedding value below "
        f"-{KM_OFF}/{KM_SCALE}; widen KM_OFF'))").cast("long"))
    e = (emb.select("vec_id", F.posexplode("embedding").alias("dim", "v"))
         .select("vec_id", "dim", qsafe.alias("q"))
         .persist(StorageLevel.DISK_ONLY))
    cent = (e.where(F.col("vec_id") < k)
            .select(F.col("vec_id").cast("int").alias("cid"),
                    "dim", F.col("q").alias("cq")))
    assign = None
    for it in range(iters):
        dist = (e.join(F.broadcast(cent), "dim")
                .groupBy("vec_id", "cid")
                .agg(F.sum((F.col("q") - F.col("cq"))
                           * (F.col("q") - F.col("cq"))).alias("d")))
        assign = (dist.groupBy("vec_id")
                  .agg(F.min(F.struct("d", "cid")).alias("m"))
                  .select("vec_id", F.col("m.d").alias("d"),
                          F.col("m.cid").alias("cid")))
        if it < iters - 1:
            cent = (e.join(assign.select("vec_id", "cid"), "vec_id")
                    .groupBy("cid", "dim")
                    .agg(F.expr("sum(q) DIV count(*)").alias("cq")))
    out = (assign.groupBy("cid")
           .agg(F.count("*").alias("n_points"),
                F.sum("d").alias("inertia"))
           .select(F.col("cid").alias("cluster_id"), "n_points",
                   "inertia")
           .orderBy("cluster_id"))
    return out, e


def _km_round(prev_cent: str, tag: str) -> str:
    """One unrolled Lloyd iteration of the oracle (distance + argmin)."""
    return f"""
d{tag} AS (SELECT e.vec_id, c.cid,
                  CAST(SUM((e.q - c.cq) * (e.q - c.cq)) AS BIGINT) AS d
           FROM e JOIN {prev_cent} c ON e.dim = c.dim
           GROUP BY e.vec_id, c.cid),
a{tag} AS (SELECT vec_id, cid, d FROM
           (SELECT vec_id, cid, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, cid) AS rn
            FROM d{tag}) t WHERE rn = 1)"""


_KMEANS_ORACLE = f"""
WITH e AS (
  SELECT vec_id, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * {KM_SCALE})
              AS BIGINT) + {KM_OFF} AS q
  FROM (SELECT vec_id, embedding, unnest(range({KM_DIMS})) AS i
        FROM embeddings) t),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, dim, q AS cq
       FROM e WHERE vec_id < {KM_K}),
{_km_round('c0', '1')},
c1 AS (SELECT a.cid, e.dim, SUM(e.q) // COUNT(*) AS cq
       FROM e JOIN a1 a ON e.vec_id = a.vec_id
       GROUP BY a.cid, e.dim),
{_km_round('c1', '2')}
SELECT cid AS cluster_id, COUNT(*) AS n_points,
       CAST(SUM(d) AS BIGINT) AS inertia
FROM a2 GROUP BY cid ORDER BY cluster_id
"""


def nd_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance sufficient statistics over the embedding
    corpus — the X^T X / Σx accumulation pattern every classical
    embedding post-processor (PCA projection, whitening, Mahalanobis
    outlier gates) starts from. Reuses the k-means family's integer
    quantization (KM_SCALE/KM_OFF) so every accumulated statistic —
    n, per-dim sums, all upper-triangle cross-product sums — is an
    exact 64-bit integer, order-independent, and value-hash-gatable;
    the covariance itself is derived per row by one fixed double
    cast/mul/div/sub sequence (identical op chain both engines, so it
    hashes too — ROUND is the only non-portable double op, and none is
    used).

    Scale shape: each Arrow batch reduces to D*(D+1)/2 = 2080 partial
    rows in one integer matmul (covariance_frame) — no self-join, the
    classic x-join-x formulation would shuffle the matrix twice — and
    the partials meet in ONE exchange. Output size is D^2-bounded at
    any corpus size — the consumer runs
    eigh/Cholesky driver-side on the 64x64 result (the IVF-centroid
    model-state pattern). Overflow ceiling documented: |q| <= ~2^11, so
    sum_ij stays in int64 past 10^12 vectors; the derived cov column
    goes through doubles and has no such ceiling."""
    return covariance_frame(table(spark, sf_dir, "embeddings"))


def covariance_frame(emb: DataFrame) -> DataFrame:
    """The sufficient-statistics core over an ARBITRARY
    (vec_id, embedding) frame — also the PCA fit's input surface. Per
    Arrow batch: quantize (float64 mul, floor, int64 — the oracle's op
    chain, so the integers agree), one int64 Gram matmul q^T q (integer
    arithmetic, so exact) and one column sum, emitted as D*(D+1)/2 = 2080
    partial rows; the partials reduce in a 2080-key groupBy, so the
    shuffle carries 2080 rows per batch, not per vector. The scan is
    spread first: one input row group would otherwise pin the whole
    matmul pass to a single Python worker (partials are integer sums,
    partitioning-invariant)."""
    from bacalhau_spark.catalog import spread_compute
    emb = spread_compute(emb.sparkSession, emb, "vec_id")

    def part(it):
        import numpy as np
        import pandas as pd
        iu = np.triu_indices(KM_DIMS)
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            q = np.floor(x * KM_SCALE).astype("int64") + KM_OFF
            g = q.T @ q
            s = q.sum(axis=0)
            yield pd.DataFrame({
                "i": iu[0].astype("int32"),
                "j": iu[1].astype("int32"),
                "n": np.full(len(iu[0]), len(pdf), dtype="int64"),
                "sum_i": s[iu[0]],
                "sum_j": s[iu[1]],
                "sum_ij": g[iu]})

    parts = emb.select("embedding").mapInPandas(
        part, "i int, j int, n long, sum_i long, sum_j long, sum_ij long")
    return (parts.groupBy("i", "j")
            .agg(F.sum("n").cast("long").alias("n"),
                 F.sum("sum_i").cast("long").alias("sum_i"),
                 F.sum("sum_j").cast("long").alias("sum_j"),
                 F.sum("sum_ij").cast("long").alias("sum_ij"))
            .select("i", "j", "n", "sum_i", "sum_j", "sum_ij",
                    ((F.col("sum_ij").cast("double")
                      - F.col("sum_i").cast("double") * F.col("sum_j")
                      / F.col("n")) / F.col("n")).alias("cov"))
            .orderBy("i", "j"))


_COVARIANCE_ORACLE = f"""
WITH q AS (SELECT list_transform(embedding,
               v -> CAST(FLOOR(CAST(v AS DOUBLE) * {KM_SCALE}) AS BIGINT)
                    + {KM_OFF}) AS q
           FROM embeddings),
pairs AS (SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
                 q[i + 1] * q[j + 1] AS xy
          FROM q
          CROSS JOIN LATERAL (SELECT unnest(range({KM_DIMS})) AS i) a
          CROSS JOIN LATERAL (SELECT unnest(range(i, {KM_DIMS})) AS j) b),
cross_s AS (SELECT i, j, COUNT(*) AS n, CAST(SUM(xy) AS BIGINT) AS sum_ij
            FROM pairs GROUP BY i, j),
sums AS (SELECT CAST(dim AS INTEGER) AS dim, CAST(SUM(qv) AS BIGINT) AS s
         FROM (SELECT dim, q[dim + 1] AS qv FROM q
               CROSS JOIN LATERAL
               (SELECT unnest(range({KM_DIMS})) AS dim) d) t
         GROUP BY dim)
SELECT i, j, n, si.s AS sum_i, sj.s AS sum_j, sum_ij,
       (CAST(sum_ij AS DOUBLE) - CAST(si.s AS DOUBLE) * sj.s / n) / n
       AS cov
FROM cross_s JOIN sums si ON si.dim = i JOIN sums sj ON sj.dim = j
ORDER BY i, j
"""


PCA_K = 8


def _pca_model(spark: SparkSession, sf_dir: str):
    """Fit PCA driver-side from the EXACT distributed sufficient
    statistics: collect the 2080 covariance rows (constant size, the
    IVF-centroid model-state pattern), assemble the 64x64 matrix, eigh,
    keep the top PCA_K eigenpairs. Eigenvector signs are canonicalized
    (largest-|component| positive) so the model is stable across BLAS
    builds. Session-cached per (realpath, table fingerprint) like the
    IVF coarse quantizer — repeated calls must not re-collect, and a
    fixture rewritten in place mid-session must MISS."""
    return _MODELS.get_or_make(spark, ("pca", *_emb_cache_key(sf_dir)),
                               lambda: _fit_pca(spark, sf_dir))


def _fit_pca(spark: SparkSession, sf_dir: str) -> tuple:
    import numpy as np

    rows = covariance_frame(table(spark, sf_dir, "embeddings")).collect()
    d = KM_DIMS
    cov = np.zeros((d, d))
    mu = np.zeros(d)
    n = rows[0]["n"]
    for r in rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
        if r["i"] == r["j"]:
            mu[r["i"]] = r["sum_i"] / n
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:PCA_K]
    w = evecs[:, order]
    for k in range(w.shape[1]):
        j = int(np.argmax(np.abs(w[:, k])))
        if w[j, k] < 0:
            w[:, k] = -w[:, k]
    return (mu.tolist(), w.tolist(), evals[order].tolist(), int(n))


def _double_lit_sql(v: float) -> str:
    """A float64 as engine-portable SQL text: repr() is the shortest
    round-trip representation, and both Java's and DuckDB's parsers
    resolve it to the identical nearest double."""
    return f"CAST('{v!r}' AS DOUBLE)"


def nd_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection to PCA_K components — the dimensionality-reduction
    pass embedding pipelines run before clustering/ANN indexing, closing
    the loop the covariance operator opens. The registered surface is
    the EXPLODED projection — (vec_id, k, proj_k) scalar rows — because
    the driver's canonicalizer (pandas sort_values -> factorize) cannot
    hash an array<double> column; the array-valued frame is
    pca_project_exact_frame (nd_ann_pca indexes it).

    Hash-gated: the projection is the exact LEFT FOLD over the quantized
    vector against (mean, components) — the _DOT_SQL convention — and
    the oracle (similarity._pca_oracle_sql) derives the SAME model
    constants independently (DuckDB runs the covariance oracle over the
    same parquet, numpy eigh + the same sign canonicalization in the
    driver process) and replays the identical fold in SQL. The
    covariance doubles are bit-identical cross-engine
    (nd_embedding_covariance's hash row), and eigh is deterministic for
    identical input within one process, so the constants agree
    exactly."""
    return (pca_project_exact_frame(spark, sf_dir)
            .select("vec_id", F.posexplode("proj").alias("k", "proj_k"))
            .orderBy("vec_id", "k"))


def pca_project_exact_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT-FOLD projection as an array-valued frame (vec_id,
    proj) — the core nd_pca_project explodes and nd_ann_pca indexes.

    The fold runs as an ARROW-BATCHED cumsum kernel: per component k
    the oracle's chain  acc + (q_d - mu_d) * w_kd  (d ascending, acc0 =
    0.0) is replayed as elementwise (x - mu) * w_k followed by
    np.cumsum — np.add.accumulate is a strictly SEQUENTIAL scan, so the
    IEEE op sequence per component is identical to the SQL fold's and
    the result bit-identical (a blocked matmul would differ in the last
    bits). The UDF output is an opaque attribute, so neither
    nd_pca_project's posexplode nor its sort's range-sampling pass can
    re-evaluate the fold (an inlined HOF fold measured 12.4 s vs 2.0 s
    through nd_pca_project)."""
    mu, w, _evals, _n = _pca_model(spark, sf_dir)

    def _make_udf(mu_l: list, w_l: list):
        # factory-local so the function pickles BY VALUE with the model
        # constants captured (foreign-cwd worker rule)
        def fn(qs):
            import numpy as _np
            import pandas as _pd
            m = _np.asarray(mu_l, dtype="float64")
            wt = _np.asarray(w_l, dtype="float64").T  # (K, D)
            x = _np.stack(qs.values).astype("float64")
            t = (x[:, None, :] - m[None, None, :]) * wt[None, :, :]
            p = _np.cumsum(t, axis=2)[:, :, -1]
            return _pd.Series(list(p))

        from pyspark.sql.functions import pandas_udf
        return pandas_udf(fn, "array<double>")

    emb = table(spark, sf_dir, "embeddings")
    qd = emb.select("vec_id", F.expr(
        f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) "
        f"* {KM_SCALE}) AS BIGINT) + {KM_OFF})").alias("q"))
    proj = _make_udf(mu, w)
    return qd.select("vec_id", proj(F.col("q")).alias("proj"))


def _pca_fit_literals(sf_dir: str | None) -> tuple[str, str]:
    """(mu, w) as DuckDB array-literal text, derived INDEPENDENTLY per
    fixture: DuckDB recomputes the covariance sufficient statistics
    over the SAME parquet (the already-hash-gated _COVARIANCE_ORACLE),
    the model fit (eigh + largest-|component| sign fix) runs in the
    calling process exactly as _pca_model's — same numpy, same input
    doubles, so the constants are bit-identical with the Spark side's.
    Defaults to the driver's grading fixture (sf=0.01, per the driver
    contract); tests pass their sf_dir explicitly."""
    import duckdb
    import numpy as np

    sf = sf_dir or os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                  "/root/testdata/sf0.01")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf}/embeddings.parquet')")
    rows = con.execute(_COVARIANCE_ORACLE).fetchall()
    con.close()
    d = KM_DIMS
    cov = np.zeros((d, d))
    mu = np.zeros(d)
    n = rows[0][2]
    for i, j, _n, sum_i, _sj, _sij, c in rows:
        cov[i, j] = cov[j, i] = c
        if i == j:
            mu[i] = sum_i / n
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:PCA_K]
    w = evecs[:, order]
    for k in range(w.shape[1]):
        jmax = int(np.argmax(np.abs(w[:, k])))
        if w[jmax, k] < 0:
            w[:, k] = -w[:, k]
    wt = w.T.tolist()
    mu_l = "[" + ", ".join(_double_lit_sql(v) for v in mu.tolist()) + "]"
    w_l = ("[" + ", ".join(
        "[" + ", ".join(_double_lit_sql(v) for v in row) + "]"
        for row in wt) + "]")
    return mu_l, w_l


# The shared projection CTE: quantize + center + left-fold against the
# independently-derived fit constants — consumed by the nd_pca_project
# oracle (exploded) and the nd_ann_pca oracle (array-valued).
def _pca_proj_ctes(mu_l: str, w_l: str) -> str:
    return f"""q AS (SELECT vec_id,
        list_transform(embedding, v ->
            CAST(FLOOR(CAST(v AS DOUBLE) * {KM_SCALE}) AS BIGINT)
            + {KM_OFF}) AS q,
        {mu_l} AS mu, {w_l} AS w
    FROM embeddings),
proj AS (SELECT vec_id,
        list_transform(range({PCA_K}), k ->
            list_sum(list_transform(range({KM_DIMS}), d ->
                (CAST(q[d + 1] AS DOUBLE) - mu[d + 1])
                * w[k + 1][d + 1]))) AS p
    FROM q)"""


def _pca_oracle_sql(sf_dir: str | None = None) -> str:
    """The nd_pca_project oracle, generated per fixture (see
    _pca_fit_literals): replays the identical quantize + center +
    left-fold projection over independently-derived constants."""
    mu_l, w_l = _pca_fit_literals(sf_dir)
    return f"""
WITH {_pca_proj_ctes(mu_l, w_l)}
SELECT vec_id, CAST(k AS INT) AS k, p[k + 1] AS proj_k
FROM proj CROSS JOIN LATERAL (SELECT unnest(range({PCA_K})) AS k) kk
ORDER BY vec_id, k
"""


def _ann_pca_oracle_sql(sf_dir: str | None = None) -> str:
    """The nd_ann_pca oracle (round 14 — the row leaves the no_oracle
    set): replays the ENTIRE reduce-then-probe pipeline exactly —
    exact-fold projection, in-plan seed centroids (the first N_CLUSTERS
    projected vectors), squared-Euclidean cell assignment with the
    (d2, cell) tie-break, NPROBE_PCA probe cells per query, and the
    bit-identical cosine re-rank. Every float op is the same fold chain
    both engines run; no recall tolerance anywhere."""
    mu_l, w_l = _pca_fit_literals(sf_dir)
    return f"""
WITH {_pca_proj_ctes(mu_l, w_l)},
seeds AS (SELECT vec_id AS cell, p AS sp FROM proj
          WHERE vec_id < {N_CLUSTERS}),
dist AS (SELECT proj.vec_id, seeds.cell,
                list_sum(list_transform(list_zip(proj.p, seeds.sp),
                    z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
                       * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))))
                AS d2
         FROM proj CROSS JOIN seeds),
ranked AS (SELECT vec_id, cell,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cell) AS arank
           FROM dist),
corpus AS (SELECT vec_id AS nn, cell FROM ranked WHERE arank = 1),
probes AS (SELECT vec_id AS qid, cell FROM ranked
           WHERE vec_id < 20 AND arank <= {NPROBE_PCA})
SELECT vec_id, rank, nn, cos FROM
(SELECT pr.qid AS vec_id, c.nn AS nn, {_DOT_SQL} AS cos,
        ROW_NUMBER() OVER (PARTITION BY pr.qid
                           ORDER BY {_DOT_SQL} DESC, c.nn) AS rank
 FROM probes pr JOIN corpus c ON pr.cell = c.cell AND c.nn <> pr.qid
 JOIN embeddings a ON a.vec_id = pr.qid
 JOIN embeddings b ON b.vec_id = c.nn) t
WHERE rank <= 3 ORDER BY vec_id, rank
"""


def nd_ann_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-reduced ANN — the reduce-then-index production shape every
    embedding-retrieval/dedup system runs: candidates are generated in
    the CHEAP 8-dim PCA space (an IVF-style coarse partition over
    pca_project_exact_frame — seed centroids are the first N_CLUSTERS
    projected vectors, assignment is squared-Euclidean), then scored
    with FULL-dimension cosine (the standard two-phase read: reduced-
    space candidate generation, exact full-precision ranking). This is
    the natural consumer of the PCA surface — the covariance → eigh →
    project → index → probe pipeline end to end.

    Scale shape: the index side is (vec_id, cell) — one fold map-stage
    over the 8-dim projections against a 16-row broadcast seed table,
    hash-partitioned/bucketed by cell at 100 TB so a query touches
    NPROBE/K of the corpus; the probe side broadcasts (20 queries x
    NPROBE cells); full vectors are fetched per candidate pair, never
    per corpus row.

    HASH-GATED END TO END (_ann_pca_oracle_sql, the
    nd_ann_pq/nd_ann_lsh convention): the projection is the exact fold
    (pca_project_exact_frame), the seed centroids are
    derived IN-PLAN from that projection, cell assignment is the same
    squared-distance fold with a (d2, cell) tie-break, and every cell
    candidate is re-ranked with the bit-identical cosine fold (an
    8-dim projected-distance shortlist was tried and REJECTED: on this
    near-isotropic fixture the projection explains too little variance
    to proxy 64-dim cosine, and recall@3 collapsed 0.90 -> 0.37; the
    candidate set is cell-pruned to ~NPROBE/K of the corpus already,
    so exact scoring of the survivors is the right trade). The
    SEMANTICS stay approximate (recall@3 vs brute force gated in
    tests/); the implementation no longer is."""
    # Probe deeper than the full-dim IVF (6 cells vs 4): the seed
    # quantizer is unrefined and the 8-dim space is coarser, so border
    # queries need more cells for the same recall — the standard
    # nprobe-vs-recall dial, still NPROBE_PCA/K of the corpus per query.
    # MATERIALIZE the projection before the 16-way seed join: codegen
    # inlines a projected expression into the join stage, so without a
    # barrier every one of the 16 output rows per vector re-evaluates
    # the full 8x64 fold (measured 8.0 s vs ~1 s at sf0.1 — the
    # project-before-HOF rule, one join deeper). The checkpointed frame
    # is (vec_id, 8 doubles) — bounded, and shared by the seed lookup,
    # the corpus branch and the probe branch (the shared-lineage rule).
    # EAGER: the lazy variant measured as no barrier at all (the fold
    # still inlined into the join); the projection job is 0.2 s.
    proj = pca_project_exact_frame(spark, sf_dir) \
        .localCheckpoint(eager=True)
    seeds = (proj.where(F.col("vec_id") < N_CLUSTERS)
             .select(F.col("vec_id").alias("cell"),
                     F.col("proj").alias("s_proj")))
    d2 = F.aggregate(
        F.zip_with(F.col("proj"), F.col("s_proj"),
                   lambda x, s: (x - s) * (x - s)),
        F.lit(0.0), lambda acc, v: acc + v)
    wa = Window.partitionBy("vec_id").orderBy("d2", "cell")
    ranked = (proj.crossJoin(F.broadcast(seeds))
              .select("vec_id", "cell", d2.alias("d2"))
              .withColumn("arank", F.row_number().over(wa))
              .where(F.col("arank") <= NPROBE_PCA)
              .select("vec_id", "cell", "arank"))
    emb = table(spark, sf_dir, "embeddings")
    corpus = (ranked.where(F.col("arank") == 1)
              .select(F.col("vec_id").alias("nn"), "cell")
              .join(emb.select(F.col("vec_id").alias("nn"),
                               F.col("embedding").alias("c_emb")), "nn"))
    probes = (ranked.where((F.col("vec_id") < 20)
                           & (F.col("arank") <= NPROBE_PCA))
              .select(F.col("vec_id").alias("q_id"), "cell")
              .join(emb.select(F.col("vec_id").alias("q_id"),
                               F.col("embedding").alias("q_emb")), "q_id"))
    cos = cosine(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_raw"), F.asc("nn"))
    return (
        F.broadcast(probes).join(corpus, "cell")
        .where(F.col("q_id") != F.col("nn"))
        .select(F.col("q_id").alias("vec_id"), "nn", cos.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("vec_id", "rank", "nn", F.col("cos_raw").alias("cos"))
        .orderBy("vec_id", "rank")
    )


# --- product quantization ----------------------------------------------------
# PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI'11): split the 64-dim embedding into PQ_M contiguous subspaces,
# train an independent small codebook per subspace, and represent each
# vector by its per-subspace centroid ids — PQ_M small ints instead of 64
# floats, the memory-compression half of IVF-PQ (nd_ann_pca is the
# cell-pruning half). Spark-first shape: ALL PQ_M codebooks train in ONE
# pass of shuffles — the subspace id rides the composite keys
# ((vec_id, sub, cid) distances, (cid, dim) centroid updates), so the
# M trainings share every exchange instead of running M sequential
# Lloyd jobs. Reuses the k-means family's integer quantization
# (KM_SCALE/KM_OFF + the in-plan domain guard), so training, codes and
# distortion are all exact integers and the oracle replays the identical
# unrolled iterations.
# Parameters chosen by a numpy sweep on the fixture (random unit vectors
# are PQ's worst case — no cluster structure): M=4/K=4 codes alone rank
# at 0.02 recall@3, M=16/K=16 at 0.33, and ADC-shortlist-then-exact-
# re-rank (the standard production shape) lifts M=16/K=16/L=50 to 0.95.
# 16 subspaces x 4 dims x 16 centroids = 64 floats -> 16 nibble codes
# (8 bytes/vector, 32x compression).
PQ_M = 16
PQ_SUB = KM_DIMS // PQ_M  # 4 dims per subspace
PQ_K = 16
PQ_ITERS = 2
PQ_SHORTLIST = 50


def _pq_exploded(emb: DataFrame, persist: bool = True):
    """(vec_id, sub, dim, q): the quantized exploded matrix with the
    subspace id. Shares nd_kmeans's quantization + nonnegativity guard
    (sum DIV count truncates vs floors on negatives). persist=False for
    probe-sized slices (a query batch) that are consumed once."""
    qcol = (F.floor(F.col("v").cast("double") * F.lit(KM_SCALE))
            .cast("long") + F.lit(KM_OFF))
    qsafe = F.when(qcol >= 0, qcol).otherwise(F.expr(
        "raise_error(concat('pq: quantized embedding < 0 for vec_id ',"
        " CAST(vec_id AS STRING)))").cast("long"))
    out = (emb.select("vec_id",
                      F.posexplode("embedding").alias("dim", "v"))
           .select("vec_id", (F.col("dim") / PQ_SUB).cast("int")
                   .alias("sub"), "dim", qsafe.alias("q")))
    if persist:
        from pyspark.storagelevel import StorageLevel
        out = out.persist(StorageLevel.DISK_ONLY)
    return out


def _pq_sq() -> Column:
    """Exact integer squared difference of a coordinate q and a centroid
    coordinate cq."""
    return (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))


def _pq_dist(e: DataFrame, cent: DataFrame, keys) -> DataFrame:
    """(*keys, cid, d): the exact integer squared distance of every
    `keys` subvector of e (..., dim, q) to every centroid of cent
    (cid, dim, cq). The join key is `dim` alone because subspaces
    PARTITION the dims, so a centroid row only ever meets its own
    subspace's coordinates; the codebook is a (PQ_M*k*dims)-row
    broadcast — bounded model state at any corpus size."""
    return (e.join(F.broadcast(cent.select("cid", "dim", "cq")), "dim")
            .groupBy(*keys, "cid").agg(F.sum(_pq_sq()).alias("d")))


def _pq_argmin(e: DataFrame, cent: DataFrame,
               keys=("vec_id", "sub")) -> DataFrame:
    """(*keys, cid, d): the argmin-encode step — each subvector's nearest
    centroid and its distance, (d, cid) tie-break."""
    return (_pq_dist(e, cent, keys).groupBy(*keys)
            .agg(F.min(F.struct("d", "cid")).alias("m"))
            .select(*keys, F.col("m.cid").alias("cid"),
                    F.col("m.d").alias("d")))


def _pq_means(e: DataFrame, codes: DataFrame, by) -> DataFrame:
    """The codebook M-step: sum-DIV-count means of e's coordinates under
    the assignment `codes` (vec_id, sub, cid), grouped by `by`."""
    return (e.join(codes.select("vec_id", "sub", "cid"), ["vec_id", "sub"])
            .groupBy(*by).agg(F.expr("sum(q) DIV count(*)").alias("cq")))


def pq_train_assign(e: DataFrame, k: int = PQ_K,
                    iters: int = PQ_ITERS) -> DataFrame:
    """Train PQ_M codebooks and assign codes in the same unrolled loop:
    returns (vec_id, sub, cid, d) — the per-subspace code + its exact
    integer quantization error. Seeds per subspace are the k smallest
    vec_ids' subvectors (the kmeans_frame convention)."""
    cent = (e.where(F.col("vec_id") < k)
            .select(F.col("vec_id").cast("int").alias("cid"),
                    "dim", F.col("q").alias("cq")))
    assign = None
    for it in range(iters):
        assign = _pq_argmin(e, cent)
        if it < iters - 1:
            cent = _pq_means(e, assign, ("cid", "dim"))
    return assign


def nd_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook training + code assignment over the embeddings table:
    per (subspace, centroid) — vectors assigned and exact integer
    distortion after PQ_ITERS Lloyd rounds. The audit a PQ index build
    publishes (balanced cells + falling distortion = usable codes).
    Warm cost is one aggregate over the cached code index."""
    return (pq_code_index(spark, sf_dir)
            .groupBy("sub", "cid")
            .agg(F.count("*").alias("n_points"),
                 F.sum("d").cast("long").alias("distortion"))
            .select(F.col("sub").cast("int"),
                    F.col("cid").alias("cluster_id"), "n_points",
                    "distortion")
            .orderBy("sub", "cluster_id"))


# A freshly-encoded increment whose mean distortion exceeds this factor
# times the corpus's own (under the SAME reconstruction codebook) has
# drifted: the codebook should retrain before the next epoch adopts it.
PQ_STALENESS_FACTOR = 1.5


def nd_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ ingest with a STALENESS BOUND — codebook-bearing
    indexes get a staleness bound instead of exact delta adoption: a trained
    codebook is NEVER retrained per increment (FAISS's operating model
    — retraining would re-encode the world), so each new batch encodes
    against the PUBLISHED reconstruction codebook and the pipeline
    monitors quantization drift: when the increment's mean distortion
    exceeds PQ_STALENESS_FACTOR x the corpus's own under the SAME
    codebook, the batch is flagged stale — the retrain signal.

    Expressed as a first-class graded row rather than a transparent
    cache path ON PURPOSE: pinned-codebook encoding changes values vs a
    full retrain, and the index store's contract is that adoption NEVER
    changes results (the cand delta is exact; this is declared-
    approximate), so the capability lives beside nd_incremental_dedup /
    nd_incremental_minhash in the incremental-ingest family, with the
    pinned semantics in its name and oracle.

    Batch synthesis is deterministic (the nd_incremental_minhash
    convention): affinely-shifted copies (0.5x + 0.45) of every seventh
    vector — a mean-offset distribution shift (exactly the post-ReLU /
    recentered-encoder shape real embedding drift takes), which the
    codebook trained on centered unit vectors quantizes measurably
    worse: the drift the monitor exists to see. (A shrink toward the
    origin, the first cut, quantizes BETTER than baseline — distortion
    falls with radius — a measured non-signal worth recording.)
    Emits per subspace: corpus baseline (n, distortion under the
    reconstruction codebook c2 with the PUBLISHED code assignment —
    exactly what an ADC consumer pays), the increment's fresh-argmin
    distortion, and the stale flag. Every quantity is exact integer
    math; the flag compares identically-derived doubles (same op chain
    both engines).

    Scale shape: the codebook is a broadcast (PQ_M x PQ_K x PQ_SUB rows
    at any corpus size); the increment explodes only the BATCH; the
    corpus side is the baseline artifact (PQFamily.baseline_index),
    recorded by the first monitor read of an epoch and read by every
    later one — the oracle recomputes it from the corpus."""
    return pq_staleness(spark, sf_dir, _pq_drift_batch(spark, sf_dir))


def _pq_drift_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic synthesized DRIFT batch (see nd_pq_incremental:
    affinely-shifted copies 0.5x + 0.45 of every seventh vector, new ids
    +1M — a mean-offset distribution shift the unit-vector codebook
    quantizes measurably worse)."""
    emb = table(spark, sf_dir, "embeddings")
    return (emb.where(F.col("vec_id") % 7 == 3)
            .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                    F.expr("transform(embedding, v -> CAST(v AS DOUBLE) "
                           "* CAST(0.5 AS DOUBLE) + CAST(0.45 AS DOUBLE))")
                    .alias("embedding")))


def _refresh_append_guard(spark: SparkSession, merged_dir: str,
                          parent_dir: str) -> None:
    """The refresh verbs' PREMISE is merged = parent + appended vectors;
    a vector rewritten in place is invisible to the vec_id anti-join
    (no staleness fires, the parent's code for it republishes under the
    merged content key — silently wrong for every later consumer), and
    a removed vector leaves a phantom code occupying shortlist slots.
    The store guards exactly this premise everywhere else
    (_ids_disjoint, strict-subset file keys), so the refreshers do too
    — FAIL LOUDLY and tell the operator to `index build` the merged
    epoch fresh. Fast path: every parent part file reappears in merged
    under the store's content-identity window (per-file keys over
    basename/size/head+tail 4 KB — the same identity ALL adoption
    trusts, not a full byte compare) AND the appended shards' ids are
    duplicate-free among themselves and disjoint from the parent's (a
    re-carried id in a new shard is invisible to the anti-join, and
    either duplicate shape fans out every downstream vec_id join).
    Otherwise three data checks: no parent id
    missing from merged, no duplicate ids in merged, and every common
    id carries an identical embedding (null-safe — a rewrite to or
    from NULL must not slip through plain `!=`)."""
    _, pk = scan_table_windows(parent_dir, "embeddings")
    _, mk = scan_table_windows(merged_dir, "embeddings")
    p = table(spark, parent_dir, "embeddings").select(
        "vec_id", "embedding")
    m = table(spark, merged_dir, "embeddings").select(
        "vec_id", "embedding")
    if pk and all(mk.get(b) == k for b, k in pk.items()):
        # parent shards carried verbatim; the appended shards must not
        # re-carry parent ids (the recurring re-crawl shape)
        new_paths = [pth for pth in
                     table_part_paths(merged_dir, "embeddings")
                     if os.path.basename(pth) not in pk]
        if not new_paths:
            return  # merged == parent: nothing appended, nothing new
        new_ids_all = read_parts(spark, merged_dir, "embeddings",
                                 new_paths).select("vec_id")
        if not (new_ids_all.groupBy("vec_id")
                .agg(F.count("*").alias("c"))
                .where(F.col("c") > 1).isEmpty()):
            raise ValueError(
                f"refresh: appended shards in {merged_dir} carry "
                "duplicate vec_ids among themselves — both rows would "
                "be encoded and every downstream vec_id join would fan "
                "out; rebuild the merged epoch's index with `index "
                "build` instead")
        if new_ids_all.join(p.select("vec_id"), "vec_id",
                            "left_semi").isEmpty():
            return
        raise ValueError(
            f"refresh: appended shards in {merged_dir} re-carry "
            f"vec_ids already present in parent {parent_dir} — the "
            "anti-join cannot see a re-carried id (its parent code "
            "would republish for the new bytes) and the merged table "
            "holds duplicate rows for it; rebuild the merged epoch's "
            "index with `index build` instead")
    if not p.join(m.select("vec_id"), "vec_id", "left_anti").isEmpty():
        raise ValueError(
            f"refresh: {merged_dir} is missing vec_ids present in "
            f"parent {parent_dir} — the epoch is not append-only, and "
            "carried codes would keep phantom entries for the removed "
            "vectors; rebuild the merged epoch's index with `index "
            "build` instead")
    if not (m.groupBy("vec_id").agg(F.count("*").alias("c"))
            .where(F.col("c") > 1).isEmpty()):
        raise ValueError(
            f"refresh: {merged_dir} carries duplicate vec_ids — every "
            "downstream vec_id join would fan out; rebuild the merged "
            "epoch's index with `index build` instead")
    changed = (p.alias("p").join(m.alias("m"), "vec_id")
               .where(~F.col("p.embedding")
                      .eqNullSafe(F.col("m.embedding"))))
    if not changed.isEmpty():
        raise ValueError(
            f"refresh: {merged_dir} rewrites embeddings of vec_ids it "
            f"shares with parent {parent_dir} — the anti-join cannot "
            "see in-place rewrites, so carried codes would be silently "
            "stale for them; rebuild the merged epoch's index with "
            "`index build` instead")


@dataclass(frozen=True)
class PQFamily:
    """One product-quantizer family's record. The methods are the one
    lifecycle both families run — code build, codebook, corpus
    baseline, staleness monitor, refresh — and the fields are all that
    differs between them. IVF-PQ is plain PQ applied to each vector's
    residual against its coarse cell (IVFADC, Jégou et al., TPAMI'11),
    so a family contributes only:

    - its store kinds (codes, codebook, baseline) and builder rev;
    - `explode(spark, sf_dir, emb, nprobe=0, persist=False)`: the frame
      as (vec_id, *cell, sub, dim, q) — with nprobe 0, `emb` is sf_dir's
      own corpus (IVF-PQ reads its published cells); otherwise each row
      goes to its nprobe nearest cells under sf_dir's published coarse
      quantizer;
    - `carry`: {store kind: fn(spark, parent_dir, new)} — the artifacts
      besides codes and codebook a pinned refresh publishes under the
      merged content key.

    `name` is the family's CLI kind (`index build/refresh/drop/verify
    --kind NAME`), `code_cols` the published code table's schema and
    `cell` the coarse key its codes carry (() for plain PQ)."""
    name: str
    codes: str
    cent: str
    base: str
    rev: int
    code_cols: tuple
    cell: tuple
    explode: Callable
    carry: dict

    @property
    def kinds(self) -> tuple:
        """The store kinds `index build` leaves the codes depending on:
        codes, codebook and the carried artifacts the codes are
        assigned under — what `index drop/verify --kind NAME` select
        (drop adds the baseline of any codebook it removes)."""
        return (self.codes, self.cent, *self.carry)

    def corpus(self, spark: SparkSession, sf_dir: str,
               persist: bool = False) -> DataFrame:
        return self.explode(spark, sf_dir, table(spark, sf_dir, "embeddings")
                            .select("vec_id", "embedding"), persist=persist)

    def code_index(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """Persisted TRAINED codes (`code_cols`): the codebooks train
        once per embeddings content through pq_train_assign over the
        exploded corpus, and every consumer (quantize audit, ADC
        retrieval, monitor) reads the materialized code table. The
        exploded training matrix lives only inside the build. Keyed on
        the EMBEDDINGS fingerprint."""
        staged: dict = {}

        def build():
            e = staged["e"] = self.corpus(spark, sf_dir, persist=True)
            codes = pq_train_assign(e)
            if self.cell:
                codes = codes.join(e.select("vec_id", *self.cell)
                                   .distinct(), "vec_id")
            return codes.select(*self.code_cols)

        def cleanup():
            # the exploded training matrix (n_docs x 64 rows, DISK_ONLY)
            # is only needed while the codes materialize
            e = staged.pop("e", None)
            if e is not None:
                e.unpersist()

        return cached_index(spark, sf_dir, self.codes, build,
                            tbl="embeddings", cleanup=cleanup, rev=self.rev)

    def centroid_index(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """Persisted final codebook (sub, cid, dim, cq): PQ_M x PQ_K x
        PQ_SUB rows, bounded model state. DELIBERATELY one M-step past
        the codebook the codes were argmin'd against: given the final
        assignment, the per-code GROUP MEANS are the distortion-
        minimizing reconstruction values (the conditional-expectation
        property), so ADC on them reconstructs at least as well as on
        the pre-step centroids — standard Lloyd output, not a
        code/codebook mismatch."""
        return cached_index(
            spark, sf_dir, self.cent,
            lambda: _pq_means(self.corpus(spark, sf_dir),
                              self.code_index(spark, sf_dir),
                              ("sub", "cid", "dim")),
            tbl="embeddings", rev=self.rev)

    def baseline_index(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """The corpus baseline (sub, n_corpus, corpus_distortion): per
        subspace, the corpus's distortion under the PUBLISHED codebook
        with the PUBLISHED code assignment — exactly what an ADC
        consumer pays, and the corpus side of every staleness check. A
        pure function of the embeddings content, so it shares the
        codes' content-addressed lifecycle, but it is recorded LAZILY:
        the first staleness read of an epoch publishes it (`index
        build` does not), and every later read — this session, the
        next, the refresh verb — reads the 16-row artifact. `index
        drop` removes it together with its codebook, so a rebuilt
        codebook never meets a baseline recorded under the old one.
        Exact integer math, bit-identical to the DuckDB oracle's
        recomputation. No delta form: it aggregates the whole corpus
        under one codebook, so an appended epoch records its own."""
        def build():
            codes = self.code_index(spark, sf_dir)
            return (self.corpus(spark, sf_dir)
                    .join(codes.select("vec_id", "sub", "cid"),
                          ["vec_id", "sub"])
                    .join(F.broadcast(self.centroid_index(spark, sf_dir)),
                          ["sub", "cid", "dim"])
                    .groupBy("vec_id", "sub").agg(F.sum(_pq_sq()).alias("d"))
                    .groupBy("sub")
                    .agg(F.count("*").cast("long").alias("n_corpus"),
                         F.sum("d").cast("long").alias("corpus_distortion")))

        return cached_index(spark, sf_dir, self.base, build,
                            tbl="embeddings", rev=self.rev)

    def encode(self, spark: SparkSession, sf_dir: str,
               batch: DataFrame) -> DataFrame:
        """(vec_id, *cell, sub, cid, d): an increment `batch` (vec_id,
        embedding) encoded against sf_dir's PUBLISHED state — its cell
        under the published coarse quantizer, then the argmin against
        the published reconstruction codebook."""
        return _pq_argmin(self.explode(spark, sf_dir, batch, nprobe=1),
                          self.centroid_index(spark, sf_dir),
                          ("vec_id", *self.cell, "sub"))

    def staleness(self, spark: SparkSession, sf_dir: str,
                  batch: DataFrame) -> DataFrame:
        """Per-subspace staleness monitor over an increment `batch`:
        encode it against sf_dir's published codebook, compare its mean
        distortion to the corpus's own under the same codebook (the
        baseline artifact, 16 rows), and flag `stale` when the ratio
        exceeds PQ_STALENESS_FACTOR."""
        bagg = (self.encode(spark, sf_dir, batch).groupBy("sub")
                .agg(F.count("*").cast("long").alias("n_new"),
                     F.sum("d").cast("long").alias("new_distortion")))
        stale = ((F.col("new_distortion").cast("double") / F.col("n_new"))
                 > (F.lit(PQ_STALENESS_FACTOR)
                    * F.col("corpus_distortion").cast("double")
                    / F.col("n_corpus")))
        return (self.baseline_index(spark, sf_dir).join(bagg, "sub")
                .select(F.col("sub").cast("int").alias("sub"),
                        "n_corpus", "corpus_distortion",
                        "n_new", "new_distortion", stale.alias("stale"))
                .orderBy("sub"))

    def refresh(self, spark: SparkSession, merged_dir: str,
                parent_dir: str) -> DataFrame:
        """The epoch-ingest verb for an index family with no exact
        incremental form — the consumer of the staleness signal.
        `parent_dir` holds epoch N (its codebook is published),
        `merged_dir` epoch N+1 = epoch N plus appended vectors. The
        verb:

        1. identifies the NEW vectors (vec_id anti-join against the
           parent),
        2. runs the staleness monitor on them against the PINNED
           published codebook and the parent's baseline,
        3. acts on the flag — the event-fold-drives-action loop
           (reference: pkg/controller/controller.go:328-385):
           - ANY subspace stale -> RETRAIN: fresh codes and codebook
             (for IVF-PQ a fresh coarse quantizer too) over the merged
             corpus, published under the merged content key, so ANN
             recall recovers to the fresh-train level for every later
             consumer;
           - no subspace stale  -> ADOPT PINNED: encode ONLY the new
             vectors against the pinned state and publish parent codes
             UNION new codes, the carried codebook and the family's
             `carry` artifacts under the merged content key — never
             re-encoding the world. (Declared caveat: a pinned epoch's
             plain-PQ `d` is distortion vs the RECONSTRUCTION codebook,
             the ADC-relevant quantity, while a trained epoch's `d` is
             vs the final training argmin — consumers of `d` beyond
             monitoring should retrain.)

        Two declared invariants: (1) the verb REQUIRES the epoch to be
        append-only and verifies it (_refresh_append_guard); (2) a
        pinned publish and a fresh `index build` of the same merged
        content are two LEGITIMATE rules for one content address —
        whichever lands first owns the slot (write_version mode=error;
        the loser adopts), and the manifest's `encoding: pinned` prop
        records which rule produced the head (`index list` prints it).
        Operators needing fresh-train bytes at a pinned address run
        `index drop` first.

        Returns the per-subspace monitor rows plus the chosen `action`
        ('retrain' | 'adopt_pinned') as literal structs (the
        stage_index_build convention — the decision already happened;
        the frame is the commit-log view of it)."""
        _refresh_append_guard(spark, merged_dir, parent_dir)
        new = (table(spark, merged_dir, "embeddings")
               .join(table(spark, parent_dir, "embeddings").select("vec_id"),
                     "vec_id", "left_anti")
               .select("vec_id", "embedding"))
        rows = self.staleness(spark, parent_dir, new).collect()
        action = ("retrain" if any(r["stale"] for r in rows)
                  else "adopt_pinned")
        if action == "retrain":
            self.code_index(spark, merged_dir)
            self.centroid_index(spark, merged_dir)
        else:
            cent = self.centroid_index(spark, parent_dir)
            builds = {kind: partial(fn, spark, parent_dir, new)
                      for kind, fn in self.carry.items()}
            builds[self.codes] = lambda: (
                self.code_index(spark, parent_dir).unionByName(
                    self.encode(spark, parent_dir, new)
                    .select(*self.code_cols)))
            builds[self.cent] = lambda: cent
            for kind, build in builds.items():
                cached_index(spark, merged_dir, kind, build,
                             tbl="embeddings", rev=self.rev,
                             extra_props={"encoding": "pinned"})
        structs = [F.struct(F.lit(int(r["sub"])).alias("sub"),
                            F.lit(int(r["n_new"])).cast("long")
                            .alias("n_new"),
                            F.lit(bool(r["stale"])).alias("stale"),
                            F.lit(action).alias("action"))
                   for r in rows]
        if not structs:  # no new vectors: nothing to monitor, codes carried
            return spark.range(0).select(
                F.lit(0).alias("sub"), F.lit(0).cast("long").alias("n_new"),
                F.lit(False).alias("stale"), F.lit(action).alias("action"))
        return spark.range(1).select(F.inline(F.array(*structs)))


def _pq_explode(spark: SparkSession, sf_dir: str, emb: DataFrame,
                nprobe: int = 0, persist: bool = False) -> DataFrame:
    """Plain PQ's explode: no coarse cells, so only the frame counts."""
    return _pq_exploded(emb, persist=persist)


PQ = PQFamily(name="pq", codes="pq_assign", cent="pq_cent", base="pq_base",
              rev=1, code_cols=("vec_id", "sub", "cid", "d"), cell=(),
              explode=_pq_explode, carry={})


def pq_code_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted trained PQ codes (vec_id, sub, cid, d)."""
    return PQ.code_index(spark, sf_dir)


def pq_centroid_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted final PQ codebook (sub, cid, dim, cq)."""
    return PQ.centroid_index(spark, sf_dir)


def pq_baseline_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazily recorded PQ corpus baseline (PQFamily.baseline_index)."""
    return PQ.baseline_index(spark, sf_dir)


def pq_staleness(spark: SparkSession, sf_dir: str,
                 batch: DataFrame) -> DataFrame:
    """PQ staleness monitor over `batch` (PQFamily.staleness)."""
    return PQ.staleness(spark, sf_dir, batch)


def pq_refresh(spark: SparkSession, merged_dir: str,
               parent_dir: str) -> DataFrame:
    """PQ epoch refresh (PQFamily.refresh); CLI `index refresh --kind
    pq`."""
    return PQ.refresh(spark, merged_dir, parent_dir)


def nd_pq_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN arm of the staleness loop as a driver-graded row
    (pq_refresh's lifecycle half is pinned by tests/test_pq_refresh.py;
    this row hash-gates the retrain MATH):
    the registered drift batch (the nd_pq_incremental shape, which IS
    stale under the published codebook — the monitor row proves it)
    merges with the corpus and the standard trainer runs fresh over the
    union — the exact computation `index refresh` performs when the
    flag fires. Emits the retrained per-(subspace, code) audit
    (balanced cells + distortion — the nd_pq_quantize convention, now
    over the merged epoch) with the pre-retrain stale flag carried per
    subspace. Seeds are unchanged (batch ids +1M keep the first-PQ_K
    convention), so training is deterministic and the DuckDB oracle
    replays both chains exactly.

    Scale shape: identical to nd_pq_quantize over the merged corpus —
    the exploded matrix is (n+batch) x 64 integer rows, centroids stay
    a broadcast; the monitor half reads the recorded baseline."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    drift = _pq_drift_batch(spark, sf_dir)
    stale_t = (pq_staleness(spark, sf_dir, drift)
               .select("sub", F.col("stale").alias("stale_before")))
    # persist the merged exploded matrix: the unrolled train loop
    # references it ~5x (seeds, two E-steps, the M-step), and the
    # unpersisted r14-entry form recomputed the union+explode per
    # reference. Same staging lifecycle as kmeans_frame: materialize
    # the k-row audit eagerly, release the staging matrix.
    e_m = _pq_exploded(emb.unionByName(drift))
    audit = (pq_train_assign(e_m)
             .groupBy("sub", "cid")
             .agg(F.count("*").alias("n_points"),
                  F.sum("d").cast("long").alias("distortion")))
    out = (audit.join(stale_t, "sub")
           .select(F.col("sub").cast("int").alias("sub"),
                   F.col("cid").alias("cluster_id"), "n_points",
                   "distortion", "stale_before")
           .orderBy("sub", "cluster_id")
           .localCheckpoint(eager=True))
    e_m.unpersist()
    return out


def _pq_round(prev_cent: str, tag: str, src: str = "e") -> str:
    return f"""
d{tag} AS (SELECT {src}.vec_id, {src}.sub, c.cid,
                  CAST(SUM(({src}.q - c.cq) * ({src}.q - c.cq))
                       AS BIGINT) AS d
           FROM {src} JOIN {prev_cent} c ON {src}.dim = c.dim
           GROUP BY {src}.vec_id, {src}.sub, c.cid),
a{tag} AS (SELECT vec_id, sub, cid, d FROM
           (SELECT vec_id, sub, cid, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, cid) AS rn
            FROM d{tag}) t WHERE rn = 1)"""


_PQ_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(i // {PQ_SUB} AS INTEGER) AS sub, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * {KM_SCALE})
              AS BIGINT) + {KM_OFF} AS q
  FROM (SELECT vec_id, embedding, unnest(range({KM_DIMS})) AS i
        FROM embeddings) t),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, dim, q AS cq
       FROM e WHERE vec_id < {PQ_K}),
{_pq_round('c0', '1')},
c1 AS (SELECT a.cid, e.dim, SUM(e.q) // COUNT(*) AS cq
       FROM e JOIN a1 a ON e.vec_id = a.vec_id AND e.sub = a.sub
       GROUP BY a.cid, e.dim),
{_pq_round('c1', '2')}
SELECT sub, cid AS cluster_id, COUNT(*) AS n_points,
       CAST(SUM(d) AS BIGINT) AS distortion
FROM a2 GROUP BY sub, cid ORDER BY sub, cluster_id
"""


# Shared CTE prefix: exact integer PQ training over the embeddings
# table — exploded coords (e), seed codebook (c0), two Lloyd rounds
# (a1/c1/a2), and the final M-step reconstruction codebook (c2, the
# pq_centroid_index convention: group means under the final
# assignment). Every oracle that consumes the TRAINED index (the
# staleness monitor, the end-to-end ADC retrieval) replays this
# prefix verbatim, so the trained state is re-derived independently
# rather than read from the (hash-gated) Spark artifact.
_PQ_TRAIN_CTES = f"""e AS (
  SELECT vec_id, CAST(i // {PQ_SUB} AS INTEGER) AS sub, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * {KM_SCALE})
              AS BIGINT) + {KM_OFF} AS q
  FROM (SELECT vec_id, embedding, unnest(range({KM_DIMS})) AS i
        FROM embeddings) t),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, dim, q AS cq
       FROM e WHERE vec_id < {PQ_K}),
{_pq_round('c0', '1')},
c1 AS (SELECT a.cid, e.dim, SUM(e.q) // COUNT(*) AS cq
       FROM e JOIN a1 a ON e.vec_id = a.vec_id AND e.sub = a.sub
       GROUP BY a.cid, e.dim),
{_pq_round('c1', '2')},
c2 AS (SELECT a.cid, e.dim, SUM(e.q) // COUNT(*) AS cq
       FROM e JOIN a2 a ON e.vec_id = a.vec_id AND e.sub = a.sub
       GROUP BY a.cid, e.dim)"""


# The staleness-monitor CTE suffix (corpus baseline under c2 with the
# published assignment + the drifted batch's fresh-argmin distortion),
# shared by the monitor row and the retrain row.
_PQ_MONITOR_CTES = f"""cd AS (SELECT a.vec_id, a.sub,
              CAST(SUM((e.q - c.cq) * (e.q - c.cq)) AS BIGINT) AS d
       FROM e JOIN a2 a ON e.vec_id = a.vec_id AND e.sub = a.sub
       JOIN c2 c ON c.cid = a.cid AND c.dim = e.dim
       GROUP BY a.vec_id, a.sub),
corp AS (SELECT sub, COUNT(*) AS n_corpus,
                CAST(SUM(d) AS BIGINT) AS corpus_distortion
         FROM cd GROUP BY sub),
eb AS (
  SELECT vec_id + 1000000 AS vec_id,
         CAST(i // {PQ_SUB} AS INTEGER) AS sub, i AS dim,
         CAST(FLOOR((CAST(embedding[i + 1] AS DOUBLE) * CAST(0.5 AS DOUBLE)
                     + CAST(0.45 AS DOUBLE))
                    * {KM_SCALE}) AS BIGINT) + {KM_OFF} AS q
  FROM (SELECT vec_id, embedding, unnest(range({KM_DIMS})) AS i
        FROM embeddings WHERE vec_id % 7 = 3) t),
bd AS (SELECT eb.vec_id, eb.sub, c.cid,
              CAST(SUM((eb.q - c.cq) * (eb.q - c.cq)) AS BIGINT) AS d
       FROM eb JOIN c2 c ON eb.dim = c.dim
       GROUP BY eb.vec_id, eb.sub, c.cid),
ba AS (SELECT vec_id, sub, d FROM
       (SELECT vec_id, sub, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d, cid) AS rn
        FROM bd) t WHERE rn = 1),
bagg AS (SELECT sub, COUNT(*) AS n_new,
                CAST(SUM(d) AS BIGINT) AS new_distortion
         FROM ba GROUP BY sub)"""


_PQ_INCR_ORACLE = f"""
WITH {_PQ_TRAIN_CTES},
{_PQ_MONITOR_CTES}
SELECT CAST(corp.sub AS INTEGER) AS sub, n_corpus, corpus_distortion,
       n_new, new_distortion,
       (CAST(new_distortion AS DOUBLE) / n_new)
         > ({PQ_STALENESS_FACTOR} *
            CAST(corpus_distortion AS DOUBLE) / n_corpus) AS stale
FROM corp JOIN bagg ON corp.sub = bagg.sub
ORDER BY sub
"""


# The retrain row's oracle (round 14): replays BOTH training chains —
# the corpus-trained codebook (for the staleness decision the retrain
# consumed) and the FRESH training over corpus UNION drifted batch (the
# retrain itself), all exact integer math. Seeds stay the first PQ_K
# vec_ids (batch ids are +1M, so the seed set is unchanged — the
# deterministic-seeds convention).
_PQ_RETRAIN_ORACLE = f"""
WITH {_PQ_TRAIN_CTES},
{_PQ_MONITOR_CTES},
stale_t AS (SELECT corp.sub,
                   (CAST(new_distortion AS DOUBLE) / n_new)
                     > ({PQ_STALENESS_FACTOR} *
                        CAST(corpus_distortion AS DOUBLE) / n_corpus)
                   AS stale_before
            FROM corp JOIN bagg ON corp.sub = bagg.sub),
em AS (SELECT vec_id, sub, dim, q FROM e
       UNION ALL SELECT vec_id, sub, dim, q FROM eb),
m0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, dim, q AS cq
       FROM em WHERE vec_id < {PQ_K}),
{_pq_round('m0', 'm1', 'em')},
cm1 AS (SELECT a.cid, em.dim, SUM(em.q) // COUNT(*) AS cq
        FROM em JOIN am1 a ON em.vec_id = a.vec_id AND em.sub = a.sub
        GROUP BY a.cid, em.dim),
{_pq_round('cm1', 'm2', 'em')},
audit AS (SELECT sub, cid AS cluster_id, COUNT(*) AS n_points,
                 CAST(SUM(d) AS BIGINT) AS distortion
          FROM am2 GROUP BY sub, cid)
SELECT CAST(audit.sub AS INTEGER) AS sub, cluster_id, n_points,
       distortion, stale_before
FROM audit JOIN stale_t ON stale_t.sub = audit.sub
ORDER BY sub, cluster_id
"""


# End-to-end ADC retrieval oracle (round 14): replays nd_ann_pq's ENTIRE
# pipeline — PQ training (the shared prefix), the per-(query, sub, cid)
# integer LUT, the ADC shortlist (deterministically tie-broken on
# (adist, nn)), and the exact cosine re-rank. Every stage is exact
# integer math except the final cosine, which both engines compute as
# the SAME strictly-left-to-right double fold (dot_double / list_sum —
# bit-identical, the q30/nd_ann_topk convention), so the family is
# hash-gated END TO END: candidates -> LUT -> re-rank, no recall
# tolerance anywhere.
_ANN_PQ_ORACLE = f"""
WITH {_PQ_TRAIN_CTES},
eq AS (SELECT vec_id AS qid, sub, dim, q FROM e WHERE vec_id < 20),
lut AS (SELECT eq.qid, eq.sub, c.cid,
               CAST(SUM((eq.q - c.cq) * (eq.q - c.cq)) AS BIGINT) AS d
        FROM eq JOIN c2 c ON eq.dim = c.dim
        GROUP BY eq.qid, eq.sub, c.cid),
ad AS (SELECT l.qid, a.vec_id AS nn, CAST(SUM(l.d) AS BIGINT) AS adist
       FROM a2 a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
       WHERE l.qid <> a.vec_id
       GROUP BY l.qid, a.vec_id),
short AS (SELECT qid, nn FROM
          (SELECT qid, nn,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY adist, nn) AS srank
           FROM ad) t WHERE srank <= {PQ_SHORTLIST})
SELECT vec_id, rank, nn, cos FROM
(SELECT s.qid AS vec_id, s.nn AS nn, {_DOT_SQL} AS cos,
        ROW_NUMBER() OVER (PARTITION BY s.qid
                           ORDER BY {_DOT_SQL} DESC, s.nn) AS rank
 FROM short s JOIN embeddings a ON a.vec_id = s.qid
              JOIN embeddings b ON b.vec_id = s.nn) t
WHERE rank <= 3 ORDER BY vec_id, rank
"""


def nd_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance computation) retrieval over the trained
    PQ codes, with exact re-ranking: approx dist(query, x) = Σ_sub
    d(query_sub, centroid of x's code in sub) — the query stays
    full-precision, the corpus side is PQ_M nibble codes per vector —
    then the PQ_SHORTLIST best ADC candidates per query are re-scored
    with the TRUE full-dimension cosine (the standard two-stage shape:
    compressed codes prune 500 -> 50, exact math ranks the survivors;
    ADC alone on structure-free random unit vectors ranks at ~0.33
    recall@3, re-ranked ~0.95). The plan IS the production ADC scan:
    the per-(query, sub, cid) LUT is a BROADCAST of n_queries x PQ_M x
    PQ_K exact integer distances joined onto the code table (PQ_M rows
    per corpus vector — the only thing that scales with n), and the
    full floats are touched only for the shortlist. Top-3 per query.

    HASH-GATED END TO END (_ANN_PQ_ORACLE): training,
    LUT, and shortlist are exact integer math with deterministic
    (adist, nn) tie-breaks, and the re-rank cosine is the shared
    left-fold double both engines compute bit-identically — so the one
    ANN family a user would actually deploy at scale (compressed-code
    scan + exact re-rank) carries a full value-hash driver grade, not
    just a recall floor. Recall@3 vs brute force stays threshold-tested
    in tests/ (the semantics, not the implementation, are approximate)."""
    emb = table(spark, sf_dir, "embeddings")
    return adc_topk(emb, pq_code_index(spark, sf_dir),
                    pq_centroid_index(spark, sf_dir),
                    F.col("vec_id") < 20)


def adc_topk(emb: DataFrame, assign: DataFrame, cent: DataFrame,
             qpred: Column, shortlist: int = PQ_SHORTLIST,
             k: int = 3, *, cell: tuple = (),
             queries: DataFrame | None = None) -> DataFrame:
    """The ADC retrieval plan over an arbitrary (corpus, codes,
    codebook) triple — LUT, then shortlist, then exact re-rank — shared
    by nd_ann_pq, nd_ann_ivfpq and the refresh tests (recall under a
    PINNED vs a RETRAINED codebook on the same corpus). `qpred` selects
    the query rows out of `emb`; `queries` is their exploded form
    (vec_id, *cell, sub, dim, q), by default the plain PQ explode. With
    cell=("cluster",) the queries are IVF-PQ residuals, one set per
    probed cell: residuals are coded against the cell centroid, so the
    LUT is per (query, cell) and a code meets only its own cell's
    rows."""
    if queries is None:
        # explode ONLY the query batch, never the corpus
        queries = _pq_exploded(emb.where(qpred), persist=False)
    # LUT: exact integer distance query-subvector -> every centroid
    lut = _pq_dist(queries.withColumnRenamed("vec_id", "qid"), cent,
                   ("qid", *cell, "sub"))
    codes = assign.select(F.col("vec_id").alias("nn"), *cell, "sub", "cid")
    ws = Window.partitionBy("qid").orderBy("adist", "nn")
    short = (codes.join(F.broadcast(lut), [*cell, "sub", "cid"])
             .where(F.col("qid") != F.col("nn"))
             .groupBy("qid", "nn")
             .agg(F.sum("d").alias("adist"))
             .withColumn("srank", F.row_number().over(ws))
             .where(F.col("srank") <= shortlist)
             .select("qid", "nn"))
    # exact re-rank: shortlist ids broadcast onto ONE corpus scan for
    # the candidate vectors, query vectors broadcast (tiny)
    cv = emb.select(F.col("vec_id").alias("nn"),
                    F.col("embedding").alias("c_emb"))
    qv = emb.where(qpred).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    wr = Window.partitionBy("qid").orderBy(F.desc("cos_raw"), F.asc("nn"))
    return (cv.join(F.broadcast(short), "nn")
            .join(F.broadcast(qv), "qid")
            .select("qid", "nn",
                    cosine(F.col("q_emb"), F.col("c_emb"))
                    .alias("cos_raw"))
            .withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= k)
            .select(F.col("qid").alias("vec_id"), "rank", "nn",
                    F.col("cos_raw").alias("cos"))
            .orderBy("vec_id", "rank"))


# --- IVF-PQ ------------------------------------------------------------------
IVFPQ_NPROBE = 4
IVFPQ_OFF = 4096  # residuals are signed; shift keeps sum-DIV-count exact
IVFPQ_SHORTLIST = 50


def _ivfpq_residual_exploded(emb: DataFrame, cells: DataFrame,
                             coarse: DataFrame) -> DataFrame:
    """(vec_id, cluster, sub, dim, q): the residual analog of
    _pq_exploded, PURE INTEGER: the residual coordinate
    is q_v - cq + IVFPQ_OFF where q_v is the vector's quantized coord
    and cq its cell centroid's (itself an integer mean), so there is no
    float roundtrip anywhere in the IVF-PQ plane and the oracles replay
    every stage exactly. The in-plan nonnegativity guard stays —
    pq_train_assign's sum-DIV-count M-step truncates toward zero on
    negatives where the oracle floors, so a residual outside the
    IVFPQ_OFF envelope must fail loudly rather than silently train
    wrong centroids. `cells` is (vec_id, cluster); `coarse` is the
    exploded quantizer (cluster, dim, cq)."""
    q0 = F.col("qv") - F.col("cq") + F.lit(IVFPQ_OFF)
    qsafe = F.when(q0 >= 0, q0).otherwise(F.expr(
        "raise_error(concat('ivfpq: quantized residual < 0 for vec_id ',"
        " CAST(vec_id AS STRING), ' — residual below the IVFPQ_OFF "
        "envelope; widen IVFPQ_OFF'))").cast("long"))
    e = _ivf_q_exploded(emb).withColumnRenamed("q", "qv")
    return (e.join(cells, "vec_id")
            .join(F.broadcast(coarse), ["cluster", "dim"])
            .select("vec_id", "cluster",
                    (F.col("dim") / PQ_SUB).cast("int").alias("sub"),
                    "dim", qsafe.alias("q")))


def _probe_cells(spark: SparkSession, sf_dir: str, emb: DataFrame,
                 nprobe: int) -> DataFrame:
    """(vec_id, cluster): each row's `nprobe` nearest cells under
    sf_dir's published coarse quantizer, ranked inside the scan
    (_probe_cells_expr). nprobe=1 is the corpus rule of ivf_cells_index
    (same integer distances, same (d, cluster) tie-break)."""
    return emb.select("vec_id", F.explode(_probe_cells_expr(
        _coarse_rows(spark, sf_dir), nprobe)).alias("cluster"))


def _ivfpq_explode(spark: SparkSession, sf_dir: str, emb: DataFrame,
                   nprobe: int = 0, persist: bool = False) -> DataFrame:
    """IVF-PQ's explode (see PQFamily): the residuals (vec_id, cluster,
    sub, dim, q) of `emb` against its cells under sf_dir's published
    coarse quantizer — the published corpus cells when nprobe is 0,
    else each row's nprobe nearest cells."""
    cells = (ivf_cells_index(spark, sf_dir) if nprobe == 0
             else _probe_cells(spark, sf_dir, emb, nprobe))
    e = _ivfpq_residual_exploded(emb, cells, ivf_coarse_index(spark, sf_dir))
    if persist:
        from pyspark.storagelevel import StorageLevel
        e = e.persist(StorageLevel.DISK_ONLY)
        # materialize before any plan reads it: AQE then plans every
        # join over `e` with the cached relation's real size, instead of
        # sometimes launching a shuffle over it before it broadcasts the
        # join's other side (one racing job per build)
        e.count()
    return e


# A pinned IVF-PQ refresh carries the parent's coarse quantizer verbatim
# and its cells plus the new vectors' cells under that quantizer: the
# merged codes are assigned under exactly these two artifacts.
IVFPQ = PQFamily(
    name="ivfpq", codes="ivfpq_codes", cent="ivfpq_cent",
    base="ivfpq_base", rev=IVF_REV,
    code_cols=("vec_id", "cluster", "sub", "cid"), cell=("cluster",),
    explode=_ivfpq_explode,
    carry={"ivf_coarse": lambda spark, parent_dir, new:
           ivf_coarse_index(spark, parent_dir),
           "ivf_cells": lambda spark, parent_dir, new:
           ivf_cells_index(spark, parent_dir).unionByName(
               _probe_cells(spark, parent_dir, new, 1))})
PQ_FAMILIES = (PQ, IVFPQ)


def ivfpq_code_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ codes (vec_id, cluster, sub, cid): coarse cell +
    residual-PQ code per subspace — the full IVF-PQ index payload (one
    int + PQ_M nibbles per vector)."""
    return IVFPQ.code_index(spark, sf_dir)


def ivfpq_centroid_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted residual-PQ codebook (sub, cid, dim, cq)."""
    return IVFPQ.centroid_index(spark, sf_dir)


def ivfpq_baseline_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazily recorded IVF-PQ corpus baseline
    (PQFamily.baseline_index)."""
    return IVFPQ.baseline_index(spark, sf_dir)


def ivfpq_staleness(spark: SparkSession, sf_dir: str,
                    batch: DataFrame) -> DataFrame:
    """IVF-PQ staleness monitor over `batch` (PQFamily.staleness): the
    batch is coarse-assigned with the PUBLISHED quantizer and its
    residuals encode against the published residual codebook."""
    return IVFPQ.staleness(spark, sf_dir, batch)


def ivfpq_refresh(spark: SparkSession, merged_dir: str,
                  parent_dir: str) -> DataFrame:
    """IVF-PQ epoch refresh (PQFamily.refresh): a retrain publishes a
    fresh coarse quantizer, residual codebook and codes; the pinned path
    carries both quantizers. CLI `index refresh --kind ivfpq`."""
    return IVFPQ.refresh(spark, merged_dir, parent_dir)


def nd_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ retrieval — the canonical production ANN composition, all
    three stages in one plan: (1) coarse cells PRUNE (queries probe
    IVFPQ_NPROBE of N_CLUSTERS cells; at corpus scale the code table is
    partitioned by cell, so a query touches NPROBE/K of the data),
    (2) shared residual-PQ codes COMPRESS (ADC over a broadcast
    per-(query, probed-cell) LUT of exact integer distances — residuals
    are coded against the cell centroid, so the LUT is per cell),
    (3) exact full-dimension cosine RE-RANKS the IVFPQ_SHORTLIST best.

    HASH-GATED END TO END (_ANN_IVFPQ_ORACLE): coarse training and cell
    assignment are the integer-exact kmeans convention, residuals are
    pure integer deltas against the integer cell centroids, the
    residual codebooks train through the exact PQ loop, the ADC LUT is
    exact integer math with (adist, nn) tie-breaks, and the re-rank is
    the bit-identical cosine fold. Recall stays threshold-tested in
    tests/ — approximate semantics, exact implementation."""
    emb = table(spark, sf_dir, "embeddings")
    qpred = F.col("vec_id") < 20
    return adc_topk(
        emb, ivfpq_code_index(spark, sf_dir),
        ivfpq_centroid_index(spark, sf_dir), qpred, IVFPQ_SHORTLIST,
        cell=IVFPQ.cell,
        queries=_ivfpq_explode(spark, sf_dir, emb.where(qpred)
                               .select("vec_id", "embedding"),
                               nprobe=IVFPQ_NPROBE))


# Shared coarse-quantizer CTE prefix (round 14): the integer-exact IVF
# training chain — quantized coords (e), seed centroids (ic0), one
# Lloyd refinement (ivd1/iva1 + ic1 means), the final assignment ranking
# (ivd2/ivr2) whose rn=1 rows are the corpus cells. Replays
# ivf_coarse_index + ivf_cells_index + _ivf_assign_ranked exactly
# ((d, cluster) tie-breaks everywhere).
_IVF_COARSE_CTES = f"""e AS (
  SELECT vec_id, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * {KM_SCALE})
              AS BIGINT) + {KM_OFF} AS q
  FROM (SELECT vec_id, embedding, unnest(range({KM_DIMS})) AS i
        FROM embeddings) t),
ic0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, dim, q AS cq
        FROM e WHERE vec_id < {N_CLUSTERS}),
ivd1 AS (SELECT e.vec_id, c.cluster,
                CAST(SUM((e.q - c.cq) * (e.q - c.cq)) AS BIGINT) AS d
         FROM e JOIN ic0 c ON e.dim = c.dim
         GROUP BY e.vec_id, c.cluster),
iva1 AS (SELECT vec_id, cluster FROM
         (SELECT vec_id, cluster,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY d, cluster) AS rn
          FROM ivd1) t WHERE rn = 1),
ic1 AS (SELECT a.cluster, e.dim, SUM(e.q) // COUNT(*) AS cq
        FROM e JOIN iva1 a ON e.vec_id = a.vec_id
        GROUP BY a.cluster, e.dim),
ivd2 AS (SELECT e.vec_id, c.cluster,
                CAST(SUM((e.q - c.cq) * (e.q - c.cq)) AS BIGINT) AS d
         FROM e JOIN ic1 c ON e.dim = c.dim
         GROUP BY e.vec_id, c.cluster),
ivr2 AS (SELECT vec_id, cluster,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY d, cluster) AS rn
         FROM ivd2),
cells AS (SELECT vec_id, cluster FROM ivr2 WHERE rn = 1)"""


# End-to-end IVF-Flat oracle (round 14): coarse training + cell
# assignment + probe ranking are exact integer math; the re-rank is
# the bit-identical cosine fold over every probed candidate.
_ANN_IVF_ORACLE = f"""
WITH {_IVF_COARSE_CTES},
probes AS (SELECT vec_id AS qid, cluster FROM ivr2
           WHERE vec_id < 20 AND rn <= {NPROBE})
SELECT vec_id, rank, nn, cos FROM
(SELECT pr.qid AS vec_id, c.vec_id AS nn, {_DOT_SQL} AS cos,
        ROW_NUMBER() OVER (PARTITION BY pr.qid
                           ORDER BY {_DOT_SQL} DESC, c.vec_id) AS rank
 FROM probes pr JOIN cells c ON pr.cluster = c.cluster
                            AND c.vec_id <> pr.qid
 JOIN embeddings a ON a.vec_id = pr.qid
 JOIN embeddings b ON b.vec_id = c.vec_id) t
WHERE rank <= 3 ORDER BY vec_id, rank
"""


# End-to-end IVF-PQ oracle (round 14 — the LAST ANN family leaves the
# no_oracle set): coarse chain, pure-integer residuals (q - cq +
# IVFPQ_OFF against the integer cell centroids), the residual PQ
# training chains, the per-(query, probed-cell) integer ADC LUT, the
# (adist, nn)-tie-broken shortlist, and the exact cosine re-rank.
_ANN_IVFPQ_ORACLE = f"""
WITH {_IVF_COARSE_CTES},
er AS (SELECT e.vec_id, cl.cluster,
              CAST(e.dim // {PQ_SUB} AS INTEGER) AS sub, e.dim,
              e.q - c.cq + {IVFPQ_OFF} AS q
       FROM e JOIN cells cl ON cl.vec_id = e.vec_id
       JOIN ic1 c ON c.cluster = cl.cluster AND c.dim = e.dim),
rc0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, dim, q AS cq
        FROM er WHERE vec_id < {PQ_K}),
{_pq_round('rc0', 'r1', 'er')},
rc1 AS (SELECT a.cid, er.dim, SUM(er.q) // COUNT(*) AS cq
        FROM er JOIN ar1 a ON er.vec_id = a.vec_id AND er.sub = a.sub
        GROUP BY a.cid, er.dim),
{_pq_round('rc1', 'r2', 'er')},
rc2 AS (SELECT a.cid, er.dim, SUM(er.q) // COUNT(*) AS cq
        FROM er JOIN ar2 a ON er.vec_id = a.vec_id AND er.sub = a.sub
        GROUP BY a.cid, er.dim),
codes AS (SELECT a.vec_id, cl.cluster, a.sub, a.cid
          FROM ar2 a JOIN cells cl ON cl.vec_id = a.vec_id),
qprobe AS (SELECT vec_id AS qid, cluster FROM ivr2
           WHERE vec_id < 20 AND rn <= {IVFPQ_NPROBE}),
qe AS (SELECT p.qid, p.cluster,
              CAST(e.dim // {PQ_SUB} AS INTEGER) AS sub, e.dim,
              e.q - c.cq + {IVFPQ_OFF} AS q
       FROM qprobe p JOIN e ON e.vec_id = p.qid
       JOIN ic1 c ON c.cluster = p.cluster AND c.dim = e.dim),
lut AS (SELECT qe.qid, qe.cluster, qe.sub, r.cid,
               CAST(SUM((qe.q - r.cq) * (qe.q - r.cq)) AS BIGINT) AS d
        FROM qe JOIN rc2 r ON qe.dim = r.dim
        GROUP BY qe.qid, qe.cluster, qe.sub, r.cid),
ad AS (SELECT l.qid, co.vec_id AS nn, CAST(SUM(l.d) AS BIGINT) AS adist
       FROM codes co JOIN lut l ON co.cluster = l.cluster
            AND co.sub = l.sub AND co.cid = l.cid
       WHERE l.qid <> co.vec_id
       GROUP BY l.qid, co.vec_id),
short AS (SELECT qid, nn FROM
          (SELECT qid, nn,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY adist, nn) AS srank
           FROM ad) t WHERE srank <= {IVFPQ_SHORTLIST})
SELECT vec_id, rank, nn, cos FROM
(SELECT s.qid AS vec_id, s.nn AS nn, {_DOT_SQL} AS cos,
        ROW_NUMBER() OVER (PARTITION BY s.qid
                           ORDER BY {_DOT_SQL} DESC, s.nn) AS rank
 FROM short s JOIN embeddings a ON a.vec_id = s.qid
              JOIN embeddings b ON b.vec_id = s.nn) t
WHERE rank <= 3 ORDER BY vec_id, rank
"""


QUERIES = {
    "nd_embedding_covariance": (nd_embedding_covariance,
                                _COVARIANCE_ORACLE),
    # callable oracle: the SQL inlines model constants derived per
    # fixture (registry.oracle_sql resolves callables at collection)
    "nd_pca_project": (nd_pca_project, _pca_oracle_sql),
    # callable oracle: inlines per-fixture fit constants, the
    # nd_pca_project convention (registry resolves callables)
    "nd_ann_pca": (nd_ann_pca, _ann_pca_oracle_sql),
    "nd_pq_quantize": (nd_pq_quantize, _PQ_ORACLE),
    "nd_pq_incremental": (nd_pq_incremental, _PQ_INCR_ORACLE),
    "nd_pq_retrain": (nd_pq_retrain, _PQ_RETRAIN_ORACLE),
    "nd_ann_pq": (nd_ann_pq, _ANN_PQ_ORACLE),
    "nd_ann_ivfpq": (nd_ann_ivfpq, _ANN_IVFPQ_ORACLE),
    "nd_semantic_dedup": (nd_semantic_dedup, _SEMDEDUP_ORACLE),
    "nd_kmeans": (nd_kmeans, _KMEANS_ORACLE),
    "nd_embedding_quantize": (nd_embedding_quantize, _QUANTIZE_ORACLE),
    "q30_nn": (
        q30_nn,
        # ranked-window form, ties broken by vec_id (min_by is
        # arbitrary on ties in both engines — see q30_nn)
        "SELECT vec_id, nn FROM ("
        "SELECT a.vec_id AS vec_id, b.vec_id AS nn, "
        "ROW_NUMBER() OVER (PARTITION BY a.vec_id "
        f"ORDER BY 1 - ({_DOT_SQL}), b.vec_id) AS rn "
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id "
        "WHERE a.vec_id < 50 AND b.vec_id < 50) t "
        "WHERE rn = 1 ORDER BY vec_id",
    ),
    "nd_cosine_neardup": (
        nd_cosine_neardup,
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id, "
        f"{_DOT_SQL} AS cos "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        f"WHERE a.vec_id < 200 AND b.vec_id < 200 AND {_DOT_SQL} >= 0.4 "
        "ORDER BY a_id, b_id",
    ),
    "nd_ann_topk": (
        nd_ann_topk,
        "SELECT vec_id, rank, nn, cos_raw AS cos FROM ("
        "SELECT a.vec_id AS vec_id, b.vec_id AS nn, "
        f"{_DOT_SQL} AS cos_raw, "
        "ROW_NUMBER() OVER (PARTITION BY a.vec_id "
        f"ORDER BY {_DOT_SQL} DESC, b.vec_id) AS rank "
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id "
        "WHERE a.vec_id < 20) t "
        "WHERE rank <= 3 ORDER BY vec_id, rank",
    ),
    "nd_ann_lsh": (nd_ann_lsh, _ANN_LSH_ORACLE),
    "nd_ann_ivf": (nd_ann_ivf, _ANN_IVF_ORACLE),
    # same semantics and oracle as nd_ann_ivf; the gather phase reads
    # the published inverted file with manifest-stat file pruning
    "nd_ann_ivf_pruned": (nd_ann_ivf_pruned, _ANN_IVF_ORACLE),
    "nd_ann_lsh_candidates": (nd_ann_lsh_candidates,
                              _LSH_CANDIDATES_ORACLE),
    "nd_ann_lsh_bucketstats": (nd_ann_lsh_bucketstats,
                               _LSH_BUCKETSTATS_ORACLE),
    "nd_ann_ivf_cellstats": (nd_ann_ivf_cellstats, _IVF_CELLSTATS_ORACLE),
    "nd_centroids": (
        nd_centroids,
        "SELECT label, CAST(i - 1 AS INTEGER) AS dim, "
        "ROUND(AVG(embedding[i]), 6) AS mean_v, "
        "ROUND(STDDEV_SAMP(embedding[i]), 6) AS sd_v "
        "FROM embeddings CROSS JOIN (SELECT unnest(range(1, 9)) AS i) idx "
        "GROUP BY label, dim ORDER BY label, dim",
    ),
    "nd_vector_norm": (
        nd_vector_norm,
        "SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim, "
        "sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * x))) AS l2_norm "
        "FROM embeddings ORDER BY vec_id",
    ),
}
