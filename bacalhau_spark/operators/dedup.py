"""Deduplication operators — exact and near-dup, the training-data stack.

The reference has no dedup (its users would ship it as container code); these
are first-class engine operators designed for the 100 TB regime:

- exact dedup: hash-groupBy on a content fingerprint — shuffles one 16-byte
  hash + key per row, never the text itself.
- MinHash + LSH: shingle → seeded minhash signature → folded band keys,
  bucketed, capped and expanded to a<b pairs by operators.buckets (the
  one bucket core every banded near-dup family shares). No O(n²)
  comparison ever happens.
- SimHash: 16-bit sign-of-sum signature, one groupBy per (doc, bit).
- n-gram Jaccard: capped shingle posting lists, pairs expanded per list,
  then exact Jaccard on the pair counts.

All hashing is md5-based (cross-engine deterministic) so every operator is
checkable against the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bacalhau_spark.catalog import read_parts, spread_compute, table
from bacalhau_spark.functions import shingles, words
from bacalhau_spark.operators.buckets import (BUCKET_CAP, band_cols, bands,
                                              cand_count, gated_broadcast,
                                              live_keys, pair_sides, pairs,
                                              postings, within_cap)
from bacalhau_spark.sources.indexstore import (cached_index, rowwise_index,
                                               session_view,
                                               table_part_paths)
# Re-exported: callers that predate sources.indexstore (the benchmark's
# crawl workload among them) import the cold-path lever from here.
from bacalhau_spark.sources.indexstore import clear_session_index  # noqa

N_HASHES = 16   # minhash signature length
N_BANDS = 4     # LSH bands (4 rows per band)
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.5

# Universal-hash family for minhash: ONE md5 per shingle (the expensive
# part), then h_s(x) = (a_s*x + b_s) mod p over its 60-bit integer prefix —
# 16 cheap long-arithmetic permutations instead of 16 md5 calls. Constants
# are fixed (seeded LCG) so both engines compute identical signatures.
MH_PRIME = 2147483647  # 2^31 - 1; a*x stays < 2^62 (no bigint overflow)
MH_AB = tuple(
    ((1103515245 * s + 12345) % MH_PRIME or 1,
     (69069 * s + 1013904223) % MH_PRIME)
    for s in range(N_HASHES)
)
# Polynomial combiner for rolling word-window shingle keys (see
# _rolling_shingle_keys). < 2^31 so acc*C stays under 2^62.
MH_ROLL_C = 1_000_003
# Modulus for the folded band-BUCKET keys (not the minhash values, which
# stay mod MH_PRIME): largest prime < 2^43, the widest the polynomial
# fold can run without long overflow (acc*C < 2^63 needs acc < 2^43 with
# C ~ 2^20). A 31-bit bucket space would birthday-collide at ~10^5
# (doc, band) rows — merging unrelated buckets and corrupting clusters
# at corpus scale; 43 bits pushes the first expected collision past
# ~4M rows and keeps spurious merges ~1e-6 at 10^7.
BKEY_PRIME = 8_796_093_022_151
MH_SHINGLE_N = 5


def q29_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup + per-language survivor counts (Q29)."""
    return (
        table(spark, sf_dir, "documents")
        .select("text", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count("*").alias("docs"))
        .orderBy("lang")
    )


def nd_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact dedup: group by content hash, survivor = min doc_id.
    The shuffle key is md5(text), not text — constant-width rows at any
    document size."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("copies"))
        .select("doc_id", "copies")
        .orderBy("doc_id")
    )


def _word_hashes(text_col) -> "F.Column":
    """Per-word 60-bit hashes: one md5 per WORD (not per shingle)."""
    return F.transform(
        words(text_col),
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10)
        .cast("long") % MH_PRIME)


def _rolling_shingle_keys(wh_col) -> "F.Column":
    """Integer shingle keys from rolling word-hash windows — no shingle
    string is ever materialized: each 5-word window key is a polynomial
    fold of the 5 word hashes mod MH_PRIME (4 multiply-adds per shingle,
    all in codegen). Replacing the concat-5-words-then-md5 scheme cut the
    signature stage 1.58s → 0.60s at sf0.1: the shingle string build +
    long-input md5 was the dominant cost in both engines. DuckDB computes
    the identical keys (same md5 prefix, same polynomial), so hash-gating
    is unaffected.

    `wh_col` MUST be a projected column of _word_hashes output, not the
    raw expression: the window fold indexes it 5 times per shingle, and
    inlining the per-word md5 transform into every access makes Catalyst
    re-evaluate the whole array per term — measured 50x slower (53s vs
    1.0s at sf0.1)."""

    def poly(arr, i):
        acc = arr[i]
        for k in range(1, MH_SHINGLE_N):
            acc = (acc * MH_ROLL_C + arr[i + F.lit(k)]) % MH_PRIME
        return acc

    n = F.size(wh_col)
    return F.when(
        n >= MH_SHINGLE_N,
        F.transform(F.sequence(F.lit(0), n - MH_SHINGLE_N),
                    lambda i: poly(wh_col, i)),
    ).otherwise(F.array().cast("array<long>"))


def _minhash_signatures(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Wide minhash signature rows (doc_id, mh0..mh15) over a documents
    frame — the transform behind minhash_signature_index, a spread
    wrapper over _mh_sig_frame, which holds the ONE implementation of
    the signature pipeline (the incremental probe is only correct if
    its fold stays byte-identical to the index build's, so there must
    be exactly one fold to edit)."""
    return _mh_sig_frame(spread_compute(
        spark, docs.select("doc_id", "text"), "doc_id"))


def sym_edges(cand: DataFrame) -> DataFrame:
    """(a_id, b_id) pairs -> the symmetric (src, dst) edge set, via
    explode, not union-of-two-selects: the union form is two branches
    over the same lineage, which Spark evaluates twice when a consumer
    persists (no subplan sharing). One statement for every CC caller."""
    return (cand.select(F.explode(F.array(
        F.struct(F.col("a_id").alias("src"), F.col("b_id").alias("dst")),
        F.struct(F.col("b_id").alias("src"), F.col("a_id").alias("dst")),
    )).alias("e")).select("e.src", "e.dst"))


def minhash_signature_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE persisted minhash signature index (kind `sig`), built once
    per table content and read by every LSH consumer."""
    return rowwise_index(
        spark, sf_dir, "sig", lambda docs: _minhash_signatures(spark, docs),
        # signatures AGGREGATE per doc — delta adoption is only sound
        # when the appended shards carry no existing doc_id (the store's
        # disjointness guard); the per-row-map kinds don't need it
        delta_key="doc_id")


def band_candidate_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted LSH candidate pairs over the signature index, shared
    by clusters, survivors, estimate and editdist. An appended corpus
    delta-adopts (_cand_delta): a candidate pair either involves a new
    doc (the probe finds it) or was already a parent pair (hardlinked)."""
    staged: list[DataFrame] = []
    return cached_index(
        spark, sf_dir, "cand",
        lambda: _band_candidates(minhash_signature_index(spark, sf_dir)),
        delta=lambda new: _cand_delta(spark, sf_dir, new, staged=staged),
        # the delta probe persists two key-sized staging frames across
        # its guard actions and the publish; release them once the
        # artifact is materialized
        cleanup=lambda: [f.unpersist() for f in staged])


# Width gate for the cand delta: the delta path pays a fixed guard cost
# (the disjointness pass, the persisted (doc_id, bkey) materialization,
# the crossed-cap counts) that only amortizes once the PARENT corpus is
# wide enough. One-box calibration (experiments/index_delta_r13.txt,
# re-pinned in index_delta_r14.txt): 0.93x at 30 parent shards, 1.33x
# at 100, 3.09x at 300 — crossover ~x50. Below the gate _cand_delta
# declines and the store takes the cheaper full rebuild.
CAND_DELTA_MIN_PARENT_SHARDS = 50


def _cand_delta(spark: SparkSession, sf_dir: str, new_paths: list[str],
                staged: list | None = None):
    """The NEW candidate pairs of an appended corpus: the rows that,
    unioned with the parent's hardlinked pair files, equal
    _band_candidates over the full corpus exactly. Band keys are per-doc
    functions, so

      rebuild = { (a<b) sharing a band key k : n_full(k) <= cap }
      parent  = { (a<b), both old, sharing k : n_parent(k) <= cap }
      probe   = { (a<b), >=1 new, sharing k  : n_full(k) <= cap }

    and parent ∪ probe = rebuild iff no bucket CROSSES the cap
    (2 <= n_parent <= cap < n_full) and the new ids are disjoint from
    the parent's. Either violation declines (returns None: full
    rebuild). n_parent(k) is n_full(k) - n_new(k), so the parent is
    never scanned for keys; every probe pair names a new id, so the
    published union needs no distinct."""
    new = set(new_paths)
    parent_paths = [p for p in table_part_paths(sf_dir, "documents")
                    if p not in new]
    if len(parent_paths) < CAND_DELTA_MIN_PARENT_SHARDS:
        return None
    # ONE column-pruned pass answers both guard questions: are the
    # appended ids disjoint from the parent's, and how many are there
    # (the broadcast gate)
    new_ids = (read_parts(spark, sf_dir, "documents", new_paths)
               .select("doc_id").distinct())
    parent_ids = read_parts(spark, sf_dir, "documents",
                            parent_paths).select("doc_id")
    marked = (new_ids.withColumn("is_new", F.lit(1))
              .unionByName(parent_ids.withColumn("is_new", F.lit(0)))
              .groupBy("doc_id")
              .agg(F.max("is_new").alias("any_new"),
                   F.min("is_new").alias("all_new")))
    g = marked.agg(
        F.coalesce(F.sum(F.when(
            (F.col("any_new") == 1) & (F.col("all_new") == 0),
            1)), F.lit(0)).alias("overlap"),
        F.coalesce(F.sum("all_new"), F.lit(0)).alias("n_new")).first()
    if g["overlap"] > 0:
        return None  # re-carried ids: signatures themselves change
    # the (doc_id, bkey) key table feeds the full counts, the new-side
    # keys and the probe target; Spark shares no subplans, so persist it
    # once (released by the caller's cleanup)
    full_keys = (bands(_band_keys(minhash_signature_index(spark, sf_dir)))
                 .select("doc_id", "bkey").persist())
    new_keys = full_keys.join(gated_broadcast(new_ids, g["n_new"]),
                              "doc_id")
    full_n = full_keys.groupBy("bkey").agg(F.count("*").alias("n_full"))
    new_n = new_keys.groupBy("bkey").agg(F.count("*").alias("n_new"))
    # persisted too: the crossed-cap guard's action and the probe's
    # live-bucket gate both read it
    counts = (full_n.join(new_n, "bkey", "left")
              .select("bkey", "n_full",
                      (F.col("n_full")
                       - F.coalesce(F.col("n_new"), F.lit(0)))
                      .alias("n_parent"))
              .persist())
    if staged is not None:
        staged.extend([full_keys, counts])
    crossed = counts.where((F.col("n_parent") >= 2)
                           & within_cap(F.col("n_parent"))
                           & ~within_cap(F.col("n_full")))
    if not crossed.isEmpty():
        return None  # a hot bucket crossed the cap: union != rebuild
    live = counts.where(within_cap(F.col("n_full"))).select("bkey")
    probe = (new_keys.join(live, "bkey")
             .select("bkey", F.col("doc_id").alias("n_id")))
    return (probe.join(full_keys, "bkey")
            .where(F.col("n_id") != F.col("doc_id"))
            .select(F.least("n_id", "doc_id").alias("a_id"),
                    F.greatest("n_id", "doc_id").alias("b_id"))
            .distinct())


def _band_keys(sig_wide: DataFrame) -> DataFrame:
    """(doc_id, b0..b3): the folded band-bucket keys of wide signature
    rows."""
    return sig_wide.select("doc_id", *_band_key_exprs())


def _band_candidates(sig_wide: DataFrame) -> DataFrame:
    """Distinct (a_id < b_id) pairs sharing at least one full band over
    wide signature rows. The key is the single folded long (the band
    index leads the fold), so buckets group on bkey alone, exactly as
    the oracle does."""
    return (pairs(postings(bands(_band_keys(sig_wide)), "bkey"))
            .distinct())


def nd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs. 16 minhashes per doc (universal-hash
    family over one md5 per shingle), banded 4×4; docs sharing any full
    band signature are candidates. Returns distinct (a_id < b_id) pairs.
    Reads through the shared persisted candidate index (built on first
    use, scanned thereafter — the persisted-index read path)."""
    return (band_candidate_index(spark, sf_dir)
            .orderBy("a_id", "b_id"))


# 12 doubling rounds reach diameter ~2^11 (detection costs one extra
# equal-sum round) — deep enough for any real near-dup chain while
# staying log-scale.
CC_DOUBLING_MAX_ITERS = 12


def cc_labels_doubling(edges: DataFrame) -> DataFrame:
    """Connected components of a symmetric (src, dst) edge frame, each
    node labeled with its component's min id: min-label propagation WITH
    POINTER JUMPING. Each round takes the neighborhood minimum and then
    re-reads the label of the label node (l(v) <- l(l(v)) — labels are
    node ids, every label row exists, and l(w) <= w always since a
    node's own label joins its min). Jumping squares the propagation
    distance per round, so convergence is O(log diameter) (a
    diameter-4000 chain converges in ~12 rounds, not 4000). Each round
    is TWO bounded equi joins on the edge/label frames, never an
    all-pairs pass; the driver reads one aggregate per round (Σ labels,
    strictly decreasing) to detect the fixpoint. Returns (id, label)
    as a checkpointed frame; past CC_DOUBLING_MAX_ITERS rounds it
    raises rather than return partial (wrong) labels."""
    from pyspark.storagelevel import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .select("id", F.col("id").alias("label"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    labels.count()  # fills BOTH caches (labels computes through edges)
    prev_sum = None
    for _ in range(CC_DOUBLING_MAX_ITERS):
        nbr = (edges.join(labels, edges.dst == labels.id)
               .groupBy("src").agg(F.min("label").alias("nbr_label")))
        l1 = (labels.join(nbr, labels.id == nbr.src, "left")
              .select("id", F.least(
                  "label", F.coalesce("nbr_label", "label")).alias("label")))
        ptr = l1.select(F.col("id").alias("lid"),
                        F.col("label").alias("plabel"))
        # localCheckpoint, not persist: l1 sits TWICE in l2's tree (both
        # jump-join sides), so the logical plan doubles per round — at
        # the deep-chain round counts this exists for, an uncut lineage
        # OOMs the driver just PRINTING the plan. The eager checkpoint
        # cuts the tree to an ExistingRDD each round; the convergence
        # probe then reads the materialized blocks.
        l2 = (l1.join(ptr, l1.label == ptr.lid)
              .select("id", F.col("plabel").alias("label"))
              .localCheckpoint(eager=True))
        cur_sum = l2.agg(F.sum("label")).collect()[0][0]
        labels.unpersist()
        labels = l2
        if cur_sum == prev_sum:
            edges.unpersist()
            return labels
        prev_sum = cur_sum
    edges.unpersist()
    raise RuntimeError(
        f"cc_labels_doubling did not converge in {CC_DOUBLING_MAX_ITERS} "
        "doubling rounds; component diameter exceeds "
        f"~2^{CC_DOUBLING_MAX_ITERS - 1}")


def nd_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the LSH candidate
    pairs (cc_labels_doubling), labeling every involved doc with its
    component's min doc_id — the step that turns pairwise candidates
    into dedup groups (keep the canonical min-id doc, drop the rest).
    Emits (doc_id, cluster_id)."""
    labels = cc_labels_doubling(sym_edges(band_candidate_index(spark,
                                                               sf_dir)))
    return (labels.select(F.col("id").alias("doc_id"),
                          F.col("label").alias("cluster_id"))
            .orderBy("doc_id"))


WINNOW_W = 4        # fingerprint-selection window (in k-gram positions)
WINNOW_MIN_SHARED = 2


def nd_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm; Schleimer,
    Wilkerson & Aiken, SIGMOD'03): slide a WINNOW_W window over the
    rolling k-gram hash stream and keep each window's minimum, so any
    shared run of at least WINNOW_W + k - 1 words yields a shared
    fingerprint. Output: (a_id, b_id, shared_fps) for pairs sharing >=
    WINNOW_MIN_SHARED selected fingerprints, over the session's capped
    postings of the persisted fingerprint index."""
    return winnow_pairs_from_postings(winnow_capped_postings(spark, sf_dir))


def winnow_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) winnow fingerprints of a (doc_id, text) frame: rolling
    k-gram hashes, window minima, per-doc distinct. Per-doc pure, so the
    persisted index delta-adopts exactly; the cap applies at read time,
    over the merged index."""
    wh = docs.select("doc_id", _word_hashes(F.col("text")).alias("wh"))
    ks = wh.select("doc_id", _rolling_shingle_keys(F.col("wh")).alias("ks"))
    n = F.size("ks")
    fps = F.when(
        n >= WINNOW_W,
        F.transform(F.sequence(F.lit(0), n - WINNOW_W),
                    lambda i: F.array_min(
                        F.slice(F.col("ks"), i + 1, WINNOW_W)))
    ).otherwise(F.array().cast("array<long>"))
    return (ks.select("doc_id", F.explode(fps).alias("fp"))
            .distinct())


def winnow_posting_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted uncapped winnow fingerprint index (kind `winnow`).
    rev 2: rev 1's capped artifacts lack the capped-out rows and are
    never adopted. delta_key: the (doc_id, fp) distinct is global, so a
    re-carried doc_id would duplicate rows across parent and delta."""
    return rowwise_index(
        spark, sf_dir, "winnow",
        lambda docs: winnow_postings(spread_compute(
            spark, docs.select("doc_id", "text"), "doc_id")),
        delta_key="doc_id", rev=2)


def winnow_pairs_from_postings(post: DataFrame) -> DataFrame:
    """(a_id, b_id, shared_fps) over capped (fp, ids) postings."""
    return (pairs(post)
            .groupBy("a_id", "b_id")
            .agg(F.count("*").cast("long").alias("shared_fps"))
            .where(F.col("shared_fps") >= WINNOW_MIN_SHARED)
            .orderBy("a_id", "b_id"))


def winnow_capped_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped (fp, ids) postings of the winnow index as a session
    view: derived from the corpus as a whole, so session-only —
    persist(), recompute-on-loss."""
    return session_view(spark, sf_dir, "winnow_capped",
                        lambda: winnow_posting_index(spark, sf_dir),
                        lambda idx: postings(idx, "fp").persist())


def winnowing_pairs(docs: DataFrame) -> DataFrame:
    """The uncached winnowing pipeline over a (doc_id, text) frame."""
    return winnow_pairs_from_postings(postings(winnow_postings(docs), "fp"))


def _winnow_oracle() -> str:
    """Stated at call time (QUERIES build): _MH_POLY is defined further
    down the module."""
    return f"""
WITH w AS (SELECT doc_id, list_transform(string_split(lower(text), ' '),
           t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)
           % {MH_PRIME}) AS wh FROM documents),
e AS (SELECT doc_id, wh,
      unnest(range(greatest(len(wh) - {MH_SHINGLE_N - 1}, 0))) AS i
      FROM w),
sh AS (SELECT doc_id, i, ({_MH_POLY}) AS x FROM e),
ks AS (SELECT doc_id, list(x ORDER BY i) AS ks FROM sh GROUP BY doc_id),
win AS (SELECT doc_id, list_min(ks[i + 1:i + {WINNOW_W}]) AS fp
        FROM ks, unnest(range(greatest(len(ks) - {WINNOW_W - 1}, 0))) u(i)),
sel AS (SELECT DISTINCT doc_id, fp FROM win),
capped AS (SELECT doc_id, fp FROM sel
           QUALIFY COUNT(*) OVER (PARTITION BY fp) <= {BUCKET_CAP})
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a_id, b_id HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
ORDER BY a_id, b_id
"""


def _nfc_udf():
    """Arrow-batched NFC normalization (unicodedata, UAX #15) —
    factory-wrapped so the function pickles by value (foreign-cwd
    worker rule). 'Python where it wins': the JVM exposes no Unicode
    normalization without ICU, and DuckDB's nfc_normalize implements
    the same standard, so the two sides hash-match bit for bit."""

    def fn(s):
        import unicodedata as _u
        return s.map(lambda t: _u.normalize("NFC", t))

    from pyspark.sql.functions import pandas_udf
    return pandas_udf(fn, "string")


def nd_unicode_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-variant dedup audit: the same visible text can arrive
    byte-DIFFERENT (composed U+00E9 vs decomposed e+U+0301 — different
    crawls, different editors), and byte-exact dedup misses every such
    pair; normalizing to NFC before fingerprinting collapses them. Per
    language: corpus size, byte-distinct vs NFC-distinct fingerprint
    counts — the gap is exactly the variant duplicates a byte-only
    pass leaves in. Variant synthesis is deterministic (the
    nd_pii_redact / nd_secret_scan convention): every doc_id % 10 == 3
    doc contributes a COMPOSED re-keyed copy and a DECOMPOSED re-keyed
    copy ('e' -> U+00E9 vs 'e' -> e+U+0301), byte-distinct but
    NFC-equal by construction.

    Scale shape: NFC is a per-row Arrow map stage; both fingerprints
    are projected BEFORE aggregation so the multi-distinct expand
    carries 16-byte hashes, never text; one lang-keyed exchange."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang",
                                                    "text")
    seed = docs.where(F.col("doc_id") % 10 == 3)
    comp = seed.select((F.col("doc_id") + 4_000_000).alias("doc_id"),
                       "lang",
                       F.replace("text", F.lit("e"),
                                 F.lit("\u00e9")).alias("text"))
    decomp = seed.select((F.col("doc_id") + 5_000_000).alias("doc_id"),
                         "lang",
                         F.replace("text", F.lit("e"),
                                   F.lit("e\u0301")).alias("text"))
    aug = docs.unionByName(comp).unionByName(decomp)
    fps = aug.select("lang", F.md5("text").alias("bfp"),
                     F.md5(_nfc_udf()(F.col("text"))).alias("nfp"))
    return (fps.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.countDistinct("bfp").cast("long")
                 .alias("byte_distinct"),
                 F.countDistinct("nfp").cast("long")
                 .alias("nfc_distinct"))
            .orderBy("lang"))


_UNICODE_DEDUP_ORACLE = """
WITH aug AS (
    SELECT doc_id, lang, text FROM documents
    UNION ALL
    SELECT doc_id + 4000000, lang, replace(text, 'e', chr(233))
    FROM documents WHERE doc_id % 10 = 3
    UNION ALL
    SELECT doc_id + 5000000, lang, replace(text, 'e', 'e' || chr(769))
    FROM documents WHERE doc_id % 10 = 3)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS byte_distinct,
       CAST(COUNT(DISTINCT md5(nfc_normalize(text))) AS BIGINT)
       AS nfc_distinct
FROM aug GROUP BY lang ORDER BY lang
"""


def nd_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL published curation pipeline as one hash-gated funnel —
    the composition a real training-data run executes, not just its
    stages in isolation: (1) Gopher quality gates (the rule-based
    screen), (2) the LEARNED quality filter (perceptron fit driver-side
    on the bounded raw-corpus slice, literal-weight codegen scoring —
    the model gate published ablations rank as the biggest quality
    lever), (3) exact keep-first dedup (min doc_id per md5(text)) over
    the model survivors, (4) LSH near-dup clustering over the exact
    SURVIVORS (signatures + band candidates recomputed on the survivor
    slice — components of the induced subgraph, which filtering
    whole-corpus labels would get wrong), labels via the
    pointer-jumping CC (log-diameter rounds), keep one doc per cluster,
    (the signatures come from the shared per-doc-pure index filtered to
    the survivor ids — identical frames, see the stage-4 comment),
    (5) benchmark decontamination: drop cluster survivors that are
    benchmark members (doc_id % 10 == 0 stands in for the eval suite)
    or share any NGRAM_N-gram with the benchmark shingle set. Emits one
    row per stage: (stage, docs_in, docs_out) — the shrink report a
    curation job publishes.

    Scale shape: stages 1–2 are per-row codegen (the model is literals;
    its training cost is fixed-size at any corpus scale); stage 3
    shuffles 16-byte fingerprints; stage 4 is the signature/band plan
    over the deduped corpus (strictly smaller); stage 5 probes a
    BROADCAST benchmark shingle set (corpus side never shuffles —
    nd_ngram_overlap's shape, same shared fold); stage counts are 1-row
    aggregates crossJoin-broadcast into literal stage rows — nothing
    but counters moves after the band join. The oracle states the
    identical five stages over the shared CTE folds (gopher_gated_sql +
    the _qm_train_ctes unrolled training + _mh_bkeys_sql + the
    recursive closure + the shingle fold)."""
    from bacalhau_spark.operators.curation import (fit_quality_weights,
                                                   gopher_keep,
                                                   ngram_shingle_keys,
                                                   quality_keep)

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    gated = gopher_keep(docs)
    mkept = quality_keep(gated, fit_quality_weights(spark, sf_dir))
    surv = (mkept.groupBy(F.md5("text").alias("fp"))
            .agg(F.min("doc_id").alias("doc_id")))
    sdocs = docs.join(surv.select("doc_id"), "doc_id")
    # Survivor-slice signatures from the SHARED minhash signature index:
    # signatures are per-doc pure and the survivors
    # carry UNMODIFIED text, so index-filtered-to-survivors is exactly
    # _mh_sig_frame(sdocs) — the same filter-then-sign == sign-then-
    # filter equivalence the decontam/incremental screens use. The
    # survivor id set broadcasts (one long per kept doc); banding then
    # runs over the induced subgraph's signatures as before. At corpus
    # scale this removes the one remaining full-text signature pass in
    # the composed funnel — stage 4 becomes an index scan + band join.
    cand = _band_candidates(
        minhash_signature_index(spark, sf_dir)
        .join(F.broadcast(surv.select("doc_id")), "doc_id"))
    edges = sym_edges(cand)
    labels = cc_labels_doubling(edges)
    # one doc per near-dup cluster: drop labeled non-roots
    kept3 = sdocs.join(
        labels.where(F.col("id") != F.col("label"))
        .select(F.col("id").alias("doc_id")), "doc_id", "left_anti")
    # decontam: benchmark shingles from the FULL corpus (the eval suite
    # is external — corpus gates don't shrink it)
    bench_sh = (ngram_shingle_keys(docs.where(F.col("doc_id") % 10 == 0))
                .select("sh").distinct())
    cand4 = kept3.where(F.col("doc_id") % 10 != 0)
    contam = (ngram_shingle_keys(cand4)
              .join(F.broadcast(bench_sh), "sh", "left_semi")
              .select("doc_id").distinct())
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    n_gated = gated.agg(F.count("*").cast("long").alias("n_gated"))
    n_model = mkept.agg(F.count("*").cast("long").alias("n_model"))
    n_surv = surv.agg(F.count("*").cast("long").alias("n_surv"))
    n_lab = labels.agg(
        F.count("*").cast("long").alias("n_labeled"),
        F.countDistinct("label").cast("long").alias("n_clusters"))
    n_final = (cand4.select("doc_id")
               .join(contam, "doc_id", "left_anti")
               .agg(F.count("*").cast("long").alias("n_final")))
    counts = (F.broadcast(n_docs).crossJoin(F.broadcast(n_gated))
              .crossJoin(F.broadcast(n_model))
              .crossJoin(F.broadcast(n_surv)).crossJoin(F.broadcast(n_lab))
              .crossJoin(F.broadcast(n_final)))
    kept4_cnt = (F.col("n_surv") - F.col("n_labeled")
                 + F.col("n_clusters"))
    out = counts.select(F.explode(F.array(
        F.struct(F.lit("1_quality_gate").alias("stage"),
                 F.col("n_docs").alias("docs_in"),
                 F.col("n_gated").alias("docs_out")),
        F.struct(F.lit("2_model_gate").alias("stage"),
                 F.col("n_gated").alias("docs_in"),
                 F.col("n_model").alias("docs_out")),
        F.struct(F.lit("3_exact_dedup").alias("stage"),
                 F.col("n_model").alias("docs_in"),
                 F.col("n_surv").alias("docs_out")),
        F.struct(F.lit("4_neardup_clusters").alias("stage"),
                 F.col("n_surv").alias("docs_in"),
                 kept4_cnt.alias("docs_out")),
        F.struct(F.lit("5_decontam").alias("stage"),
                 kept4_cnt.alias("docs_in"),
                 F.col("n_final").alias("docs_out")),
    )).alias("s")).select("s.*").orderBy("stage").localCheckpoint(
        eager=True)
    labels.unpersist()
    return out.orderBy("stage")


def _pipeline_oracle() -> str:
    """Stated at call time (QUERIES build): _mh_bkeys_sql is defined
    further down the module; the gate, training, and shingle folds are
    shared with nd_gopher_filter / nd_quality_model / nd_ngram_overlap
    via curation's SQL helpers — one definition per fold."""
    from bacalhau_spark.operators.curation import (NGRAM_N, QM_EPOCHS,
                                                   _qm_feats_sql,
                                                   _qm_score_sql,
                                                   _qm_train_ctes,
                                                   gopher_gated_sql)

    return f"""
WITH RECURSIVE {gopher_gated_sql('gated')},
qf AS ({_qm_feats_sql()}),
{_qm_train_ctes('qf')},
gf AS ({_qm_feats_sql('gated', ', text')}),
mkept AS (SELECT gf.doc_id, gf.text FROM gf CROSS JOIN e{QM_EPOCHS} w
          WHERE {_qm_score_sql('gf')} >= 0),
surv AS (
    SELECT MIN(doc_id) AS doc_id FROM mkept GROUP BY md5(text)),
sdocs AS (SELECT d.doc_id, d.text
          FROM documents d JOIN surv USING (doc_id)),{_mh_bkeys_sql('sdocs', 'sig', True)},
pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sig a JOIN sig b
          ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          UNION SELECT b_id, a_id FROM pairs),
reach(id, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
kept3 AS (SELECT doc_id FROM surv
          WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> label)),
bw AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
       FROM documents WHERE doc_id % 10 = 0),
be AS (SELECT doc_id, ws,
       unnest(range(greatest(len(ws) - {NGRAM_N - 1}, 0))) AS i FROM bw),
bsh AS (SELECT DISTINCT CAST('0x' || substring(md5(
        array_to_string(ws[(i+1):(i+{NGRAM_N})], ' ')), 1, 15)
        AS BIGINT) AS sh FROM be),
kw AS (SELECT k.doc_id, string_split(lower(d.text), ' ') AS ws
       FROM kept3 k JOIN documents d USING (doc_id)
       WHERE k.doc_id % 10 <> 0),
ke AS (SELECT doc_id, ws,
       unnest(range(greatest(len(ws) - {NGRAM_N - 1}, 0))) AS i FROM kw),
ksh AS (SELECT DISTINCT doc_id, CAST('0x' || substring(md5(
        array_to_string(ws[(i+1):(i+{NGRAM_N})], ' ')), 1, 15)
        AS BIGINT) AS sh FROM ke),
contam AS (SELECT DISTINCT ksh.doc_id FROM ksh JOIN bsh USING (sh)),
c AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT COUNT(*) FROM gated) AS n_gated,
             (SELECT COUNT(*) FROM mkept) AS n_model,
             (SELECT COUNT(*) FROM surv) AS n_surv,
             (SELECT COUNT(*) FROM labels) AS n_labeled,
             (SELECT COUNT(DISTINCT label) FROM labels) AS n_clusters,
             (SELECT COUNT(*) FROM kept3 WHERE doc_id % 10 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM contam)) AS n_final)
SELECT '1_quality_gate' AS stage, CAST(n_docs AS BIGINT) AS docs_in,
       CAST(n_gated AS BIGINT) AS docs_out FROM c
UNION ALL
SELECT '2_model_gate', CAST(n_gated AS BIGINT),
       CAST(n_model AS BIGINT) FROM c
UNION ALL
SELECT '3_exact_dedup', CAST(n_model AS BIGINT),
       CAST(n_surv AS BIGINT) FROM c
UNION ALL
SELECT '4_neardup_clusters', CAST(n_surv AS BIGINT),
       CAST(n_surv - n_labeled + n_clusters AS BIGINT) FROM c
UNION ALL
SELECT '5_decontam', CAST(n_surv - n_labeled + n_clusters AS BIGINT),
       CAST(n_final AS BIGINT) FROM c
ORDER BY stage
"""





def nd_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard estimation from signature agreement: for each LSH candidate
    pair, est = (#agreeing minhash positions)/16 — the verify step between
    candidate generation and (expensive) exact comparison. Joins the wide
    signature table back to both pair sides; the per-pair estimate is 16
    equality checks in codegen, never touching the shingle sets again.

    The signature table feeds THREE consumers (candidate generation + both
    join sides); the shared persisted index materializes it once instead of
    Spark re-deriving the full shingle/minhash lineage per branch — the
    in-session form of "write the signature index once, join it many
    times" (at corpus scale it would be a persisted parquet artifact)."""
    sig_wide = minhash_signature_index(spark, sf_dir)
    cand = band_candidate_index(spark, sf_dir)
    amh = sig_wide.select(F.col("doc_id").alias("a_id"),
                          *[F.col(f"mh{s}").alias(f"amh{s}")
                            for s in range(N_HASHES)])
    bmh = sig_wide.select(F.col("doc_id").alias("b_id"),
                          *[F.col(f"mh{s}").alias(f"bmh{s}")
                            for s in range(N_HASHES)])
    matches = sum(
        F.when(F.col(f"amh{s}") == F.col(f"bmh{s}"), 1).otherwise(0)
        for s in range(N_HASHES))
    return (
        cand.join(amh, "a_id").join(bmh, "b_id")
        .select("a_id", "b_id",
                (matches.cast("double") / N_HASHES).alias("est_jaccard"))
        .orderBy("a_id", "b_id")
    )


def nd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (sign of per-bit ±1 sums over word hashes).
    Bits come from the first 4 hex chars of md5(word) — identical bytes in
    the oracle. Near-dups collide on the signature; bucketing on it is the
    O(n) grouping stage of simhash dedup."""
    docs = spread_compute(spark, table(spark, sf_dir, "documents")
                          .select("doc_id", "text"), "doc_id")
    wordsdf = docs.select("doc_id", F.explode(words("text")).alias("word"))
    bits = wordsdf.select(
        "doc_id", "word",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j"),
    )
    contrib = F.expr(
        "2 * (((instr('0123456789abcdef', "
        "substring(md5(word), (j div 4) + 1, 1)) - 1) "
        "div shiftleft(1, j % 4)) % 2) - 1"
    )
    per_bit = bits.groupBy("doc_id", "j").agg(F.sum(contrib).alias("s"))
    return (
        per_bit.groupBy("doc_id")
        .agg(F.expr(
            "CAST(SUM(CASE WHEN s >= 0 THEN shiftleft(1, j) ELSE 0 END) AS INT)"
        ).alias("simhash"))
        .orderBy("doc_id")
    )


SHINGLE_N = 3  # word n-gram width of the jaccard family


def shingle_doc_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows of a (doc_id, text) frame over 60-bit md5
    keys of its word SHINGLE_N-grams: the persisted payload of the
    jaccard family's index. Per-doc pure, so an appended epoch's rows
    union exactly with the parent's; the cap applies when the grouped
    view is derived."""
    return (docs.select("doc_id", words("text").alias("w"))
            .select("doc_id",
                    F.explode(shingles(F.col("w"), SHINGLE_N)).alias("s"))
            .select("doc_id",
                    F.conv(F.substring(F.md5("s"), 1, 15), 16, 10)
                    .cast("long").alias("shingle"))
            .distinct())


def shingle_postings(per_doc: DataFrame) -> DataFrame:
    """Checkpointed capped (shingle, ids) postings of (doc_id, shingle)
    rows. The explicit-width repartition before the checkpoint is
    load-bearing: AQE coalesces the byte-small posting aggregate to a
    couple of partitions, the checkpoint freezes that, and the pair
    explode downstream amplifies rows ~1000x out of them (2.4x the whole
    operator at x10, registry_crossover_r8c.txt)."""
    width = per_doc.sparkSession.sparkContext.defaultParallelism
    return (postings(per_doc, "shingle")
            .repartition(width, "shingle")
            .localCheckpoint(eager=True))


def shingle_posting_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The jaccard family's capped (shingle, ids) postings: a session
    view over the persisted uncapped rows (kind `shpost3`, delta-adopted;
    delta_key guards re-carried doc_ids, whose union would duplicate
    rows). A warm view hit refreshes the artifact's liveness marker."""
    return session_view(
        spark, sf_dir, "shpost",
        lambda: rowwise_index(
            spark, sf_dir, f"shpost{SHINGLE_N}",
            lambda docs: shingle_doc_postings(spread_compute(
                spark, docs.select("doc_id", "text"), "doc_id")),
            delta_key="doc_id"),
        shingle_postings)


def shingle_pair_index(spark: SparkSession, sf_dir: str,
                       weighted: bool = False,
                       ) -> tuple[DataFrame, DataFrame]:
    """The jaccard family's checkpointed pair stats, a session view over
    shingle_posting_index: shingle_pair_stats for ngram and containment,
    weighted_pair_stats when `weighted`. The weighted corpus count comes
    from the documents table: docs with fewer than SHINGLE_N words have
    no postings but still count toward nd."""
    def make(post: DataFrame) -> tuple[DataFrame, DataFrame]:
        stats = (weighted_pair_stats(
            post, table(spark, sf_dir, "documents").select("doc_id"))
            if weighted else shingle_pair_stats(post))
        return tuple(f.localCheckpoint(eager=True) for f in stats)

    return session_view(
        spark, sf_dir, "shpairw" if weighted else "shpair",
        lambda: shingle_posting_index(spark, sf_dir), make)


def shingle_pair_stats(post: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(shared, sizes) over capped (shingle, ids) postings: per-(a<b)
    pair shared-shingle counts and per-doc retained-set sizes."""
    sizes = (post.select(F.explode("ids").alias("doc_id"))
             .groupBy("doc_id").agg(F.count("*").alias("n")))
    # Struct pair keys on purpose: packing (a,b) into one long (a<<32|b)
    # is ~13% faster at sf0.1 (A/B'd, identical output) but caps doc ids
    # at 2^32 — a corpus-scale pipeline keys documents by 64-bit hashes,
    # so the general form wins the design call.
    shared = (pairs(post).groupBy("a_id", "b_id")
              .agg(F.count("*").alias("shared")))
    return shared, sizes


def ngram_jaccard_pairs(stats: tuple[DataFrame, DataFrame],
                        threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """(a_id, b_id, jaccard) for pairs with Jaccard >= threshold over
    shingle_pair_stats frames. Sizes count only the retained (capped)
    shingles, so the score is a true Jaccard of the retained sets."""
    shared, sizes = stats
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    # Raw division (no ROUND): numerator/denominator are identical integers
    # in both engines, so the quotient is bit-identical (see scalar.q04 note).
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared"))
    # The sizes frames are EXPLICITLY broadcast: the planner's stats over
    # the checkpointed posting scan misestimate which side is small, and
    # it was observed (containment's identical join) broadcasting the
    # PAIR aggregate — 11.3M rows at x10, a 2x wall-clock hit. sizes is
    # one row per doc; past broadcast limits (~10^8 docs) the production
    # form drops the hint for a shuffle-hash join on the pair keys.
    return (
        shared.join(F.broadcast(na), "a_id").join(F.broadcast(nb), "b_id")
        .where(jac >= threshold)
        .select("a_id", "b_id", jac.alias("jaccard"))
        .orderBy("a_id", "b_id")
    )


def nd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (similarity >= 0.5) over the
    documents fixture — see ngram_jaccard_pairs."""
    return ngram_jaccard_pairs(shingle_pair_index(spark, sf_dir))


def weighted_pair_stats(post: DataFrame, docs: DataFrame,
                        ) -> tuple[DataFrame, DataFrame]:
    """(shared_w, tw) over capped (shingle, ids) postings: the
    rarity-weighted twin of shingle_pair_stats, where a shingle weighs
    nd DIV its df and nd is the distinct doc_id count of `docs`."""
    ndocs = docs.select(F.countDistinct("doc_id").alias("nd"))
    post = (post.crossJoin(F.broadcast(ndocs))
            .withColumn("wt", F.expr("nd div size(ids)")))
    sizes = (post.select(F.explode("ids").alias("doc_id"), "wt")
             .groupBy("doc_id").agg(F.sum("wt").alias("tw")))
    shared = (pairs(post, "wt").groupBy("a_id", "b_id")
              .agg(F.sum("wt").cast("long").alias("shared_w")))
    return shared, sizes


def weighted_jaccard_pairs(stats: tuple[DataFrame, DataFrame],
                           threshold: float = JACCARD_THRESHOLD,
                           ) -> DataFrame:
    """(a_id, b_id, shared_w, wjaccard) for pairs with rarity-weighted
    Jaccard >= threshold over weighted_pair_stats frames. Two documents
    that share their RARE shingles score high even when their common
    boilerplate differs. Integer weights keep the score an exact
    long/long division, bit-identical cross-engine."""
    shared, sizes = stats
    wa = sizes.select(F.col("doc_id").alias("a_id"), F.col("tw").alias("ta"))
    wb = sizes.select(F.col("doc_id").alias("b_id"), F.col("tw").alias("tb"))
    score = (F.col("shared_w").cast("double")
             / (F.col("ta") + F.col("tb") - F.col("shared_w")))
    # explicit sizes broadcast — see ngram_jaccard_pairs' note
    return (shared.join(F.broadcast(wa), "a_id")
            .join(F.broadcast(wb), "b_id")
            .where(score >= threshold)
            .select("a_id", "b_id", "shared_w",
                    score.alias("wjaccard"))
            .orderBy("a_id", "b_id"))


def nd_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted word-3-gram Jaccard pairs (>= 0.5) over the
    documents fixture — see weighted_jaccard_pairs."""
    return weighted_jaccard_pairs(
        shingle_pair_index(spark, sf_dir, weighted=True))


_WEIGHTED_JACCARD_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
e AS (SELECT doc_id, ws, unnest(range(greatest(len(ws) - 2, 0))) AS i FROM w),
sh0 AS (SELECT DISTINCT doc_id,
               CAST('0x' || substring(md5(array_to_string(ws[(i+1):(i+3)], ' ')), 1, 15)
                    AS BIGINT) AS shingle FROM e),
sh AS (SELECT doc_id, shingle FROM sh0
       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {BUCKET_CAP}),
nd AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
df AS (SELECT shingle, nd // COUNT(*) AS wt FROM sh CROSS JOIN nd
       GROUP BY shingle, nd),
sizes AS (SELECT doc_id, SUM(wt) AS tw FROM sh JOIN df USING (shingle)
          GROUP BY doc_id),
shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                  CAST(SUM(wt) AS BIGINT) AS shared_w
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                                AND a.doc_id < b.doc_id
           JOIN df ON df.shingle = a.shingle
           GROUP BY a.doc_id, b.doc_id)
SELECT a_id, b_id, shared_w,
       CAST(shared_w AS DOUBLE) / (ta.tw + tb.tw - shared_w) AS wjaccard
FROM shared JOIN sizes ta ON ta.doc_id = a_id
            JOIN sizes tb ON tb.doc_id = b_id
WHERE CAST(shared_w AS DOUBLE) / (ta.tw + tb.tw - shared_w)
      >= {JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""


CONTAIN_THRESHOLD = 0.8


def containment_pairs(stats: tuple[DataFrame, DataFrame],
                      threshold: float = CONTAIN_THRESHOLD) -> DataFrame:
    """Directed shingle-containment pairs (contained_id, container_id,
    containment >= threshold), C(A in B) = |A∩B| / |A|, over
    shingle_pair_stats frames; both directions of a pair are judged
    independently. A short document quoted wholesale inside a much
    longer one scores near-zero Jaccard but containment ~1.0."""
    shared, sizes = stats
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    # explicit sizes broadcast — without it the planner broadcast the
    # 11.3M-row pair aggregate at x10 (see ngram_jaccard_pairs' note)
    both = shared.join(F.broadcast(na), "a_id").join(F.broadcast(nb),
                                                     "b_id")
    c_a = F.col("shared").cast("double") / F.col("na")
    c_b = F.col("shared").cast("double") / F.col("nb")
    # a scalar OR-threshold first (it prunes inside the sizes join), then
    # a two-element explode over the survivors only: a union of two
    # filtered branches would plan the pair aggregation twice
    directed = F.explode(F.array(
        F.struct(F.col("a_id").alias("contained_id"),
                 F.col("b_id").alias("container_id"),
                 c_a.alias("containment")),
        F.struct(F.col("b_id").alias("contained_id"),
                 F.col("a_id").alias("container_id"),
                 c_b.alias("containment"))))
    return (both.where((c_a >= threshold) | (c_b >= threshold))
            .select(directed.alias("d")).select("d.*")
            .where(F.col("containment") >= threshold)
            .orderBy("contained_id", "container_id"))


def nd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram containment pairs (C >= 0.8) over the documents
    fixture — see containment_pairs."""
    return containment_pairs(shingle_pair_index(spark, sf_dir))


_MH_AB_VALUES = ", ".join(f"({s}, {a}::BIGINT, {b}::BIGINT)"
                          for s, (a, b) in enumerate(MH_AB))

# Rolling word-hash shingle keys, mirroring _rolling_shingle_keys exactly:
# md5 prefix per word, then the same polynomial fold (DuckDB lists are
# 1-indexed, hence wh[i+1]..wh[i+5] for 0-based window start i).
_MH_POLY = "wh[i+1]"
for _k in range(2, MH_SHINGLE_N + 1):
    _MH_POLY = f"(({_MH_POLY}) * {MH_ROLL_C} + wh[i+{_k}]) % {MH_PRIME}"

# Folded band-bucket key, mirroring _band_key_exprs: the band
# index (seed // ROWS_PER_BAND) is the leading polynomial term, then the
# band's ROWS_PER_BAND ordered minhashes fold in — ONE long key per band,
# mod the 43-bit BKEY_PRIME, identical in both engines.
_MH_BAND_POLY = f"(seed // {ROWS_PER_BAND})"
for _k in range(1, ROWS_PER_BAND + 1):
    _MH_BAND_POLY = (f"(({_MH_BAND_POLY}) * {MH_ROLL_C} + ml[{_k}]) "
                     f"% {BKEY_PRIME}")

# Shared bucket CTEs over the per-(doc, seed) minhash table `mh`: the
# folded key per (doc, band), then the hot-bucket guard.
_MH_SIG_CTES = f"""
sig0 AS (SELECT doc_id,
                ({_MH_BAND_POLY.replace('ml', 'list(mh ORDER BY seed)')})
                AS bkey
         FROM mh GROUP BY doc_id, seed // {ROWS_PER_BAND}),
sig AS (SELECT doc_id, bkey FROM sig0
        QUALIFY COUNT(*) OVER (PARTITION BY bkey) <= {BUCKET_CAP})"""

_MH_SH_CTES = f"""
WITH w AS (SELECT doc_id, list_transform(string_split(lower(text), ' '),
           t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % {MH_PRIME})
           AS wh FROM documents),
e AS (SELECT doc_id, wh,
      unnest(range(greatest(len(wh) - {MH_SHINGLE_N - 1}, 0))) AS i FROM w),
sh AS (SELECT doc_id, ({_MH_POLY}) AS x FROM e)"""

_MINHASH_ORACLE = f"""
{_MH_SH_CTES},
mh AS (SELECT doc_id, seed, min((a * x + b) % {MH_PRIME}) AS mh
       FROM sh CROSS JOIN (VALUES {_MH_AB_VALUES}) s(seed, a, b)
       GROUP BY doc_id, seed),
{_MH_SIG_CTES}
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM sig a JOIN sig b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
ORDER BY a_id, b_id
"""

def nd_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection — the step AFTER clustering that
    the min-id convention in nd_dedup_clusters punts on: within each
    near-dup cluster, KEEP the doc a curation pass actually wants (the
    longest one by word count — near-dup groups usually contain one full
    document and its truncated/boilerplate-wrapped variants) and report
    what the removal pass would drop. Selection key is (n_words DESC,
    doc_id ASC) — a total order, integer-exact, so the survivor is
    deterministic on any partitioning (a float quality score would
    tie-break non-portably). Emits one row per cluster:
    (cluster_id, survivor_id, survivor_words, n_members, n_dropped).

    Scale shape: cluster labels come from nd_dedup_clusters (edge-set-
    sized joins, never corpus-sized); the word counts join in BY DOC ID
    on the
    cluster-member subset only (a semi-join-sized probe of the corpus,
    broadcast at fixture scale), and the per-cluster argmax is a window
    over cluster-sized partitions of that small frame."""
    from pyspark.sql import Window

    labels = nd_dedup_clusters(spark, sf_dir)
    docs = (table(spark, sf_dir, "documents")
            .select("doc_id", F.size(words("text")).alias("n_words")))
    m = labels.join(docs, "doc_id")
    win = Window.partitionBy("cluster_id").orderBy(
        F.col("n_words").desc(), "doc_id")
    return (m.withColumn("_rn", F.row_number().over(win))
            .groupBy("cluster_id")
            .agg(F.max(F.when(F.col("_rn") == 1, F.col("doc_id")))
                 .cast("long").alias("survivor_id"),
                 F.max(F.when(F.col("_rn") == 1, F.col("n_words")))
                 .cast("long").alias("survivor_words"),
                 F.count("*").cast("long").alias("n_members"),
                 (F.count("*") - 1).cast("long").alias("n_dropped"))
            .orderBy("cluster_id"))


HELDOUT_PCT = 10


def _assign_split(lbl: DataFrame, heldout_pct: int) -> DataFrame:
    """THE split-assignment rule, stated once (the fixture path and the
    DAG-stage path must produce the identical split for the same
    corpus — the rule is hash-gated by the registered audit): coalesce
    unclustered docs to singleton clusters (label = own doc_id), then a
    deterministic md5 bucket of the label assigns the WHOLE cluster to
    one side."""
    lbl = lbl.select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"))
    bucket = (F.conv(F.substring(
        F.md5(F.col("cluster_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100)
    return lbl.select(
        "doc_id", "cluster_id",
        F.when(bucket < 100 - heldout_pct, F.lit("train"))
        .otherwise(F.lit("heldout")).alias("split"))


def leakage_safe_split_frame(spark: SparkSession,
                             sf_dir: str,
                             heldout_pct: int = HELDOUT_PCT) -> DataFrame:
    """(doc_id, cluster_id, split) over EVERY document — the
    leakage-safe train/heldout split: a naive per-document hash split
    leaks near-duplicates of training documents into the eval set (the
    classic contamination bug a dedup pipeline exists to prevent), so
    the split key is the NEAR-DUP CLUSTER label, not the doc id —
    whole clusters move together by construction. Unclustered documents
    are their own singleton cluster (label = own doc_id); assignment is
    a deterministic md5 bucket of the label, so the split is stable
    across runs and engines. Scale shape: the cluster labels come from
    the shared band index + nd_dedup_clusters; the split itself is one
    broadcast-sized left join (labels cover only clustered docs) plus
    per-row codegen."""
    labels = nd_dedup_clusters(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return _assign_split(docs.join(labels, "doc_id", "left"),
                         heldout_pct)


def leakage_safe_split_labels(docs: DataFrame,
                              heldout_pct: int = HELDOUT_PCT) -> DataFrame:
    """(doc_id, cluster_id, split) for an ARBITRARY (doc_id, text)
    frame — the frame-level form of leakage_safe_split_frame for
    pipeline stages whose corpus is a PARENT STAGE'S output, not a
    fixture table (the split is the terminal verb of a training-data
    DAG and composes via '@parent' hand-offs): minhash signatures →
    banded candidates → doubling-CC
    cluster labels → whole-cluster md5-bucket assignment, the identical
    rule the registered audit states. Scale shape: the candidate set is
    capped bucket-and-expand, CC is O(log diameter) bounded joins, the
    assignment is per-row codegen."""
    sig = _mh_sig_frame(docs)
    cand = _band_candidates(sig)
    edges = sym_edges(cand)
    cc = cc_labels_doubling(edges)
    labels = cc.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
    # materialize the assignment, then release the CC checkpoint blocks
    # — the lazy form pinned them in executor storage for the session
    # (the sibling consumers' unpersist convention; a repeated
    # stage_split DAG run would accumulate leaked label blocks)
    out = _assign_split(
        docs.select("doc_id").join(labels, "doc_id", "left"),
        heldout_pct).localCheckpoint(eager=True)
    cc.unpersist()
    return out


def nd_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered audit of the leakage-safe split: per split —
    (split, n_docs, n_clusters). The hash gate covers the cluster
    labels AND the assignment; the no-cluster-spans-splits invariant is
    additionally asserted doc-level in tests."""
    return (leakage_safe_split_frame(spark, sf_dir)
            .groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.countDistinct("cluster_id").cast("long")
                 .alias("n_clusters"))
            .orderBy("split"))


EDIT_MAX = 30


def nd_editdist_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-VERIFIED near-dup pairs (a_id, b_id, dist <=
    EDIT_MAX): the persisted LSH band candidates confirmed by bounded
    Levenshtein over the raw text. Text moves only for candidate pairs:
    one corpus scan probes the pair sides, never a text self-join. The
    |len_a - len_b| <= EDIT_MAX prefilter is correctness-neutral (a
    length gap of k forces distance > k); the thresholded levenshtein
    returns -1 past EDIT_MAX, the same predicate as the oracle's full
    distance <= k."""
    cand = band_candidate_index(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # The DP is computed ONCE per pair, as an AGGREGATE result
    # expression: a plain project-then-filter form re-evaluates
    # levenshtein per predicate reference (Catalyst inlines computed
    # columns into pushed filters — profiled 3x = ~7 s of redundant DP
    # at x10), while a filter over an Aggregate output cannot be pushed
    # below it. The explicit-width repartition keeps AQE from coalescing
    # the kilobyte pair exchange to ~1 partition, which would serialize
    # the whole DP stage on one core.
    ta = F.max(F.when(F.col("doc_id") == F.col("a_id"), F.col("text")))
    tb = F.max(F.when(F.col("doc_id") == F.col("b_id"), F.col("text")))
    dist = F.when(
        F.abs(F.length(ta) - F.length(tb)) <= EDIT_MAX,
        F.levenshtein(ta, tb, EDIT_MAX)).otherwise(F.lit(-1))
    probe = pair_sides(cand, cand_count(spark, sf_dir, cand, "cand"))
    return (docs.join(probe, "doc_id")
            .repartition(spark.sparkContext.defaultParallelism,
                         "a_id", "b_id")
            .groupBy("a_id", "b_id")
            .agg(dist.cast("long").alias("dist"))
            .where((F.col("dist") >= 0) & (F.col("dist") <= EDIT_MAX))
            .orderBy("a_id", "b_id"))


# Connected components via transitive closure: `reach(id, r)` = every node
# r reachable from id over the symmetric candidate edges; the component
# label is MIN(reach). Closure is fine at oracle scale (the candidate edge
# set is tiny); the Spark side is cc_labels_doubling.
_CLUSTERS_ORACLE = f"""
{_MH_SH_CTES.replace("WITH w AS", "WITH RECURSIVE w AS", 1)},
mh AS (SELECT doc_id, seed, min((a * x + b) % {MH_PRIME}) AS mh
       FROM sh CROSS JOIN (VALUES {_MH_AB_VALUES}) s(seed, a, b)
       GROUP BY doc_id, seed),
{_MH_SIG_CTES},
pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sig a JOIN sig b
          ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          UNION SELECT b_id, a_id FROM pairs),
reach(id, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
)
SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
ORDER BY doc_id
"""

# The leakage-safe split composed over the SAME recursive-closure
# labels: every document left-joins the cluster labels (singletons
# label themselves), then the md5 bucket of the LABEL assigns the
# split — identical fold to the Spark side's conv(md5) convention.
_SPLIT_ORACLE = _CLUSTERS_ORACLE.replace(
    "SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id\n"
    "ORDER BY doc_id", f"""
labels AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
alld AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
s AS (SELECT cluster_id,
      CASE WHEN CAST('0x' || substring(md5(CAST(cluster_id AS VARCHAR)),
                                       1, 15) AS BIGINT) % 100
           < {100 - HELDOUT_PCT} THEN 'train' ELSE 'heldout' END AS split
      FROM alld)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
FROM s GROUP BY split ORDER BY split""").replace(
    "reach.r FROM edges e JOIN reach ON e.dst = reach.id\n)",
    "reach.r FROM edges e JOIN reach ON e.dst = reach.id\n),")

# Survivor selection composed over the SAME recursive-closure labels:
# the final label SELECT becomes a CTE, then the (n_words DESC, doc_id)
# argmax runs per cluster.
_SURVIVORS_ORACLE = _CLUSTERS_ORACLE.replace(
    "SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id\n"
    "ORDER BY doc_id", """
labels AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
m AS (SELECT cluster_id, labels.doc_id,
             len(string_split(lower(text), ' ')) AS n_words,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY len(string_split(lower(text), ' '))
                                         DESC, labels.doc_id) AS rn
      FROM labels JOIN documents ON documents.doc_id = labels.doc_id)
SELECT cluster_id,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
       AS survivor_id,
       CAST(MAX(CASE WHEN rn = 1 THEN n_words END) AS BIGINT)
       AS survivor_words,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
FROM m GROUP BY cluster_id ORDER BY cluster_id""").replace(
    "reach.r FROM edges e JOIN reach ON e.dst = reach.id\n)",
    "reach.r FROM edges e JOIN reach ON e.dst = reach.id\n),")


_SIMHASH_ORACLE = """
WITH wds AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
             FROM documents),
b AS (SELECT doc_id, word, j FROM wds
      CROSS JOIN (SELECT unnest(range(16)) AS j) seeds),
c AS (SELECT doc_id, j,
             SUM(2 * (((strpos('0123456789abcdef',
                        substring(md5(word), CAST(j // 4 AS INTEGER) + 1, 1)) - 1)
                       // (1 << CAST(j % 4 AS INTEGER))) % 2) - 1) AS s
      FROM b GROUP BY doc_id, j)
SELECT doc_id,
       CAST(SUM(CASE WHEN s >= 0 THEN 1 << CAST(j AS INTEGER) ELSE 0 END)
            AS INTEGER) AS simhash
FROM c GROUP BY doc_id ORDER BY doc_id
"""

def nd_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a NEW batch deduped (a) within itself
    (keep-first by content hash) and (b) against the EXISTING corpus's
    fingerprint set — the shape every recurring ingest runs, distinct
    from one-shot corpus dedup. Reports per-language counts of batch
    size, within-batch survivors, and truly-new documents.

    The fixture corpus carries no exact duplicate texts, so the batch is
    synthesized deterministically (the nd_pii_redact recipe): fresh docs
    (doc_id % 5 == 4) plus TWO re-keyed "re-crawl" copies of corpus docs
    (doc_id % 10 == 1) — the second re-crawl copy exercises within-batch
    dedup, and both are corpus duplicates the anti join must drop.

    Scale shape: both sides reduce to 16-byte md5 fingerprints before
    any join; the corpus side aggregates to DISTINCT fingerprints (the
    persisted dedup index at 100 TB — built once, anti-joined by every
    increment), and the anti join keys on the constant-width hash, so
    neither side ever shuffles text. The corpus fp set does NOT
    broadcast at scale — this is deliberately the shuffle anti-join,
    unlike nd_cross_dedup's small broadcast benchmark set."""
    docs = table(spark, sf_dir, "documents")
    fresh = (docs.where(F.col("doc_id") % 5 == 4)
             .select("doc_id", "lang", F.md5("text").alias("fp")))
    recrawl = docs.where(F.col("doc_id") % 10 == 1).select(
        "doc_id", "lang", F.md5("text").alias("fp"))
    batch = (fresh
             .unionByName(recrawl.select(
                 (F.col("doc_id") + 1_000_000).alias("doc_id"),
                 "lang", "fp"))
             .unionByName(recrawl.select(
                 (F.col("doc_id") + 2_000_000).alias("doc_id"),
                 "lang", "fp")))
    corpus_fps = (docs.where(F.col("doc_id") % 5 != 4)
                  .select(F.md5("text").alias("cfp")).distinct())
    within = (batch.groupBy("fp")
              .agg(F.min("doc_id").alias("doc_id"),
                   # survivor's lang, deterministically: the min-doc_id
                   # copy's (duplicate texts can in principle span langs)
                   F.min_by("lang", "doc_id").alias("lang")))
    new = within.join(corpus_fps, within.fp == corpus_fps.cfp, "left_anti")
    per_lang_batch = batch.groupBy("lang").agg(
        F.count("*").alias("batch_docs"))
    per_lang_within = within.groupBy("lang").agg(
        F.count("*").alias("batch_unique"))
    per_lang_new = new.groupBy("lang").agg(F.count("*").alias("truly_new"))
    # LEFT joins + coalesce(0): a language whose batch is 100%
    # corpus-duplicate has no truly-new rows — the most interesting
    # audit row is exactly the one an inner join would silently drop
    # (the within side can't be empty for a lang with batch rows, but
    # the same left+coalesce shape keeps the audit total-per-lang)
    return (per_lang_batch
            .join(per_lang_within, "lang", "left")
            .join(per_lang_new, "lang", "left")
            .select("lang", "batch_docs",
                    F.coalesce("batch_unique", F.lit(0))
                    .cast("long").alias("batch_unique"),
                    F.coalesce("truly_new", F.lit(0))
                    .cast("long").alias("truly_new"))
            .orderBy("lang"))


_INCREMENTAL_ORACLE = """
WITH batch AS (
    SELECT doc_id, lang, md5(text) AS fp FROM documents
    WHERE doc_id % 5 = 4
    UNION ALL
    SELECT doc_id + 1000000, lang, md5(text) FROM documents
    WHERE doc_id % 10 = 1
    UNION ALL
    SELECT doc_id + 2000000, lang, md5(text) FROM documents
    WHERE doc_id % 10 = 1),
corpus AS (SELECT DISTINCT md5(text) AS cfp FROM documents
           WHERE doc_id % 5 <> 4),
within AS (SELECT fp, MIN(doc_id) AS doc_id,
                  arg_min(lang, doc_id) AS lang
           FROM batch GROUP BY fp),
new AS (SELECT * FROM within WHERE fp NOT IN (SELECT cfp FROM corpus))
SELECT b.lang, CAST(b.n AS BIGINT) AS batch_docs,
       CAST(COALESCE(w.n, 0) AS BIGINT) AS batch_unique,
       CAST(COALESCE(nw.n, 0) AS BIGINT) AS truly_new
FROM (SELECT lang, COUNT(*) AS n FROM batch GROUP BY lang) b
LEFT JOIN (SELECT lang, COUNT(*) AS n FROM within GROUP BY lang) w
       USING (lang)
LEFT JOIN (SELECT lang, COUNT(*) AS n FROM new GROUP BY lang) nw
       USING (lang)
ORDER BY lang
"""


CHUNK_WORDS = 10


def nd_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular exact-dedup audit: split every document into
    disjoint CHUNK_WORDS-word chunks (the fixture text has no paragraph
    breaks, so fixed word windows stand in for paragraphs), hash each
    chunk, and report per document how many of its chunks also occur
    elsewhere in the corpus — the corpus-wide repeated-span measurement
    behind paragraph/boilerplate removal (the suffix-array dedup
    families' cheap first pass).

    Scale shape (de-skewed): chunks explode to ~n_words/CHUNK_WORDS rows
    per doc keyed by a 60-bit integer hash. A window count over the raw
    chunk key would serialize the hot chunks — which are exactly the
    boilerplate being measured, each potentially appearing in a constant
    fraction of the corpus. Instead the stream reduces to per-(doc,
    chunk) counts first (partial aggregation combines hot chunks
    map-side), the corpus frequency rolls up from those counts (the
    (doc_id, ch) exchange is shared via ReuseExchange), and the join back
    is at doc granularity — the hot key is bounded by n_docs and AQE's
    skew-join split handles the residue. The text itself never
    shuffles."""
    docs = spread_compute(spark, table(spark, sf_dir, "documents")
                          .select("doc_id", "text"), "doc_id")
    # token array projected before the HOF (re-evaluation trap)
    w = docs.select("doc_id", words("text").alias("w"))
    n_chunks = F.ceil(F.size("w") / CHUNK_WORDS).cast("int")
    chunk_hash = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.conv(F.substring(F.md5(F.concat_ws(
            " ", F.slice(F.col("w"), i * CHUNK_WORDS + 1, CHUNK_WORDS))),
            1, 15), 16, 10).cast("long"))
    chunks = w.select("doc_id", F.explode(chunk_hash).alias("ch"))
    # Lazily checkpoint the reduced per-doc chunk counts (the PMI
    # convention, r14): freq and the main join both consume dc, and the
    # md5-per-chunk HOF lineage is the expensive half — one hash pass
    # instead of two. 1.03 s -> 0.74 s at sf0.1
    # (experiments/count_frame_ckpt_r14.py); counts only, per call.
    dc = (chunks.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
          .localCheckpoint(eager=False))
    freq = dc.groupBy("ch").agg(F.sum("c").alias("f"))
    return (
        dc.join(freq, "ch")
        .groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("n_chunks"),
             F.sum(F.when(F.col("f") > 1, F.col("c")).otherwise(0))
             .cast("long").alias("dup_chunks"))
        .orderBy("doc_id")
    )


_CHUNK_DEDUP_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
           FROM documents),
c AS (SELECT doc_id,
             CAST('0x' || substring(md5(array_to_string(
                 ws[(i * {CHUNK_WORDS} + 1):(i * {CHUNK_WORDS} + {CHUNK_WORDS})],
                 ' ')), 1, 15) AS BIGINT) AS ch
      FROM w CROSS JOIN LATERAL (SELECT unnest(range(
          CAST(ceil(len(ws) / {CHUNK_WORDS}.0) AS INTEGER))) AS i) t),
f AS (SELECT ch, COUNT(*) AS f FROM c GROUP BY ch)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN f > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
FROM c JOIN f USING (ch) GROUP BY doc_id ORDER BY doc_id
"""


# Sliding-window width for the ExactSubstr-style repeated-substring
# detector. The published form (suffix arrays over the token stream)
# finds 50+-token shared runs; the fixture's documents are ~50 words, so
# 8-token windows keep the statistic non-degenerate at test scale — the
# run-length output converts window runs back to token spans, so the
# semantics are width-parametric.
SUBSTR_WIN = 8


def nd_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granular exact dedup (the ExactSubstr analog — the
    standard complement to MinHash in training-data pipelines, and the
    one dedup modality the corpus family lacked): detect token
    SUBSTRINGS repeated anywhere in the corpus via sliding
    SUBSTR_WIN-word windows under the family's 60-bit md5-prefix hash
    convention, then report per document the shared-window count, the
    longest consecutive shared RUN, and that run's span in words
    (run + SUBSTR_WIN - 1) — the per-doc longest-shared-substring
    statistic a removal pass would cut on.

    Scale shape: the suffix-array original wants the whole corpus
    token stream in one address space; this form is one explode to
    ~n_tokens fixed-width (doc_id, pos, hash) rows that immediately
    reduce to per-(doc, window) groups — positions folded into a
    per-group list bounded by the doc's own length — so the ONE wide
    exchange carries per-doc-DISTINCT window keys, hot windows
    (boilerplate, the very thing being measured) collapse map-side
    exactly as nd_chunk_dedup's chunks do. The corpus-frequency
    rollup is a SUM window over wh on that same aggregate — deriving
    it as a groupBy+join branch re-ran the whole tokenize+md5 lineage
    (Spark shares no subplans across DataFrame branches; the r14
    before-plan shows the window-hash Generate twice), which doubled
    the dominant cost; the window form shuffles only the compact
    (doc_id, wh, c, ps) rows (hot wh ≤ n_docs groups one partition —
    bounded, same as the old join's build side). The run detection is
    a per-doc window function (partition bounded by document length)
    over shared positions only. Document text shuffles exactly once
    (the parallelism spread).

    Reference intent: the dedup families' repeated-span measurement
    (SURVEY §2.6 row 17), extended below chunk granularity."""
    docs = spread_compute(spark, table(spark, sf_dir, "documents")
                          .select("doc_id", "text"), "doc_id")
    w = docs.select("doc_id", words("text").alias("w"))
    n = F.size("w")
    # Guarded sequence: F.sequence(0, n - W) DESCENDS for n < W — docs
    # shorter than one window must contribute zero windows, not garbage.
    win_hash = F.when(n >= SUBSTR_WIN, F.transform(
        F.sequence(F.lit(0), n - SUBSTR_WIN),
        lambda i: F.conv(F.substring(F.md5(F.concat_ws(
            " ", F.slice(F.col("w"), i + 1, SUBSTR_WIN))), 1, 15),
            16, 10).cast("long"))
    ).otherwise(F.array().cast("array<long>"))
    wins = w.select("doc_id", F.posexplode(win_hash).alias("pos", "wh"))
    dc = (wins.groupBy("doc_id", "wh")
          .agg(F.count("*").alias("c"),
               F.collect_list("pos").alias("ps")))
    from pyspark.sql.window import Window
    shared_pos = (dc.withColumn("f", F.sum("c").over(
        Window.partitionBy("wh")))
        .where(F.col("f") > 1)
        .select("doc_id", F.explode("ps").alias("pos")))
    run_w = Window.partitionBy("doc_id").orderBy("pos")
    per_doc = (shared_pos
               .withColumn("grp",
                           F.col("pos") - F.row_number().over(run_w))
               .groupBy("doc_id", "grp").agg(F.count("*").alias("run"))
               .groupBy("doc_id")
               .agg(F.max("run").alias("max_run"),
                    F.sum("run").alias("n_shared")))
    # Separate lightweight scan branch (no spread, no shuffle): deriving
    # n_windows from `w` would clone the spread+tokenize lineage a second
    # time for what is one cheap size(split()) projection per row.
    base = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.greatest(F.size(words("text")) - SUBSTR_WIN + 1, F.lit(0))
        .cast("long").alias("n_windows"))
    return (base.join(per_doc, "doc_id", "left")
            .select("doc_id", "n_windows",
                    F.coalesce("n_shared", F.lit(0)).cast("long")
                    .alias("shared_windows"),
                    F.coalesce("max_run", F.lit(0)).cast("long")
                    .alias("longest_run"),
                    F.coalesce(F.col("max_run") + (SUBSTR_WIN - 1),
                               F.lit(0)).cast("long")
                    .alias("longest_span_words"))
            .orderBy("doc_id"))


_SUBSTR_DEDUP_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
           FROM documents),
wins AS (SELECT doc_id, i AS pos,
                CAST('0x' || substring(md5(array_to_string(
                    ws[(i + 1):(i + {SUBSTR_WIN})], ' ')), 1, 15)
                     AS BIGINT) AS wh
         FROM w CROSS JOIN LATERAL (SELECT unnest(range(
             len(ws) - {SUBSTR_WIN} + 1)) AS i) t
         WHERE len(ws) >= {SUBSTR_WIN}),
f AS (SELECT wh, COUNT(*) AS f FROM wins GROUP BY wh),
ps AS (SELECT doc_id, pos FROM wins JOIN f USING (wh) WHERE f > 1),
runs AS (SELECT doc_id, COUNT(*) AS run FROM (
             SELECT doc_id, pos - ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY pos) AS grp FROM ps) t
         GROUP BY doc_id, grp),
pd AS (SELECT doc_id, MAX(run) AS max_run, SUM(run) AS n_shared
       FROM runs GROUP BY doc_id)
SELECT w.doc_id,
       CAST(GREATEST(len(ws) - {SUBSTR_WIN} + 1, 0) AS BIGINT)
           AS n_windows,
       CAST(COALESCE(n_shared, 0) AS BIGINT) AS shared_windows,
       CAST(COALESCE(max_run, 0) AS BIGINT) AS longest_run,
       CAST(COALESCE(max_run + {SUBSTR_WIN} - 1, 0) AS BIGINT)
           AS longest_span_words
FROM w LEFT JOIN pd ON w.doc_id = pd.doc_id ORDER BY w.doc_id
"""


def nd_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination: drop training docs whose exact content
    hash appears in a held-out benchmark slice (here: doc_id % 10 == 0
    stands in for the eval set). The anti-join key is md5(text) — 16 bytes
    per row regardless of document size — and the benchmark fingerprint set
    is tiny relative to the corpus, so it BROADCASTS: the 100 TB side is
    never shuffled at all, one codegen pass with a broadcast hash probe.
    Returns the per-language audit (corpus size, surviving count)."""
    docs = table(spark, sf_dir, "documents")
    bench = (docs.where(F.col("doc_id") % 10 == 0)
             .select(F.md5("text").alias("bfp")).distinct())
    corpus = (docs.where(F.col("doc_id") % 10 != 0)
              .select("lang", F.md5("text").alias("fp")))
    return (
        corpus.join(F.broadcast(bench), F.col("fp") == F.col("bfp"), "left")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.col("bfp").isNull().cast("long")).alias("n_clean"))
        .orderBy("lang")
    )


_JACCARD_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
e AS (SELECT doc_id, ws, unnest(range(greatest(len(ws) - 2, 0))) AS i FROM w),
sh0 AS (SELECT DISTINCT doc_id,
               CAST('0x' || substring(md5(array_to_string(ws[(i+1):(i+3)], ' ')), 1, 15)
                    AS BIGINT) AS shingle FROM e),
sh AS (SELECT doc_id, shingle FROM sh0
       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {BUCKET_CAP}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
SELECT a_id, b_id,
       CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
FROM shared
JOIN sizes na ON na.doc_id = a_id
JOIN sizes nb ON nb.doc_id = b_id
WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= {JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""

_CONTAINMENT_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
e AS (SELECT doc_id, ws, unnest(range(greatest(len(ws) - 2, 0))) AS i FROM w),
sh0 AS (SELECT DISTINCT doc_id,
               CAST('0x' || substring(md5(array_to_string(ws[(i+1):(i+3)], ' ')), 1, 15)
                    AS BIGINT) AS shingle FROM e),
sh AS (SELECT doc_id, shingle FROM sh0
       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {BUCKET_CAP}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
SELECT * FROM (
  SELECT a_id AS contained_id, b_id AS container_id,
         CAST(shared AS DOUBLE) / na.n AS containment
  FROM shared JOIN sizes na ON na.doc_id = a_id
  WHERE CAST(shared AS DOUBLE) / na.n >= {CONTAIN_THRESHOLD}
  UNION ALL
  SELECT b_id, a_id, CAST(shared AS DOUBLE) / nb.n
  FROM shared JOIN sizes nb ON nb.doc_id = b_id
  WHERE CAST(shared AS DOUBLE) / nb.n >= {CONTAIN_THRESHOLD}
) ORDER BY contained_id, container_id
"""

def _mh_sig_frame(docs: DataFrame) -> DataFrame:
    """Wide minhash signatures for an ARBITRARY (doc_id, text) frame —
    THE signature pipeline (_minhash_signatures is the fixture-bound
    wrapper). No .distinct() on the shingle stream: min() is idempotent
    over duplicate shingles. All 16 minhashes as wide min-aggregates in
    ONE groupBy pass: no 16x row explosion, no (doc_id, seed) shuffle —
    each shingle-key row evaluates 16 affine maps in codegen and
    map-side combine carries one 16-column row per doc per partition.
    Shingle keys come from rolling word-hash windows
    (_rolling_shingle_keys) — strings never materialize. Docs shorter
    than the shingle width produce no signature row (no shingles) on
    either engine."""
    wh = docs.select("doc_id", _word_hashes(F.col("text")).alias("wh"))
    sh = wh.select(
        "doc_id", F.explode(_rolling_shingle_keys(F.col("wh"))).alias("x"))
    x = F.col("x")
    return sh.groupBy("doc_id").agg(*[
        F.min((F.lit(a) * x + F.lit(b)) % MH_PRIME).alias(f"mh{s}")
        for s, (a, b) in enumerate(MH_AB)])


def _mh_sig_row_cols() -> list["F.Column"]:
    """Per-ROW minhash signature columns over a PROJECTED shingle-key
    array column `sk` — the stream-safe twin of _mh_sig_frame's grouped
    min: a min over an exploded stream is a stateful aggregation, while
    the in-row array_min is stateless (append-mode clean) and
    value-identical — both take the minimum of the same affine map over
    the same shingle-key set (equivalence pinned in
    tests/test_operators.py). Same column names as the grouped form so
    _band_key_exprs composes over either."""
    return [
        F.array_min(F.transform(
            F.col("sk"),
            lambda x: (F.lit(a) * x + F.lit(b)) % MH_PRIME))
        .alias(f"mh{s}")
        for s, (a, b) in enumerate(MH_AB)
    ]


def _band_key_exprs() -> list["F.Column"]:
    """THE folded single-long band-bucket keys b0..b3 over a wide
    signature row (band index leads the polynomial, mod the 43-bit
    BKEY_PRIME), shared by the index build and every probe. The fold
    starts from CAST(b AS BIGINT): it must run in LONG (acc*C nears
    2^63); int-typed inputs would overflow (ANSI ArithmeticException).
    Each key is one parsed SQL expression: composing it operator by
    operator costs a py4j call per node (~75 ms per call of this
    function), paid on every query that bands."""
    cols = []
    for b in range(N_BANDS):
        acc = f"CAST({b} AS BIGINT)"
        for r in range(ROWS_PER_BAND):
            acc = (f"(({acc}) * {MH_ROLL_C} + mh{b * ROWS_PER_BAND + r})"
                   f" % {BKEY_PRIME}")
        cols.append(F.expr(acc).alias(f"b{b}"))
    return cols


def nd_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest: a new batch screened against the
    existing corpus's LSH band index — the minhash counterpart of
    nd_incremental_dedup's exact-hash anti join. The batch is the
    genuinely-unseen docs (doc_id % 5 == 4, excluded from the corpus)
    re-keyed by +1e6, plus EDITED re-crawls of corpus docs
    (doc_id % 10 == 1, two words appended, re-keyed by +2e6). Emits each
    batch doc that hits a corpus bucket within the cap with how many of
    its bands matched. The corpus side and the unseen half read the
    signature index (a re-keyed copy of unmodified text carries the
    original's signature); only the edited slice is signed fresh. The
    probe is a shuffle semi-join with no broadcast hint: a large
    corpus's band set does not broadcast."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = minhash_signature_index(spark, sf_dir)
    corpus_idx = live_keys(
        bands(_band_keys(sig.where(F.col("doc_id") % 5 != 4))), "bkey")
    edited = (docs.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" nearvariant edit")).alias("text")))
    # spread_compute on the FRESH fold only: the signature build is the
    # CPU-dense stage and a single-row-group fixture would otherwise pin
    # it to one task
    batch_sig = (sig.where(F.col("doc_id") % 5 == 4)
                 .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                         *[f"mh{s}" for s in range(len(MH_AB))])
                 .unionByName(_mh_sig_frame(
                     spread_compute(spark, edited, "doc_id"))))
    batch_keys = (bands(_band_keys(batch_sig)).select("doc_id", "bkey")
                  .distinct())
    return (batch_keys.join(corpus_idx, "bkey")
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("bands_hit"))
            .orderBy("doc_id"))


def _mh_bkeys_sql(src_cte: str, out: str, capped: bool) -> str:
    """DuckDB CTE chain: (doc_id, text) source CTE -> per-(doc, band)
    folded bucket keys, mirroring _mh_sig_frame + _band_key_exprs (and
    the index-build bucket cap when `capped`)."""
    chain = f"""
{out}_w AS (SELECT doc_id, list_transform(string_split(lower(text), ' '),
            t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)
            % {MH_PRIME}) AS wh FROM {src_cte}),
{out}_e AS (SELECT doc_id, wh,
            unnest(range(greatest(len(wh) - {MH_SHINGLE_N - 1}, 0))) AS i
            FROM {out}_w),
{out}_sh AS (SELECT doc_id, ({_MH_POLY}) AS x FROM {out}_e),
{out}_mh AS (SELECT doc_id, seed, min((a * x + b) % {MH_PRIME}) AS mh
             FROM {out}_sh CROSS JOIN (VALUES {_MH_AB_VALUES}) s(seed, a, b)
             GROUP BY doc_id, seed),
{out}0 AS (SELECT doc_id,
                  ({_MH_BAND_POLY.replace('ml', 'list(mh ORDER BY seed)')})
                  AS bkey
           FROM {out}_mh GROUP BY doc_id, seed // {ROWS_PER_BAND})"""
    if capped:
        chain += f""",
{out} AS (SELECT doc_id, bkey FROM {out}0
          QUALIFY COUNT(*) OVER (PARTITION BY bkey) <= {BUCKET_CAP})"""
    else:
        chain += f""",
{out} AS (SELECT doc_id, bkey FROM {out}0)"""
    return chain


_INCREMENTAL_MH_ORACLE = f"""
WITH corpus_docs AS (SELECT doc_id, text FROM documents
                     WHERE doc_id % 5 <> 4),
batch_docs AS (
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
    WHERE doc_id % 5 = 4
    UNION ALL
    SELECT doc_id + 2000000, text || ' nearvariant edit' FROM documents
    WHERE doc_id % 10 = 1),{_mh_bkeys_sql('corpus_docs', 'csig', True)},{_mh_bkeys_sql('batch_docs', 'bsig', False)},
cidx AS (SELECT DISTINCT bkey FROM csig),
bkeys AS (SELECT DISTINCT doc_id, bkey FROM bsig)
SELECT b.doc_id, CAST(COUNT(*) AS INTEGER) AS bands_hit
FROM bkeys b JOIN cidx USING (bkey)
GROUP BY b.doc_id ORDER BY doc_id
"""


def nd_neardup_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup benchmark decontamination: the near-duplicate complement
    of the two exact screens (nd_cross_dedup's md5 anti-join,
    nd_ngram_overlap's 5-gram tally) — a training doc is flagged when it
    shares at least one LSH band with any held-out benchmark doc, which
    catches leaked eval items that were lightly EDITED before landing in
    the crawl (exact hashes miss them; the published decontamination
    recipes pair the n-gram screen with exactly this minhash screen).
    Benchmark slice: doc_id % 10 == 0, as nd_cross_dedup; the train side
    additionally carries deterministic leaked COPIES of benchmark docs
    (doc_id % 20 == 0, re-keyed, two words appended) so true
    contamination exists by construction — most shingles survive a
    two-word edit, so the leak still shares bands with its original.

    Scale shape — deliberately the OPPOSITE join form of
    nd_incremental_minhash: there the index is the 100 TB corpus's own
    band set (shuffle semi-join, cannot broadcast); here the index is
    the benchmark suite's band set — eval suites are millions of rows
    at most, curated and bounded — so the index BROADCASTS and the
    100 TB train side is never shuffled at all: band keys probe the
    broadcast in codegen, and the only exchanges left are the per-doc
    distinct and the final per-language counters. Both sides read THE
    shared minhash signature index (signatures are per-doc pure, so
    filter-then-sign == sign-then-filter for the doc_id slices): the bench
    and unmodified-train signatures come from the persisted index, and
    only the synthesized LEAK slice (edited text — a different
    signature by construction) runs the signature fold fresh, over 5%
    of the corpus. At 100 TB that converts two full-corpus signature
    passes per screen into an index scan + a leak-sized fold, and the
    screen cannot drift from the LSH index the corpus dedup builds
    (same _band_key_exprs fold over the same artifact).

    Output: per-language (n_docs, n_flagged) over the train side."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang",
                                                    "text")
    leak = (docs.where(F.col("doc_id") % 20 == 0)
            .select((F.col("doc_id") + 3_000_000).alias("doc_id"), "lang",
                    F.concat("text", F.lit(" leaked benchmark copy"))
                    .alias("text")))
    train = docs.where(F.col("doc_id") % 10 != 0).unionByName(leak)
    sig = minhash_signature_index(spark, sf_dir)
    bench_idx = (bands(_band_keys(sig.where(F.col("doc_id") % 10 == 0)))
                 .select("bkey").distinct())
    leak_sig = _mh_sig_frame(spread_compute(
        spark, leak.select("doc_id", "text"), "doc_id"))
    train_keys = (bands(_band_keys(sig.where(F.col("doc_id") % 10 != 0)
                                   .unionByName(leak_sig)))
                  .select("doc_id", "bkey").distinct())
    flagged = (train_keys.join(F.broadcast(bench_idx), "bkey")
               .select("doc_id").distinct().withColumn("hit", F.lit(1)))
    return (train.select("doc_id", "lang")
            .join(flagged, "doc_id", "left")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.coalesce(F.sum("hit"), F.lit(0)).cast("long")
                 .alias("n_flagged"))
            .orderBy("lang"))


_NEARDUP_DECONTAM_ORACLE = f"""
WITH bench_docs AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % 10 = 0),
train_docs AS (
    SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 0
    UNION ALL
    SELECT doc_id + 3000000, lang, text || ' leaked benchmark copy'
    FROM documents WHERE doc_id % 20 = 0),
train_txt AS (SELECT doc_id, text FROM train_docs),{_mh_bkeys_sql('bench_docs', 'bsig', False)},{_mh_bkeys_sql('train_txt', 'tsig', False)},
bidx AS (SELECT DISTINCT bkey FROM bsig),
tkeys AS (SELECT DISTINCT doc_id, bkey FROM tsig),
flagged AS (SELECT DISTINCT doc_id FROM tkeys JOIN bidx USING (bkey))
SELECT t.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM train_docs t LEFT JOIN flagged f ON t.doc_id = f.doc_id
GROUP BY t.lang ORDER BY t.lang
"""


BOILER_CHUNK_WORDS = 10


def nd_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level boilerplate REMOVAL — nd_chunk_dedup upgraded from
    audit to transformation: every corpus-duplicated chunk is dropped
    except its single globally-first occurrence (min (doc_id, idx) per
    chunk hash — the keep-first convention of the exact-dedup family,
    applied at span granularity), and the document's cleaned text is
    rebuilt from its surviving chunks. The suffix-array dedup families'
    trim step, at fixed-chunk granularity.

    Emits fixed-width rows only: (doc_id, n_chunks, n_kept,
    clean_md5) — the cleaned text itself is hashed where it is built, so
    nothing wider than 16 bytes leaves the executor. Scale shape: the
    chunk stream (doc_id, idx, 60-bit hash) reduces per chunk hash to
    its min (doc_id, idx) occurrence — map-side partial min collapses
    the hot boilerplate chunks exactly like the de-skewed frequency
    plans — then joins back at (doc, chunk) granularity; the rebuild
    happens in the doc's own partition via a kept-index array join on
    doc_id (co-partitioned/bucketed by doc_id at 100 TB: shuffle-free)."""
    return boilerplate_strip_frame(
        spread_compute(spark, table(spark, sf_dir, "documents")
                       .select("doc_id", "text"), "doc_id"))


def boilerplate_strip_frame(docs: DataFrame) -> DataFrame:
    """The chunk keep-first strip over an ARBITRARY (doc_id, text) frame
    (nd_boilerplate_strip is the fixture-bound wrapper); also the
    property-test surface — hypothesis corpora exercise chunk-boundary
    and all-duplicate edge cases the fixture can't.

    Round-9 rebuild (the BASELINE §5 sketch, made code): the cleaned
    text is reassembled from grouped kept-chunk STRINGS — every row in
    the plan is bounded by ONE chunk (BOILER_CHUNK_WORDS words), and the
    per-doc word array exists only transiently inside the explode
    projections. The round-8 form re-sliced the FULL word array per doc
    on the rebuild side, which materialized each doc's array twice in
    the shared local-mode heap and aborted the x100 single-box run
    (GCLocker thrash, BASELINE §5). The round-6 skew contract still
    holds: the keep-first decision stays NARROW (doc_id, idx, 60-bit
    hash — a min-struct window over those 24-byte rows, single-lineage
    since r14; the hot chunk key is bounded by the window exec's spill
    path) and chunk text only
    ever shuffles on UNIFORM keys — once by (doc_id, idx) to meet the
    kept-id set, once by doc_id for the idx-sorted rebuild collect (the
    oracle's string_agg) — so the Zipf-hot chunk key moves 24-byte rows
    only. Cost honestly stated: the tokenize+explode lineage evaluates
    per branch (decision / rebuild / doc stats — Spark shares no
    subplans), trading ~2 extra CPU-cheap scan passes for never holding
    a doc-sized array on the reduce side."""
    w = docs.select("doc_id", words("text").alias("w"))
    n_chunks = F.ceil(F.size("w") / BOILER_CHUNK_WORDS).cast("int")
    chunk_strs = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("w"), i * BOILER_CHUNK_WORDS + 1,
                         BOILER_CHUNK_WORDS)))
    chunks = (w.select("doc_id",
                       F.posexplode(chunk_strs).alias("idx", "chunk"))
              .withColumn("ch", F.conv(
                  F.substring(F.md5("chunk"), 1, 15), 16, 10)
                  .cast("long")))
    narrow = chunks.select("doc_id", "idx", "ch")
    # keep-first as a min-struct WINDOW over ch, not groupBy+join: the
    # join form evaluated the tokenize+md5 chunk lineage TWICE on the
    # decision side (aggregate branch + probe branch — no subplan
    # sharing); the window is single-lineage on the same ch exchange
    # (r14 A/B: experiments/boiler_window_r14.py).
    from pyspark.sql.window import Window
    kept_ids = (narrow.withColumn(
        "m", F.min(F.struct("doc_id", "idx")).over(
            Window.partitionBy("ch")))
        .where((F.col("doc_id") == F.col("m.doc_id"))
               & (F.col("idx") == F.col("m.idx")))
        .select("doc_id", "idx"))
    stats = (chunks.select("doc_id", "idx", "chunk")
             .join(kept_ids, ["doc_id", "idx"])
             .groupBy("doc_id")
             .agg(F.count("*").cast("int").alias("n_kept"),
                  F.md5(F.array_join(F.transform(
                      F.array_sort(F.collect_list(
                          F.struct("idx", "chunk"))),
                      lambda x: x["chunk"]), " ")).alias("clean_md5")))
    # LEFT join + defaults: a doc whose every chunk is a duplicate first
    # seen elsewhere keeps nothing and must still emit a row (n_kept=0,
    # md5 of the empty string) — the oracle's LEFT JOIN.
    return (w.select("doc_id", n_chunks.alias("n_chunks"))
            .join(stats, "doc_id", "left")
            .select("doc_id", "n_chunks",
                    F.coalesce("n_kept", F.lit(0)).cast("int")
                    .alias("n_kept"),
                    F.coalesce("clean_md5", F.md5(F.lit("")))
                    .alias("clean_md5"))
            .orderBy("doc_id"))


_BOILER_ORACLE = f"""
WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ws
           FROM documents),
c AS (SELECT doc_id, i AS idx,
             array_to_string(ws[(i * {BOILER_CHUNK_WORDS} + 1):
                 (i * {BOILER_CHUNK_WORDS} + {BOILER_CHUNK_WORDS})], ' ')
             AS chunk_str,
             CAST('0x' || substring(md5(array_to_string(
                 ws[(i * {BOILER_CHUNK_WORDS} + 1):
                    (i * {BOILER_CHUNK_WORDS} + {BOILER_CHUNK_WORDS})],
                 ' ')), 1, 15) AS BIGINT) AS ch
      FROM w CROSS JOIN LATERAL (SELECT unnest(range(
          CAST(ceil(len(ws) / {BOILER_CHUNK_WORDS}.0) AS INTEGER))) AS i) t),
kept AS (SELECT doc_id, idx, chunk_str FROM c
         QUALIFY ROW_NUMBER() OVER (PARTITION BY ch
                                    ORDER BY doc_id, idx) = 1),
stats AS (SELECT doc_id,
                 CAST(COUNT(*) AS INTEGER) AS n_kept,
                 md5(string_agg(chunk_str, ' ' ORDER BY idx)) AS clean_md5
          FROM kept GROUP BY doc_id),
nch AS (SELECT doc_id,
               CAST(ceil(len(ws) / {BOILER_CHUNK_WORDS}.0) AS INTEGER)
               AS n_chunks FROM w)
SELECT n.doc_id, n.n_chunks,
       COALESCE(s.n_kept, 0) AS n_kept,
       COALESCE(s.clean_md5, md5('')) AS clean_md5
FROM nch n LEFT JOIN stats s USING (doc_id)
ORDER BY doc_id
"""


OVERLAP_PREFIX_WORDS = 8


def nd_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — dedup PROVENANCE: which crawls/
    feeds duplicate each other, measured as Jaccard over each source's
    set of document-prefix fingerprints (md5 of the first
    OVERLAP_PREFIX_WORDS words — the template/boilerplate-sensitive key;
    whole-text md5 finds only byte-exact cross-source copies, which real
    multi-crawl corpora rarely share while templated heads are common).
    Emits one row per source pair that shares at least one fingerprint:
    (source_a, source_b, shared, jacc) with jacc = shared/(na+nb−shared),
    an int/int division — bit-exact, emitted raw.

    Scale shape: the corpus collapses to DISTINCT (fp, source) pairs
    (16-byte key + small dim value; text never leaves its scan), the
    self-join keys on fp where each bucket is bounded by #sources, and
    the pair aggregate is #sources² rows at most. The per-source set
    sizes attach through a broadcast of the ~#sources-row aggregate.

    Reference intent: the job-provenance summaries the requester node
    keeps per input CID set, re-expressed as corpus analytics."""
    return source_overlap_frame(
        table(spark, sf_dir, "documents").select("source", "text"))


def source_overlap_frame(docs: DataFrame) -> DataFrame:
    """The duplication matrix over an ARBITRARY (source, text) frame
    (nd_source_overlap is the fixture-bound wrapper; also the
    property-test surface)."""
    fp = F.md5(F.concat_ws(
        " ", F.slice(words("text"), 1, OVERLAP_PREFIX_WORDS)))
    ps = docs.select("source", fp.alias("fp")).distinct()
    per_src = ps.groupBy("source").agg(F.count("*").alias("n_fps"))
    a = ps.select(F.col("source").alias("source_a"), "fp")
    b = ps.select(F.col("source").alias("source_b"), "fp")
    shared = (a.join(b, "fp")
              .where(F.col("source_a") < F.col("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.count("*").cast("long").alias("shared")))
    na = F.broadcast(per_src.select(F.col("source").alias("source_a"),
                                    F.col("n_fps").alias("na")))
    nb = F.broadcast(per_src.select(F.col("source").alias("source_b"),
                                    F.col("n_fps").alias("nb")))
    return (shared.join(na, "source_a").join(nb, "source_b")
            .select("source_a", "source_b", "shared",
                    (F.col("shared") /
                     (F.col("na") + F.col("nb") - F.col("shared")))
                    .alias("jacc"))
            .orderBy("source_a", "source_b"))


_SOURCE_OVERLAP_ORACLE = f"""
WITH ps AS (
  SELECT DISTINCT source,
         md5(array_to_string((string_split(lower(text), ' '))
             [1:{OVERLAP_PREFIX_WORDS}], ' ')) AS fp
  FROM documents),
per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fps
        FROM ps GROUP BY source),
sh AS (SELECT a.source AS source_a, b.source AS source_b,
              CAST(COUNT(*) AS BIGINT) AS shared
       FROM ps a JOIN ps b ON a.fp = b.fp AND a.source < b.source
       GROUP BY 1, 2)
SELECT sh.source_a, sh.source_b, sh.shared,
       CAST(sh.shared AS DOUBLE) / (na.n_fps + nb.n_fps - sh.shared)
       AS jacc
FROM sh JOIN per na ON na.source = sh.source_a
        JOIN per nb ON nb.source = sh.source_b
ORDER BY source_a, source_b
"""


# Bloom-prefilter geometry. M bits, k=3 positions per fingerprint derived
# from ONE md5 via the universal-hash family above (no extra md5 calls). M
# is deliberately small at fixture scale so false positives actually
# occur (~450 corpus keys x 3 bits into 2048 -> fill ~0.5 -> fpr ~0.1)
# and the false-positive accounting is a live code path; production
# sizing is ~10-14 bits/key.
BLOOM_BITS = 2048
BLOOM_K = 3
BLOOM_AB = tuple(
    ((2654435761 * (s + 1) + 40503) % MH_PRIME or 1,
     (97781 * (s + 1) + 7919) % MH_PRIME)
    for s in range(BLOOM_K)
)


def _bloom_pos_cols(fp):
    """The k bit positions of a 60-bit fingerprint Column: fold to
    mod-P first so a*x stays under 2^62 (both engines, no overflow)."""
    xm = fp % MH_PRIME
    return [((F.lit(a) * xm + F.lit(b)) % MH_PRIME) % BLOOM_BITS
            for a, b in BLOOM_AB]


def nd_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup admission: the corpus's exact
    fingerprint set is folded into a BLOOM_BITS-bit bitmap; an incoming
    batch probes the bitmap and only bloom HITS reach the exact
    verification join. No false negatives (every true duplicate hits),
    so misses are admitted join-free — at 100 TB that's the difference
    between anti-joining every increment against a ~10^10-row
    fingerprint index and joining only the ~dup-rate+fpr fraction of
    it (bloom_admit_frame). Batch synthesis mirrors
    nd_incremental_dedup: fresh docs (doc_id%7==0) plus re-keyed
    re-crawl copies of corpus docs (doc_id%9==1) so true duplicates
    exist. Output: per-language admission audit (batch size, bloom
    hits, verified dups, false positives).

    Reference intent: pkg/computenode's bid admission — a cheap local
    check gates the expensive path; re-expressed for the dedup plane."""
    docs = table(spark, sf_dir, "documents")
    fp60 = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    corpus_fp = (docs.where(F.col("doc_id") % 7 != 0)
                 .select(fp60.alias("cfp")).distinct())
    batch = (docs.where(F.col("doc_id") % 7 == 0)
             .select("lang", fp60.alias("fp"))
             .unionByName(
                 docs.where((F.col("doc_id") % 7 != 0)
                            & (F.col("doc_id") % 9 == 1))
                 .select("lang", fp60.alias("fp"))))
    return bloom_admit_frame(corpus_fp, batch)


def bloom_admit_frame(corpus_fp: DataFrame, batch: DataFrame) -> DataFrame:
    """The bloom-admission core over ARBITRARY frames — corpus_fp holds
    distinct 60-bit fingerprints as `cfp`, batch holds (lang, fp) rows.
    The bitmap is a TABLE, not a literal: one (word, mask) row per set
    64-bit word, built by an explode→distinct→bit_or fold and never
    collected — no driver state, no plan-size ceiling (a 10^10-key
    filter at 10 bits/key is ~1.5G rows of two longs). The probe
    explodes each distinct batch fingerprint to its BLOOM_K word probes
    and joins the bitmap on the word index: at fixture scale AQE
    broadcasts the tiny word table; at corpus scale it is a shuffle
    join on a uniformly-distributed key (bloom positions are
    universal-hash outputs). A row is a hit iff all BLOOM_K probes find
    their bit set. The batch is pre-aggregated to (lang, fp, cnt) so
    each distinct fingerprint probes once and the audit re-weights by
    cnt. `cfp` distinctness is semantically required (a duplicated cfp
    would multiply verification-join hit rows and inflate every audit
    counter), so it is enforced here rather than assumed."""
    corpus_fp = corpus_fp.distinct()
    # 1) bitmap table: (w, m) — one row per set word, distributed.
    words_tbl = (corpus_fp
                 .select(F.explode(F.array(
                     *_bloom_pos_cols(F.col("cfp")))).alias("p"))
                 .distinct()
                 .select(F.shiftright("p", 6).alias("w"),
                         F.expr("shiftleft(CAST(1 AS BIGINT), "
                                "CAST(p % 64 AS INT))").alias("m"))
                 .groupBy("w").agg(F.expr("bit_or(m)").alias("m")))
    # 2) probe join: k (w, probe-mask) rows per distinct batch key. A
    #    duplicate position (two hash fns landing on one bit) yields two
    #    identical probes that both succeed, so sum(ok) == BLOOM_K stays
    #    the all-probes-set test.
    b = batch.groupBy("lang", "fp").agg(F.count("*").alias("cnt"))
    probes = (b.select("lang", "fp", "cnt",
                       F.explode(F.array(
                           *_bloom_pos_cols(F.col("fp")))).alias("p"))
              .select("lang", "fp", "cnt",
                      F.shiftright("p", 6).alias("w"),
                      F.expr("shiftleft(CAST(1 AS BIGINT), "
                             "CAST(p % 64 AS INT))").alias("pm")))
    flags = (probes.join(words_tbl, "w", "left")
             .withColumn("ok", F.col("m").isNotNull()
                         & F.expr("(m & pm) != 0"))
             .groupBy("lang", "fp", "cnt")
             .agg((F.sum(F.col("ok").cast("int")) == F.lit(BLOOM_K))
                  .alias("hit")))
    # 3) exact verification join over bloom HITS only; misses never
    #    touch the fingerprint index.
    hits = (flags.where("hit")
            .join(corpus_fp, F.col("fp") == F.col("cfp"), "left")
            .select("lang", "cnt", F.lit(True).alias("hit"),
                    F.col("cfp").isNotNull().alias("dup")))
    miss = (flags.where(~F.col("hit"))
            .select("lang", "cnt", F.lit(False).alias("hit"),
                    F.lit(False).alias("dup")))
    zero = F.lit(0).cast("long")
    return (hits.unionByName(miss)
            .groupBy("lang")
            .agg(F.sum("cnt").alias("n_batch"),
                 F.sum(F.when(F.col("hit"), F.col("cnt")).otherwise(zero))
                 .alias("n_bloom_hits"),
                 F.sum(F.when(F.col("dup"), F.col("cnt")).otherwise(zero))
                 .alias("n_dup"),
                 F.sum(F.when(F.col("hit") & ~F.col("dup"), F.col("cnt"))
                       .otherwise(zero)).alias("n_false_pos"))
            .orderBy("lang"))


def _bloom_pos_sql(x: str, i: int) -> str:
    a, b = BLOOM_AB[i]
    return (f"((({a} * (({x}) % {MH_PRIME}) + {b}) % {MH_PRIME})"
            f" % {BLOOM_BITS})")


_BLOOM_ORACLE = f"""
WITH corpus AS (SELECT DISTINCT
         CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS fp
     FROM documents WHERE doc_id % 7 <> 0),
pos AS (SELECT DISTINCT p FROM (
    SELECT unnest([{_bloom_pos_sql('fp', 0)}, {_bloom_pos_sql('fp', 1)},
                   {_bloom_pos_sql('fp', 2)}]) AS p FROM corpus) t),
batch AS (
    SELECT lang, CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS fp
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT lang, CAST('0x' || substring(md5(text), 1, 15) AS BIGINT)
    FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 9 = 1),
flag AS (SELECT lang,
                ({_bloom_pos_sql('fp', 0)} IN (SELECT p FROM pos)
                 AND {_bloom_pos_sql('fp', 1)} IN (SELECT p FROM pos)
                 AND {_bloom_pos_sql('fp', 2)} IN (SELECT p FROM pos))
                AS hit,
                fp IN (SELECT fp FROM corpus) AS dup
         FROM batch)
SELECT lang, COUNT(*) AS n_batch,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
       AS n_bloom_hits,
       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN hit AND NOT dup THEN 1 ELSE 0 END) AS BIGINT)
       AS n_false_pos
FROM flag GROUP BY lang ORDER BY lang
"""


QUERIES = {
    "nd_source_overlap": (nd_source_overlap, _SOURCE_OVERLAP_ORACLE),
    "nd_bloom_prefilter": (nd_bloom_prefilter, _BLOOM_ORACLE),
    "nd_substr_dedup": (nd_substr_dedup, _SUBSTR_DEDUP_ORACLE),
    "nd_neardup_decontam": (nd_neardup_decontam, _NEARDUP_DECONTAM_ORACLE),
    "nd_cross_dedup": (
        nd_cross_dedup,
        "WITH bench AS (SELECT DISTINCT md5(text) AS bfp FROM documents "
        "WHERE doc_id % 10 = 0), "
        "corpus AS (SELECT lang, md5(text) AS fp FROM documents "
        "WHERE doc_id % 10 <> 0) "
        "SELECT lang, COUNT(*) AS n_docs, "
        "CAST(SUM(CASE WHEN bfp IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_clean "
        "FROM corpus LEFT JOIN bench ON fp = bfp "
        "GROUP BY lang ORDER BY lang",
    ),
    "q29_exact_dedup": (
        q29_exact_dedup,
        "SELECT lang, COUNT(*) AS docs FROM "
        "(SELECT DISTINCT text, lang FROM documents) t "
        "GROUP BY lang ORDER BY lang",
    ),
    "nd_dedup_exact": (
        nd_dedup_exact,
        "SELECT MIN(doc_id) AS doc_id, COUNT(*) AS copies FROM documents "
        "GROUP BY md5(text) ORDER BY doc_id",
    ),
    "nd_minhash_lsh": (nd_minhash_lsh, _MINHASH_ORACLE),
    "nd_dedup_clusters": (nd_dedup_clusters, _CLUSTERS_ORACLE),
    "nd_curation_pipeline": (nd_curation_pipeline, _pipeline_oracle()),
    "nd_unicode_dedup": (nd_unicode_dedup, _UNICODE_DEDUP_ORACLE),
    "nd_winnowing": (nd_winnowing, _winnow_oracle()),
    "nd_minhash_estimate": (nd_minhash_estimate, f"""
{_MH_SH_CTES},
mh AS (SELECT doc_id, seed, min((a * x + b) % {MH_PRIME}) AS mh
       FROM sh CROSS JOIN (VALUES {_MH_AB_VALUES}) s(seed, a, b)
       GROUP BY doc_id, seed),
{_MH_SIG_CTES},
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM sig a JOIN sig b
         ON a.bkey = b.bkey AND a.doc_id < b.doc_id)
SELECT c.a_id, c.b_id,
       SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / {N_HASHES}.0
       AS est_jaccard
FROM cand c
JOIN mh ma ON ma.doc_id = c.a_id
JOIN mh mb ON mb.doc_id = c.b_id AND mb.seed = ma.seed
GROUP BY c.a_id, c.b_id
ORDER BY a_id, b_id
"""),
    "nd_simhash": (nd_simhash, _SIMHASH_ORACLE),
    "nd_chunk_dedup": (nd_chunk_dedup, _CHUNK_DEDUP_ORACLE),
    "nd_incremental_dedup": (nd_incremental_dedup, _INCREMENTAL_ORACLE),
    "nd_incremental_minhash": (nd_incremental_minhash,
                               _INCREMENTAL_MH_ORACLE),
    "nd_boilerplate_strip": (nd_boilerplate_strip, _BOILER_ORACLE),
    "nd_ngram_jaccard": (nd_ngram_jaccard, _JACCARD_ORACLE),
    "nd_containment": (nd_containment, _CONTAINMENT_ORACLE),
    "nd_weighted_jaccard": (nd_weighted_jaccard, _WEIGHTED_JACCARD_ORACLE),
    "nd_dedup_survivors": (nd_dedup_survivors, _SURVIVORS_ORACLE),
    "nd_leakage_safe_split": (nd_leakage_safe_split, _SPLIT_ORACLE),
    "nd_editdist_dedup": (nd_editdist_dedup, f"""
{_MH_SH_CTES},
mh AS (SELECT doc_id, seed, min((a * x + b) % {MH_PRIME}) AS mh
       FROM sh CROSS JOIN (VALUES {_MH_AB_VALUES}) s(seed, a, b)
       GROUP BY doc_id, seed),
{_MH_SIG_CTES},
pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sig a JOIN sig b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)
SELECT a_id, b_id, CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
FROM pairs JOIN documents da ON da.doc_id = a_id
           JOIN documents db ON db.doc_id = b_id
WHERE abs(length(da.text) - length(db.text)) <= {EDIT_MAX}
  AND levenshtein(da.text, db.text) <= {EDIT_MAX}
ORDER BY a_id, b_id
"""),
}
