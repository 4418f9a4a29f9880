"""Property-based tests (hypothesis) — an upgrade over the reference's
inline-assertion-only strategy (SURVEY.md §5): randomized inputs against
pure-Python reference implementations for the operators whose semantics are
easiest to get subtly wrong (as-of tie-breaks, manifest stability), plus
the pure-Python capacity manager (the reference unit-tests its own
capacitymanager exhaustively, `pkg/capacitymanager/capacitymanager_test.go`).

Spark round-trips are slow, so examples are few but adversarial: tiny key
spaces and tiny timestamp ranges force key collisions and ts ties. The
capacity properties are Spark-free and run hundreds of examples.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from bacalhau_spark.operators.asof import asof_join
from bacalhau_spark.sources.sinks import result_manifest

# (key, ts, id) with deliberately tiny domains to force ties.
_EVENT = st.tuples(st.integers(0, 2), st.integers(0, 5),
                   st.integers(0, 999))


def _ref_asof(left_rows, right_rows):
    """Reference semantics: per left row, the right row with greatest
    (ts, id) where right.ts <= left.ts and same key."""
    out = {}
    for k, ts, i in left_rows:
        best = None
        for rk, rts, ri in right_rows:
            if rk == k and rts <= ts and (best is None or (rts, ri) > best):
                best = (rts, ri)
        out[(k, ts, i)] = None if best is None else best[1]
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(left=st.lists(_EVENT, min_size=1, max_size=8, unique_by=lambda r: r[2]),
       right=st.lists(_EVENT, min_size=0, max_size=8,
                      unique_by=lambda r: r[2]))
def test_asof_join_matches_reference(spark, left, right):
    ldf = spark.createDataFrame(left, "k bigint, ts bigint, id bigint")
    rdf = spark.createDataFrame(right, "k bigint, ts bigint, rid bigint")
    got = asof_join(ldf, rdf, on="k", ts="ts", value_cols=["rid"],
                    tiebreak="rid")
    got_map = {(r["k"], r["ts"], r["id"]): r["asof_rid"]
               for r in got.collect()}
    want = _ref_asof(left, [(k, ts, i) for k, ts, i in right])
    assert got_map == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=st.lists(st.tuples(st.integers(0, 3), st.text("ab", max_size=3)),
                     min_size=0, max_size=10))
def test_manifest_is_layout_invariant(spark, rows):
    """result_manifest must depend only on row content — any repartitioning
    of the same rows hashes identically (replicated-verify foundation)."""
    df = spark.createDataFrame(rows, "k bigint, s string") if rows else \
        spark.range(0).select(F.col("id").alias("k"),
                              F.lit("").alias("s")).limit(0)
    m1 = result_manifest(df)
    m2 = result_manifest(df.repartition(5))
    m3 = result_manifest(df.coalesce(1))
    assert m1 == m2 == m3


# -- capacity manager properties (no Spark; many examples) -------------------

_REQ = st.builds(
    __import__("bacalhau_spark.capacity", fromlist=["ResourceUsage"])
    .ResourceUsage,
    cpu=st.floats(0.1, 4.0, allow_nan=False),
    memory=st.integers(1, 1 << 32),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_REQ, min_size=1, max_size=30), st.data())
def test_capacity_never_oversubscribes_and_preserves_fifo(reqs, data):
    """Invariants under arbitrary enqueue/admit/release interleavings:
    (1) Σ active requirements never exceeds total capacity;
    (2) among same-size requests, admission follows FIFO order;
    (3) every enqueued item is eventually admitted once capacity frees."""
    from bacalhau_spark.capacity import CapacityManager, ResourceUsage

    total = ResourceUsage(cpu=4.0, memory=1 << 33)
    cm = CapacityManager(total=total, max_backlog=len(reqs))
    admitted: list[str] = []
    for i, r in enumerate(reqs):
        cm.enqueue(f"j{i}", ResourceUsage(cpu=min(r.cpu, total.cpu),
                                          memory=min(r.memory, total.memory)))
    while cm.backlog_len() or cm.active_ids():
        batch = cm.admit_next()
        admitted.extend(batch)
        active = cm.active_ids()
        used_cpu = sum(cm._active[a].cpu for a in active)
        used_mem = sum(cm._active[a].memory for a in active)
        assert used_cpu <= total.cpu + 1e-9
        assert used_mem <= total.memory
        if not active:
            assert not cm.backlog_len(), "stuck backlog with empty active"
            break
        # release a data-chosen active item; progress must continue
        victim = data.draw(st.sampled_from(sorted(active)))
        cm.release(victim)
    # everything admitted exactly once
    assert sorted(admitted) == sorted(f"j{i}" for i in range(len(reqs)))


# Tiny word alphabet forces chunk collisions across documents; doc word
# counts straddle the 10-word chunk boundary (0..25 words) to exercise
# short tails, exact-boundary docs, and all-duplicate documents.
_DOC_WORDS = st.lists(st.sampled_from(["aa", "bb", "cc"]),
                      min_size=0, max_size=25)


def _ref_boiler_strip(doc_words: list[list[str]], chunk: int):
    """Pure-Python keep-first chunk dedup + rebuild (the
    boilerplate_strip_frame contract): chunks in (doc_id, idx) order,
    first occurrence of each chunk string survives; cleaned text is the
    surviving chunks space-joined in idx order."""
    seen: set[str] = set()
    out = {}
    for doc_id, raw in enumerate(doc_words):
        # the engines' split convention: splitting "" on " " yields [""]
        # (one empty token), so an empty document has ONE empty chunk —
        # hypothesis found this; Python's "".split(" ") == [''] models it
        ws = " ".join(raw).split(" ")
        n_chunks = (len(ws) + chunk - 1) // chunk
        kept_parts = []
        for i in range(n_chunks):
            c = " ".join(ws[i * chunk:(i + 1) * chunk])
            if c not in seen:
                seen.add(c)
                kept_parts.append(c)
        out[doc_id] = (n_chunks, len(kept_parts), " ".join(kept_parts))
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(_DOC_WORDS, min_size=1, max_size=6))
def test_boilerplate_strip_matches_reference(spark, docs):
    """Randomized corpora against the pure-Python keep-first reference:
    counts AND rebuilt-text md5 must agree for every document, including
    empty docs, exact-boundary docs, and docs whose every chunk was
    first seen elsewhere."""
    import hashlib

    from bacalhau_spark.operators.dedup import (BOILER_CHUNK_WORDS,
                                                boilerplate_strip_frame)
    frame = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_chunks, r.n_kept, r.clean_md5)
           for r in boilerplate_strip_frame(frame).collect()}
    ref = _ref_boiler_strip(docs, BOILER_CHUNK_WORDS)
    assert got.keys() == ref.keys()
    for d, (nc, nk, clean) in ref.items():
        assert got[d] == (nc, nk,
                          hashlib.md5(clean.encode()).hexdigest()), (
            d, docs[d], got[d], (nc, nk, clean))


def _ref_minhash_bands(doc_words: dict[int, list[str]]):
    """Independent pure-Python reimplementation of the minhash pipeline
    (word md5 -> rolling polynomial shingle keys -> 16 affine mins ->
    folded band keys) from the published constants alone — NOT a
    transliteration of the Spark expressions, so a bug in the shared
    column-expression builders cannot cancel out."""
    import hashlib

    from bacalhau_spark.operators import dedup as dd

    out = {}
    for doc_id, ws in doc_words.items():
        wh = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
              % dd.MH_PRIME for w in ws]
        shingles = []
        for i in range(len(wh) - dd.MH_SHINGLE_N + 1):
            acc = wh[i]
            for k in range(1, dd.MH_SHINGLE_N):
                acc = (acc * dd.MH_ROLL_C + wh[i + k]) % dd.MH_PRIME
            shingles.append(acc)
        if not shingles:
            continue  # no signature row on either engine
        sig = [min((a * x + b) % dd.MH_PRIME for x in shingles)
               for a, b in dd.MH_AB]
        bands = []
        for b in range(dd.N_BANDS):
            acc = b
            for r in range(dd.ROWS_PER_BAND):
                acc = (acc * dd.MH_ROLL_C
                       + sig[b * dd.ROWS_PER_BAND + r]) % dd.BKEY_PRIME
            bands.append(acc)
        out[doc_id] = (sig, bands)
    return out


_MH_DOC = st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                   min_size=0, max_size=12)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(_MH_DOC, min_size=1, max_size=5))
def test_minhash_signature_and_bands_match_reference(spark, docs):
    """The flagship family's signature pipeline and band-key fold against
    the independent Python model: every (doc, mh0..mh15) and every folded
    band key must agree, including docs too short to shingle (no row)."""
    from bacalhau_spark.operators.dedup import (_band_key_exprs,
                                                _mh_sig_frame)
    frame = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string")
    sig = _mh_sig_frame(frame)
    got_sig = {r.doc_id: [r[f"mh{i}"] for i in range(16)]
               for r in sig.collect()}
    got_bands = {r.doc_id: sorted(r.bands) for r in sig.select(
        "doc_id", F.array(*_band_key_exprs()).alias("bands")).collect()}
    # model the engines' split convention: "" splits to [""]
    ref = _ref_minhash_bands(
        {i: " ".join(ws).split(" ") for i, ws in enumerate(docs)})
    assert got_sig.keys() == ref.keys()
    for d, (sig_ref, bands_ref) in ref.items():
        assert got_sig[d] == sig_ref, (d, docs[d])
        assert got_bands[d] == sorted(bands_ref), (d, docs[d])


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(
    st.tuples(st.sampled_from(["s0", "s1", "s2"]),
              st.lists(st.sampled_from(["aa", "bb", "cc"]),
                       min_size=0, max_size=12)),
    min_size=1, max_size=10))
def test_source_overlap_matches_reference(spark, docs):
    """Cross-source duplication matrix vs a pure-Python model: per-source
    prefix-fingerprint sets, pairwise shared counts, and exact Jaccard
    must agree (tiny alphabet + short docs force cross-source prefix
    collisions and sub-prefix-length documents)."""
    from bacalhau_spark.operators.dedup import (OVERLAP_PREFIX_WORDS,
                                                source_overlap_frame)

    frame = spark.createDataFrame(
        [(i, src, " ".join(ws)) for i, (src, ws) in enumerate(docs)],
        "doc_id long, source string, text string")
    got = {(r.source_a, r.source_b): (r.shared, r.jacc)
           for r in source_overlap_frame(
               frame.select("source", "text")).collect()}

    sets: dict[str, set] = {}
    for src, ws in docs:
        toks = " ".join(ws).split(" ")
        fp = " ".join(toks[:OVERLAP_PREFIX_WORDS])
        sets.setdefault(src, set()).add(fp)
    want = {}
    srcs = sorted(sets)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            shared = len(sets[a] & sets[b])
            if shared:
                want[(a, b)] = (shared,
                                shared / (len(sets[a]) + len(sets[b])
                                          - shared))
    assert got.keys() == want.keys()
    for k, (sh, jc) in want.items():
        assert got[k][0] == sh
        assert abs(got[k][1] - jc) < 1e-12


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(st.lists(st.sampled_from(["aa", "bb", "cc", "dd",
                                               "ee"]),
                              min_size=1, max_size=10),
                     min_size=1, max_size=8),
       k=st.integers(1, 4))
def test_vocab_coverage_matches_reference(spark, docs, k):
    """Coverage audit vs a pure-Python model with the SAME top-K rule
    (count desc, word asc) at a hypothesis-chosen small K — frequency
    ties at the cut boundary are exactly where a wrong tie-break order
    silently flips OOV flags."""
    import collections

    from unittest import mock

    import bacalhau_spark.operators.text as tx

    frame = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string")
    with mock.patch.object(tx, "VOCAB_K", k):
        got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
               for r in tx.vocab_coverage_frame(frame).collect()}

    counts = collections.Counter(w for ws in docs for w in ws)
    vocab = {w for w, _ in sorted(counts.items(),
                                  key=lambda kv: (-kv[1], kv[0]))[:k]}
    for i, ws in enumerate(docs):
        n_oov = sum(1 for w in ws if w not in vocab)
        assert got[i] == (len(ws), n_oov, n_oov / len(ws)), (
            i, ws, sorted(vocab))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(
    st.tuples(st.sampled_from(["s0", "s1", "s2"]),
              st.lists(st.sampled_from(["aa", "bb"]),
                       min_size=1, max_size=6)),
    min_size=1, max_size=10))
def test_mix_temperature_matches_reference(spark, docs):
    """Temperature weights vs Python: exact counts, and the
    relative-to-max sqrt weights / boosts reproduced with the identical
    IEEE op chain (math.sqrt + divides) — bit-equal, no tolerance."""
    import math

    from bacalhau_spark.operators.curation import mix_temperature_frame

    frame = spark.createDataFrame(
        [(i, src, " ".join(ws)) for i, (src, ws) in enumerate(docs)],
        "doc_id long, source string, text string")
    got = {r.source: (r.n_docs, r.n_tokens, r.weight_rel, r.boost)
           for r in mix_temperature_frame(frame).collect()}

    agg: dict[str, list[int]] = {}
    for src, ws in docs:
        n_tok = len(" ".join(ws).split(" "))
        d = agg.setdefault(src, [0, 0])
        d[0] += 1
        d[1] += n_tok
    n_max = max(v[1] for v in agg.values())
    for src, (nd, nt) in agg.items():
        w_rel = math.sqrt(nt) / math.sqrt(n_max)
        boost = w_rel / (nt / n_max)
        assert got[src] == (nd, nt, w_rel, boost), (src, got[src])


# ---------------------------------------------------------------------------
# round 7: bloom admission + integer k-means vs pure-Python models
# ---------------------------------------------------------------------------

def _ref_bloom(corpus_fps, batch):
    """Pure-Python bloom admission: bitmap = union of k positions per
    corpus fp; hit = all positions set; dup = exact membership."""
    from bacalhau_spark.operators.dedup import (BLOOM_AB, BLOOM_BITS,
                                                MH_PRIME)

    def pos(fp):
        xm = fp % MH_PRIME
        return [((a * xm + b) % MH_PRIME) % BLOOM_BITS for a, b in BLOOM_AB]

    cset = set(corpus_fps)
    bits = {p for fp in cset for p in pos(fp)}
    audit = {}
    for lang, fp in batch:
        hit = all(p in bits for p in pos(fp))
        dup = fp in cset
        n, h, d, f = audit.get(lang, (0, 0, 0, 0))
        audit[lang] = (n + 1, h + hit, d + dup, f + (hit and not dup))
    return audit


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(corpus=st.lists(st.integers(0, 2**60 - 1), min_size=1, max_size=12),
       batch=st.lists(st.tuples(st.sampled_from(["en", "de"]),
                                st.integers(0, 40)),
                      min_size=1, max_size=12),
       overlap=st.lists(st.integers(0, 11), max_size=4))
def test_bloom_admission_matches_reference(spark, corpus, batch, overlap):
    """Bloom bitmap build + word-table probe + hits-only verification vs the
    pure-Python model: per-language batch/hit/dup/false-positive counts
    must agree exactly. `overlap` injects corpus fps into the batch so
    true duplicates (guaranteed hits) are always exercised; small batch
    fps make bloom false positives likely at 2048 bits."""
    from bacalhau_spark.operators.dedup import bloom_admit_frame

    batch = list(batch) + [("en", corpus[i % len(corpus)])
                           for i in overlap]
    cdf = spark.createDataFrame([(f,) for f in set(corpus)], "cfp long")
    bdf = spark.createDataFrame(batch, "lang string, fp long")
    want = _ref_bloom(corpus, batch)
    got = {r["lang"]: (r["n_batch"], r["n_bloom_hits"], r["n_dup"],
                       r["n_false_pos"])
           for r in bloom_admit_frame(cdf, bdf).collect()}
    assert got == want


def _ref_kmeans(vectors, k, iters):
    """Pure-Python integer Lloyd's: quantize, assign by (dist, cid)
    lexicographic argmin, floored-mean centroid update; empty clusters
    drop out exactly as Spark's join-groupBy drops them."""
    import math

    from bacalhau_spark.operators.similarity import KM_OFF, KM_SCALE

    q = [[math.floor(x * KM_SCALE) + KM_OFF for x in v] for v in vectors]
    cent = {c: list(q[c]) for c in range(k)}
    assign = {}
    for it in range(iters):
        assign = {
            vid: min((sum((a - b) * (a - b) for a, b in zip(vq, cent[c])),
                      c) for c in cent)
            for vid, vq in enumerate(q)}
        if it < iters - 1:
            cent = {}
            for vid, (_, cid) in assign.items():
                cent.setdefault(cid, []).append(q[vid])
            cent = {c: [sum(col) // len(ms) for col in zip(*ms)]
                    for c, ms in cent.items()}
    out = {}
    for _, (d, cid) in assign.items():
        n, inertia = out.get(cid, (0, 0))
        out[cid] = (n + 1, inertia + d)
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(data=st.data())
def test_kmeans_matches_reference(spark, data):
    """Integer k-means vs the pure-Python model: identical quantization,
    argmin tie-break, floored-mean updates, and exact inertia — including
    degenerate inputs (k=1, duplicate points, clusters that empty out)."""
    from bacalhau_spark.operators.similarity import kmeans_frame

    k = data.draw(st.integers(1, 3))
    n = data.draw(st.integers(k, 7))
    dims = data.draw(st.integers(2, 4))
    coord = st.floats(-1, 1, allow_nan=False, allow_infinity=False,
                      width=64)
    vecs = data.draw(st.lists(
        st.lists(coord, min_size=dims, max_size=dims),
        min_size=n, max_size=n))
    iters = data.draw(st.integers(1, 3))
    frame = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {r["cluster_id"]: (r["n_points"], r["inertia"])
           for r in kmeans_frame(frame, k=k, iters=iters).collect()}
    assert got == _ref_kmeans(vecs, k, iters)


def test_kmeans_rejects_out_of_range_embedding(spark):
    """The quantization-range contract is enforced, not assumed: an
    embedding below -KM_OFF/KM_SCALE would make Spark's truncating DIV
    disagree with the oracle's flooring // — kmeans_frame must fail
    loudly (raise_error in-plan) instead of silently desyncing."""
    import pytest

    from bacalhau_spark.operators.similarity import (KM_OFF, KM_SCALE,
                                                     kmeans_frame)

    bad = -(KM_OFF / KM_SCALE) - 0.5
    frame = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [bad, 0.3])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="quantized embedding < 0"):
        kmeans_frame(frame, k=1, iters=1).collect()


def _ref_cms(tokens):
    """Pure-Python count-min sketch mirroring cms_frame: 60-bit md5
    prefix mod CMS_PRIME, CMS_D affine positions, exact counters,
    min-of-counters estimate."""
    import hashlib
    from collections import Counter

    from bacalhau_spark.operators.text import CMS_AB, CMS_PRIME, CMS_W

    def x(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15],
                   16) % CMS_PRIME

    counters = Counter()
    for tok in tokens:
        for s, (a, b) in enumerate(CMS_AB):
            counters[(s, (a * x(tok) + b) % CMS_PRIME % CMS_W)] += 1
    true = Counter(tokens)
    return {tok: (n, min(counters[(s, (a * x(tok) + b) % CMS_PRIME
                                   % CMS_W)]
                         for s, (a, b) in enumerate(CMS_AB)))
            for tok, n in true.items()}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(tokens=st.lists(st.sampled_from(
    ["a", "b", "cc", "dd", "e", "zipfhead", "zipfhead", "tail1", "tail2"]),
    min_size=1, max_size=40))
def test_cms_matches_reference(spark, tokens):
    """The CMS core vs the pure-Python model: identical positions,
    counters, and min-estimates — and the CMS invariant (never
    undercounts) holds on every row."""
    from bacalhau_spark.operators.text import cms_frame

    toks = spark.createDataFrame([(t,) for t in tokens], "tok string")
    rows = cms_frame(toks).collect()
    got = {r["tok"]: (r["true_count"], r["est_count"]) for r in rows}
    assert got == _ref_cms(tokens)
    assert all(r["overcount"] >= 0 for r in rows)


def _ref_bpe(texts: list[str], merges: int):
    """Pure-Python BPE training: Counter vocab, (count DESC, sep-string
    ASC) argmax, left-to-right non-overlapping merge rewrite."""
    from collections import Counter

    SEP = "\x1f"
    vocab = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            vocab[w] += 1
    syms = {w: list(w) for w in vocab}
    rules = []
    for step in range(1, merges + 1):
        pc = Counter()
        for w, c in vocab.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (a, b), n = min(pc.items(),
                        key=lambda kv: (-kv[1], kv[0][0] + SEP + kv[0][1]))
        rules.append((step, f"{a} {b}", n))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return rules


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(
    st.lists(st.text("abc", min_size=1, max_size=4), min_size=1,
             max_size=5).map(" ".join),
    min_size=1, max_size=5),
    merges=st.integers(1, 3))
def test_bpe_merges_matches_reference(spark, docs, merges):
    """The full BPE training loop vs the pure-Python model: identical
    pair counts, argmax tie-break (count DESC then sep-joined pair ASC,
    = tuple order because the separator sorts below every symbol
    char), left-to-right merge rewrites (overlap chains like 'aaa'
    included), and early stop when the vocab runs out of pairs."""
    from bacalhau_spark.operators.curation import bpe_merge_rules

    frame = spark.createDataFrame([(t,) for t in docs], "text string")
    got = [(r["step"], r["pair"], r["n"])
           for r in bpe_merge_rules(spark, frame, merges=merges).collect()]
    assert got == _ref_bpe(docs, merges)


def _ref_pagerank(edges: list[tuple[int, int]], iters: int):
    """Pure-Python integer PageRank: undirected walk over the distinct
    edge set, truncating division at every step, R_SCALE=1e12."""
    R = 10**12
    und = set()
    for u, v in set(edges):
        und.add((u, v))
        und.add((v, u))
    deg: dict[int, int] = {}
    for u, _ in und:
        deg[u] = deg.get(u, 0) + 1
    n = len(deg)
    r = {u: R // n for u in deg}
    for _ in range(iters):
        s = {u: 0 for u in deg}
        for u, v in und:
            s[v] += r[u] // deg[u]
        r = {u: ((R // n) * 15) // 100 + (85 * s[u]) // 100 for u in deg}
    return {u: (deg[u], r[u]) for u in deg}


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(edges=st.lists(
    st.tuples(st.integers(0, 4).map(lambda c: 2 * c),
              st.integers(0, 3).map(lambda s: 2 * s + 1)),
    min_size=1, max_size=12),
    iters=st.integers(1, 3))
def test_pagerank_matches_reference(spark, edges, iters):
    """The integer PageRank loop vs the pure-Python model: identical
    degrees and ranks for EVERY node after each iteration count —
    pins the undirected edge doubling, the truncating per-step
    divisions, and the damped update's exact operation order."""
    from bacalhau_spark.operators.graph import pagerank_ranks

    fwd = spark.createDataFrame(list(set(edges)), "u long, v long")
    got = {r["u"]: (r["deg"], r["r"])
           for r in pagerank_ranks(fwd, iters=iters).collect()}
    assert got == _ref_pagerank(edges, iters)


def _ref_shingle_pairs(docs: list[tuple[int, str]], cap: int):
    """Pure-Python model of the shared shingle-pair core: distinct
    word-3-gram sets, df cap, integer rarity weights nd//df, and both
    the weighted-jaccard and directed-containment scores."""
    sh = {}
    for i, text in docs:
        ws = text.lower().split(" ")
        sh[i] = {tuple(ws[j:j + 3]) for j in range(len(ws) - 2)}
    nd = len(docs)
    df: dict[tuple, int] = {}
    for v in sh.values():
        for s in v:
            df[s] = df.get(s, 0) + 1
    keep = {s for s, c in df.items() if c <= cap}
    wt = {s: nd // df[s] for s in keep}
    kept = {i: v & keep for i, v in sh.items()}
    plain_n = {i: len(v) for i, v in kept.items()}
    wsize = {i: sum(wt[s] for s in v) for i, v in kept.items()}
    wj, cont = {}, {}
    ids = sorted(kept)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = kept[a] & kept[b]
            if not inter:
                continue
            sw = sum(wt[s] for s in inter)
            wj[(a, b)] = (sw, sw / (wsize[a] + wsize[b] - sw))
            cont[(a, b)] = (len(inter) / plain_n[a],
                            len(inter) / plain_n[b])
    return wj, cont


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(texts=st.lists(
    st.lists(st.sampled_from("abcd"), min_size=1, max_size=8)
    .map(" ".join),
    min_size=1, max_size=6))
def test_weighted_jaccard_and_containment_match_reference(spark, texts):
    """The shared inverted-index pair core's two scoring heads vs a
    pure-Python model: identical pair sets, integer weight sums, and
    bit-exact int/int-division scores (threshold=0 so every sharing
    pair is compared), including docs too short to shingle and the
    df-cap interaction."""
    from bacalhau_spark.operators.buckets import BUCKET_CAP
    from bacalhau_spark.operators.dedup import (containment_pairs,
                                                shingle_doc_postings,
                                                shingle_pair_stats,
                                                shingle_postings,
                                                weighted_jaccard_pairs,
                                                weighted_pair_stats)

    docs = list(enumerate(texts, start=1))
    ref_wj, ref_cont = _ref_shingle_pairs(docs, cap=BUCKET_CAP)
    frame = spark.createDataFrame(docs, ["doc_id", "text"])
    post = shingle_postings(shingle_doc_postings(frame))
    got_wj = {(r.a_id, r.b_id): (r.shared_w, r.wjaccard)
              for r in weighted_jaccard_pairs(
                  weighted_pair_stats(post, frame.select("doc_id")),
                  threshold=0.0).collect()}
    assert got_wj == ref_wj
    got_cont = {}
    for r in containment_pairs(shingle_pair_stats(post),
                               threshold=0.0).collect():
        a, b = sorted((r.contained_id, r.container_id))
        cur = got_cont.setdefault((a, b), [None, None])
        cur[0 if r.contained_id == a else 1] = r.containment
    assert got_cont == {k: [v[0], v[1]] for k, v in ref_cont.items()}


def _ref_hll(texts_by_source: dict[str, list[str]]):
    """Pure-Python HLL over md5-fingerprinted texts: 64 max-registers,
    rho from bit lengths, exact integer harmonic denominator, the
    two-division estimate, and the shared literal linear-counting
    branch."""
    import hashlib

    from bacalhau_spark.operators.aggregates import (HLL_ALPHA_DEN,
                                                     HLL_ALPHA_NUM, HLL_LC,
                                                     HLL_M, HLL_RHO_CAP)
    out = {}
    for src, texts in texts_by_source.items():
        fps = {int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
               for t in texts}
        regs = [0] * HLL_M
        for fp in fps:
            j, w = fp % HLL_M, fp // HLL_M
            rho = min(55 if w == 0 else 55 - w.bit_length(), HLL_RHO_CAP)
            regs[j] = max(regs[j], rho)
        den = sum(1 << (HLL_RHO_CAP - m) for m in regs)
        raw = ((1 << (12 + HLL_RHO_CAP)) // den) \
            * HLL_ALPHA_NUM // HLL_ALPHA_DEN
        v = regs.count(0)
        est = HLL_LC[v - 1] if raw <= 5 * HLL_M // 2 and v > 0 else raw
        n = len(fps)
        out[src] = (n, est, abs(est - n) * 1_000_000 // n)
    return out


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(data=st.dictionaries(
    st.sampled_from(["sA", "sB"]),
    st.lists(st.text("abcdef", min_size=1, max_size=6), min_size=1,
             max_size=30),
    min_size=1, max_size=2))
def test_hll_matches_reference(spark, data):
    """The integer HLL vs a pure-Python model: identical registers
    (bit-length rho, dedup before registering), identical exact
    harmonic denominator, identical truncating-division estimate, and
    the same literal linear-counting branch — including duplicate
    texts collapsing and the v_zero=0 fallthrough."""
    import pyspark.sql.functions as F

    from bacalhau_spark.operators.aggregates import nd_hll_distinct

    rows = [(s, t) for s, texts in data.items() for t in texts]
    frame = spark.createDataFrame(rows, ["source", "text"])
    frame.createOrReplaceTempView("_hll_docs")
    # run the operator's logic against the tiny frame by aliasing the
    # fixture scan path: rebuild inline (the op core is expression-only)
    from bacalhau_spark.operators import aggregates as agg
    import unittest.mock as mock
    with mock.patch.object(agg, "table", lambda _s, _d, _n: frame):
        got = {r["source"]: (r["n_true"], r["est"], r["err_ppm"])
               for r in nd_hll_distinct(spark, "ignored").collect()}
    assert got == _ref_hll(data)


def _ref_skipgram(texts: list[str], win: int, k: int):
    from collections import Counter

    c: Counter = Counter()
    for t in texts:
        ws = t.lower().split(" ")
        for i, w in enumerate(ws):
            for d in range(1, win + 1):
                if i + d < len(ws):
                    c[(w, ws[i + d])] += 1
                    c[(ws[i + d], w)] += 1
    return sorted(((n, w1, w2) for (w1, w2), n in c.items()),
                  key=lambda t: (-t[0], t[1], t[2]))[:k]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(texts=st.lists(
    st.lists(st.sampled_from("abc"), min_size=1, max_size=10)
    .map(" ".join),
    min_size=1, max_size=5))
def test_skipgram_matches_reference(spark, texts):
    """Skip-gram extraction vs a pure-Python window counter: both
    orientations, the +/-2 window clipped at document edges, and the
    (n DESC, w1, w2) top-k cut — including single-word docs that emit
    nothing."""
    import unittest.mock as mock

    from bacalhau_spark.operators import text as T

    frame = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                  ["doc_id", "text"])
    with mock.patch.object(T, "table", lambda _s, _d, _n: frame):
        got = [(r["n"], r["w1"], r["w2"])
               for r in T.nd_skipgram_pairs(spark, "ignored").collect()]
    assert got == _ref_skipgram(texts, T.SKIPGRAM_WIN, T.SKIPGRAM_TOP_K)


def _ref_zipf(texts: list[str]):
    from collections import Counter

    freq = Counter(w for t in texts for w in t.lower().split(" "))
    octs: dict[int, list[int]] = {}
    for f in freq.values():
        octs.setdefault(f.bit_length() - 1, []).append(f)
    total = sum(freq.values())
    return [(o, len(v), sum(v), sum(v) * 1_000_000 // total)
            for o, v in sorted(octs.items())]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(texts=st.lists(
    st.lists(st.sampled_from("ab"), min_size=1, max_size=6).map(" ".join),
    min_size=1, max_size=6))
def test_zipf_octaves_matches_reference(spark, texts):
    """Octave binning vs Python int.bit_length(): the exact-arithmetic
    claim (length(bin(f))-1 == bit_length-1) across the 2^k boundaries,
    plus type/token/mass-ppm accounting."""
    import unittest.mock as mock

    from bacalhau_spark.operators import text as T

    frame = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                  ["doc_id", "text"])
    with mock.patch.object(T, "table", lambda _s, _d, _n: frame):
        got = [(r["octave"], r["n_types"], r["n_tokens"], r["mass_ppm"])
               for r in T.nd_zipf_octaves(spark, "ignored").collect()]
    assert got == _ref_zipf(texts)


def _ref_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Pure-Python union-find: min node id per component, for every
    node that appears in an edge."""
    parent: dict[int, int] = {}

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
    return {v: find(v) for v in {x for p in pairs for x in p}}


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(pairs=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                      min_size=1, max_size=20)
       .map(lambda ps: [(a, b) for a, b in ps if a != b]))
def test_cc_doubling_matches_union_find(spark, pairs):
    """Pointer-jumping connected components vs a pure-Python
    union-find, on arbitrary small graphs (self-loops stripped;
    duplicate and reversed edges allowed — the label contract is
    min-node-id per component regardless of edge multiplicity)."""
    from hypothesis import assume

    from bacalhau_spark.operators.dedup import cc_labels_doubling

    assume(pairs)
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    labels = cc_labels_doubling(edges)
    got = {r["id"]: r["label"] for r in labels.collect()}
    labels.unpersist()
    assert got == _ref_components(pairs)


def _ref_winnowing(texts: list[str]):
    """Pure-Python winnowing model mirroring the Spark fold exactly:
    md5-prefix word hashes mod MH_PRIME, the MH_SHINGLE_N-word rolling
    polynomial, per-window minima (WINNOW_W), per-doc distinct
    fingerprint sets, the BUCKET_CAP stop-fingerprint guard, and
    shared-count pairs >= WINNOW_MIN_SHARED."""
    import hashlib

    from bacalhau_spark.operators.buckets import BUCKET_CAP
    from bacalhau_spark.operators.dedup import (MH_PRIME, MH_ROLL_C,
                                                MH_SHINGLE_N,
                                                WINNOW_MIN_SHARED,
                                                WINNOW_W)

    sel: dict[int, set[int]] = {}
    for i, text in enumerate(texts):
        h = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % MH_PRIME
             for w in text.lower().split(" ")]
        ks = []
        for j in range(max(len(h) - MH_SHINGLE_N + 1, 0)):
            acc = h[j]
            for k in range(1, MH_SHINGLE_N):
                acc = (acc * MH_ROLL_C + h[j + k]) % MH_PRIME
            ks.append(acc)
        sel[i] = {min(ks[j:j + WINNOW_W])
                  for j in range(max(len(ks) - WINNOW_W + 1, 0))}
    df: dict[int, int] = {}
    for v in sel.values():
        for fp in v:
            df[fp] = df.get(fp, 0) + 1
    kept = {i: {fp for fp in v if df[fp] <= BUCKET_CAP}
            for i, v in sel.items()}
    out = {}
    ids = sorted(kept)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            shared = len(kept[a] & kept[b])
            if shared >= WINNOW_MIN_SHARED:
                out[(a, b)] = shared
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(texts=st.lists(
    st.lists(st.sampled_from("abcd"), min_size=1, max_size=16)
    .map(" ".join),
    min_size=1, max_size=5))
def test_winnowing_matches_reference(spark, texts):
    """The full winnowing pipeline vs the pure-Python model — pins the
    hash fold, the window-min selection, the df cap, and the shared
    count, including docs shorter than the shingle width (no
    fingerprints) and window-boundary cases."""
    from bacalhau_spark.operators.dedup import winnowing_pairs

    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = {(r.a_id, r.b_id): r.shared_fps
           for r in winnowing_pairs(docs).collect()}
    assert got == _ref_winnowing(texts)


@settings(max_examples=30, deadline=None)
@given(w=st.integers(1, 12), h=st.integers(1, 9),
       seed=st.integers(0, 2**31))
def test_bmp_decode_roundtrip(w, h, seed):
    """The struct-only BMP parser round-trips arbitrary grayscale
    grids exactly: encode via the test builder (bottom-up, stride-
    padded), decode via decode_bmp_gray, recover the identical luma
    grid (gray in == gray out since r==g==b collapses the luma fold
    to the identity)."""
    import hashlib

    from bacalhau_spark.operators.multimodal import decode_bmp_gray

    from tests.test_operators import _make_bmp_px

    px = [[int(hashlib.md5(f"{seed}:{y}:{x}".encode())
               .hexdigest()[:2], 16) for x in range(w)]
          for y in range(h)]
    gw, gh, gray = decode_bmp_gray(_make_bmp_px(px))
    assert (gw, gh) == (w, h)
    assert gray == [v for row in px for v in row]


@settings(max_examples=60, deadline=None)
@given(junk=st.binary(min_size=0, max_size=256))
def test_media_parsers_reject_junk_loudly(junk):
    """Arbitrary bytes never crash the BMP parser with anything but the
    declared ValueError — the per-payload fallback contract the real
    mapInPandas closures rely on (one bad blob never fails a batch).
    Magic-prefixed junk (a truncated/corrupt bitmap) must also raise
    ValueError, never IndexError/struct.error."""
    import pytest

    from bacalhau_spark.operators.multimodal import decode_bmp_gray

    for payload in (junk, b"BM" + junk):
        try:
            decode_bmp_gray(payload)
        except ValueError:
            pass  # the declared refusal
        except Exception as exc:  # noqa: BLE001
            pytest.fail(f"decode_bmp_gray: undeclared {type(exc).__name__} "
                        f"on {len(payload)}-byte payload")


@given(files=st.lists(st.lists(st.integers(-50, 50), min_size=1,
                               max_size=8),
                      min_size=1, max_size=6),
       data=st.data())
@settings(deadline=None, max_examples=200)
def test_file_pruner_is_a_superset_guarantee(files, data):
    """The manifest-stat pruner may keep too much, never too little:
    for a random conjunction over ==/<=/</>=/>/in (the full op set,
    `in` added round 14 for the IVF probe shape), any file holding at
    least one row that satisfies every conjunct must survive
    _file_may_match on its recorded [min, max] — and a file with no
    recorded stats is never pruned (the conservative default the
    round-10 ADVICE pinned)."""
    from bacalhau_spark.sources.versioned import _file_may_match

    n_conj = data.draw(st.integers(1, 3))
    pred = []
    for _ in range(n_conj):
        op = data.draw(st.sampled_from(["==", "<=", "<", ">=", ">",
                                        "in"]))
        if op == "in":
            val = tuple(data.draw(st.lists(st.integers(-50, 50),
                                           min_size=1, max_size=4)))
        else:
            val = data.draw(st.integers(-50, 50))
        pred.append(("k", op, val))

    def row_ok(v):
        for _, op, val in pred:
            if op == "==" and not v == val:
                return False
            if op == "<=" and not v <= val:
                return False
            if op == "<" and not v < val:
                return False
            if op == ">=" and not v >= val:
                return False
            if op == ">" and not v > val:
                return False
            if op == "in" and v not in val:
                return False
        return True

    for rows in files:
        stats = {"k": [min(rows), max(rows)]}
        if any(row_ok(v) for v in rows):
            assert _file_may_match(stats, pred), (rows, pred)
        assert _file_may_match({}, pred)  # statless: never pruned
