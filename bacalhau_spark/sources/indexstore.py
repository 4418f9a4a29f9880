"""The persisted index store — one lifecycle for every shared index.

Every store-backed index (minhash signatures, band candidates, winnow
and shingle postings, perceptual hashes, the crawl front door, the
embedding-plane LSH/IVF/PQ artifacts) is built, published and adopted
through `cached_index`:

- tier 1 (session): one frame per (source content, kind, builder rev)
  in a `SessionCache`, so every consumer in a session shares ONE frame;
- tier 2 (persisted): a versioned parquet table under
  `index_store_root()`, addressed by the SOURCE CONTENT
  (`content_key`), never by path or session — build once, publish,
  and every later consumer (this session, the next, another process,
  another mount of the same bytes) scans the artifact.

Reference analog: CID-keyed input caching,
pkg/storage/ipfs_apicopy/storage.go:116-134 — the content address
decides reuse, never a path or a session. docs/INDEX_STORE.md has the
operator's view.
"""

from __future__ import annotations

import hashlib
import json as _json
import os
import shutil
import tempfile
import time as _time

from pyspark.sql import DataFrame, SparkSession

from bacalhau_spark.catalog import read_parts, table
from bacalhau_spark.session import SessionCache
from bacalhau_spark.sources import versioned

# Tier 1: (realpath(sf_dir), source fingerprint, kind, table, rev) ->
# (frame, the persisted table root it was adopted from, or None for a
# session-local fallback or a derived view). The root lets a HIT refresh
# the _LAST_ADOPTED liveness marker.
FRAMES = SessionCache()
# (realpath(sf_dir), table) pairs this session has indexed — what scopes
# clear_session_index(persisted=True) to THIS session's source tables.
# Survives tier-1 eviction on purpose: a cold benchmark loop clears,
# rebuilds, and clears again for the same sources.
_SOURCES = SessionCache()

# Above this many part files the per-file key map moves OUT of the
# manifest JSON (a 100k-shard corpus would carry ~5 MB of keys per
# manifest) into a chunked sidecar tree under <table>/keychunks/: keys
# are split into DELTA_FILE_KEYS_MAX-sized JSON chunks by sorted
# basename, and the manifest records only {chunk name, md5 digest,
# first/last basename} per chunk — O(n / 4096) manifest bytes, with the
# digests making the tree tamper-evident (a reader that cannot verify
# every chunk treats the manifest as keyless and never adopts on it).
DELTA_FILE_KEYS_MAX = 4096

# Manifestless pending slots younger than this are presumed to belong
# to a LIVE concurrent writer and are left alone; older ones are
# KILLED-builder debris the next publisher may clear (the shared store
# has no single-writer seat, so age is the discriminator — see
# clear_pending's min_age_s). 10 minutes comfortably exceeds any index
# build's parquet-write phase at fixture scales and is irrelevant to
# correctness either way: an unhealed slot only degrades that content
# to session-local rebuilds until the sweep.
PENDING_DEBRIS_AGE_S = 600.0
_KEYCHUNK_DIR = "keychunks"


def index_store_root() -> str:
    """Root of the PERSISTED index store — stable across processes (a
    per-user path under the system tempdir, or $SPARK_GRAFT_INDEX_STORE),
    because the whole point is that a NEW session finds the index a
    previous one built. Per-user by default (uid suffix + 0700 create in
    _ensure_store_root): a fixed world-shared path would let another
    local user pre-plant manifests whose content key matches a world-
    readable fixture's and silently substitute index contents. At
    deployment scale this is a path on the shared object store next to
    the tables it indexes, with the store's own ACLs."""
    env = os.environ.get("SPARK_GRAFT_INDEX_STORE")
    if env:
        return env
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(tempfile.gettempdir(),
                        f"bacalhau-spark-index-store-{uid}")


def _ensure_store_root() -> str:
    root = index_store_root()
    os.makedirs(root, mode=0o700, exist_ok=True)
    return root


def table_part_paths(sf_dir: str, tbl: str) -> list[str]:
    """The source table's parquet part files, sorted by basename — the
    one path-enumeration rule the content keys and the delta-adoption
    scan share."""
    droot = os.path.join(sf_dir, f"{tbl}.parquet")
    if os.path.isfile(droot):
        return [droot]
    if os.path.isdir(droot):
        return [os.path.join(droot, f) for f in sorted(os.listdir(droot))
                if f.endswith(".parquet")]
    return []


def docs_fingerprint(sf_dir: str, tbl: str = "documents") -> tuple:
    """Cheap fingerprint of a source table under sf_dir: (file, size,
    mtime_ns) per parquet part. Folded into every session-cache key, so
    a table REWRITTEN at the same path mid-session misses the cache and
    rebuilds instead of serving state derived from the old bytes."""
    return tuple((os.path.basename(p), st.st_size, st.st_mtime_ns)
                 for p in table_part_paths(sf_dir, tbl)
                 for st in [os.stat(p)])


def scan_table_windows(sf_dir: str,
                       tbl: str = "documents") -> tuple[str, dict]:
    """(whole-table content key, {part basename: per-file key}) in ONE
    pass over the part files' (basename, size, head 4 KB, tail 4 KB)
    windows (versioned.fold_file_window, the one statement of the
    window). The whole-table key folds all parts into one running
    digest; the per-file keys hash each part separately — delta
    adoption's subset recognition is only correct because both fold the
    IDENTICAL window. How the per-file map is recorded at publish time
    depends on DELTA_FILE_KEYS_MAX (inline in the manifest vs the
    chunked sidecar tree)."""
    h = hashlib.md5()
    fkeys: dict[str, str] = {}
    for p in table_part_paths(sf_dir, tbl):
        hp = hashlib.md5()
        versioned.fold_file_window((h, hp), p)
        fkeys[os.path.basename(p)] = hp.hexdigest()
    return h.hexdigest(), fkeys


def content_key(sf_dir: str, tbl: str = "documents") -> str:
    """CONTENT identity of a source table — the index-table address: two
    processes reaching the same bytes via different mounts, symlinks or
    copies share one index, and a rewritten table with identical bytes
    is a legitimate hit; path and mtime never enter the key. Head+tail
    windows keep the probe O(files x 8 KB) at any table size; for
    parquet the tail window covers the footer (row-group offsets +
    column statistics), so any data change that survives the size check
    still perturbs the hashed window in practice."""
    return scan_table_windows(sf_dir, tbl)[0]


def _file_keys_props(root: str, ck: str,
                     fkeys: dict[str, str]) -> dict:
    """The manifest props fragment recording the per-file key map:
    inline (`file_keys`) when small, else the chunked sidecar tree
    (`file_keys_tree`) — chunks are written content-addressed by the
    table's content key BEFORE the manifest that references them (a
    failed publish leaves harmless digest-named debris inside the table
    root, reclaimed with the table). Chunk boundaries follow SORTED
    basenames, so the layout is deterministic for a given key set."""
    if len(fkeys) <= DELTA_FILE_KEYS_MAX:
        return {"file_keys": fkeys}
    items = sorted(fkeys.items())
    cdir = os.path.join(root, _KEYCHUNK_DIR)
    os.makedirs(cdir, exist_ok=True)
    chunks = []
    for i in range(0, len(items), DELTA_FILE_KEYS_MAX):
        part = dict(items[i:i + DELTA_FILE_KEYS_MAX])
        raw = _json.dumps(part, sort_keys=True).encode()
        digest = hashlib.md5(raw).hexdigest()
        name = f"keys-{ck[:16]}-{i // DELTA_FILE_KEYS_MAX:05d}.json"
        tmp = os.path.join(cdir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(raw)
        os.replace(tmp, os.path.join(cdir, name))
        chunks.append({"name": name, "digest": digest,
                       "first": items[i][0],
                       "last": items[min(i + DELTA_FILE_KEYS_MAX,
                                         len(items)) - 1][0]})
    return {"file_keys_tree": {"n_files": len(items),
                               "chunk_size": DELTA_FILE_KEYS_MAX,
                               "chunks": chunks}}


def manifest_n_file_keys(manifest: dict) -> int:
    """How many per-file keys a manifest records (inline or tree) —
    the cheap precheck _find_delta_parent runs before loading any
    sidecar chunk."""
    props = (manifest or {}).get("props", {})
    pk = props.get("file_keys")
    if pk:
        return len(pk)
    tree = props.get("file_keys_tree")
    return tree["n_files"] if tree else 0


def manifest_file_keys(root: str, manifest: dict) -> dict | None:
    """The manifest's full per-file key map — inline, or assembled from
    the sidecar chunk tree with every chunk digest VERIFIED (a missing,
    corrupt, or truncated chunk makes the manifest keyless: adoption
    must never trust an unverifiable key map)."""
    props = (manifest or {}).get("props", {})
    pk = props.get("file_keys")
    if pk:
        return pk
    tree = props.get("file_keys_tree")
    if not tree:
        return None
    out: dict[str, str] = {}
    for ch in tree.get("chunks", ()):
        try:
            with open(os.path.join(root, _KEYCHUNK_DIR,
                                   ch["name"]), "rb") as f:
                raw = f.read()
        except OSError:
            return None
        if hashlib.md5(raw).hexdigest() != ch["digest"]:
            return None
        out.update(_json.loads(raw))
    if len(out) != tree.get("n_files"):
        return None
    return out


def _find_delta_parent(kind: str, tbl: str, fkeys: dict[str, str],
                       exclude: str, rev: int = 1) \
        -> tuple[str, dict, dict] | None:
    """Scan the store for a published index of the same (kind, table,
    rev) whose recorded per-file keys are a STRICT SUBSET of the current
    source's — i.e. the current corpus is the indexed one plus appended
    part files (the crawl-epoch shape: epoch N+1 = epoch N + new
    shards). Returns (parent table root, its latest manifest, the
    DIGEST-VERIFIED per-file key map) — handed to the caller so a
    >4096-part key tree is loaded and verified exactly once per
    adoption. The largest subset wins when several epochs qualify. Any
    removed or rewritten part file disqualifies a candidate — delta
    adoption is append-only by construction."""
    store = index_store_root()
    if not os.path.isdir(store):
        return None
    prefix = f"{kind}__{tbl}__"
    best: tuple[str, dict, dict] | None = None
    best_n = 0
    for name in os.listdir(store):
        if not name.startswith(prefix) or name == exclude:
            continue
        proot = os.path.join(store, name)
        try:
            m = versioned.latest_manifest(proot)
        except Exception:  # noqa: BLE001 — a corrupt table is skippable
            continue
        if not m or not m.get("files"):
            continue
        if m.get("props", {}).get("builder_rev", 1) != rev:
            continue  # another rule's artifact is not this index
        n_pk = manifest_n_file_keys(m)
        if not n_pk or n_pk >= len(fkeys) or n_pk <= best_n:
            continue  # size precheck before any sidecar chunk loads
        pk = manifest_file_keys(proot, m)
        if pk is None:
            continue  # keyless or unverifiable tree: never adopt
        if all(fkeys.get(b) == k for b, k in pk.items()):
            best, best_n = (proot, m, pk), len(pk)
    return best


def index_table_root(sf_dir: str, kind: str, tbl: str,
                     ck: str | None = None, rev: int = 1) -> str:
    """One versioned table per (index kind, source table, source
    CONTENT, builder REVISION) — the digest component is the content
    key, so the table is content-addressed: same bytes anywhere share
    it, changed bytes get a fresh table (the old content's table becomes
    garbage for `index drop`; it is never republished under). The
    human-readable prefix keeps the store inspectable. `rev` is the
    BUILDER revision: the artifact is a function of (source content,
    transform rule), and addressing by content alone would serve a
    stale artifact forever after a rule change — a builder that changes
    its rule bumps its rev literal and the old-rev table becomes
    reclaimable garbage. rev 1 folds nothing so pre-rev addresses stay
    valid. A lookup at the wrong rev names a nonexistent table."""
    digest = ck or content_key(sf_dir, tbl)
    if rev != 1:
        digest = hashlib.md5(f"{digest}:r{rev}".encode()).hexdigest()
    return os.path.join(index_store_root(),
                        f"{kind}__{tbl}__{digest[:16]}")


def _tier1_key(sf_dir: str, kind: str, tbl: str, rev: int) -> tuple:
    return (os.path.realpath(sf_dir), docs_fingerprint(sf_dir, tbl),
            kind, tbl, rev)


def cached_index(spark: SparkSession, sf_dir: str, kind: str, build, *,
                 tbl: str = "documents", delta=None,
                 delta_key: str | None = None, rev: int = 1,
                 cleanup=None, write_kwargs: dict | None = None,
                 extra_props: dict | None = None) -> DataFrame:
    """The two-tier index lifecycle: return the index `kind` over
    sf_dir's `tbl`, adopting the persisted artifact when one exists for
    this content and rev, else calling `build()` and publishing it.

    Tier 1 hits also refresh the adopted table's liveness marker: the
    sweep's last-adopted age must reflect READS, not just the one
    adoption that filled the cache — an 8-day-old marker under a live
    session would let `index drop --stale-days 7` delete the files out
    from under it.

    Content addressing makes each table immutable-once-published: a
    changed source is a DIFFERENT address and gets a fresh table, so
    there is no republish, no vacuum, and no retention race against a
    pinned reader. Fault tolerance is parquet's: an executor loss
    re-reads files. `cleanup` (if given) runs after the build has been
    materialized — the hook builders use to unpersist staging frames.
    `write_kwargs` is the builder's physical layout for the published
    payload (e.g. cluster_by); `extra_props` is builder-declared
    provenance recorded in the manifest (e.g. encoding=pinned).

    DELTA ADOPTION: when the source is a previously-indexed corpus PLUS
    appended part files (recognized by the per-file content keys every
    manifest records) and the caller supplies `delta(new_paths)`, the
    new table's version 1 is published as the parent's immutable data
    files (hardlinked — self-contained, the parent can be dropped) plus
    the delta frame: only the NEW rows are ever built. `delta` may
    return None to DECLINE (the shapes where union(parent, delta) !=
    rebuild), falling back to the full build. Per-row-pure kinds get
    their hook from rowwise_index; kinds that AGGREGATE per id must
    also pass `delta_key`: adoption then verifies the appended shards'
    ids are disjoint from the parent's (_ids_disjoint) and rebuilds
    when a shard re-carries an existing id.

    Local fallback: if the store is unusable (read-only tmp, a
    concurrent writer collision, an EMPTY index frame — parquet writes
    no files for zero rows, and an empty published manifest is never
    adopted), the frame is localCheckpointed for this session only;
    correctness never depends on the store. A failed DELTA publish
    falls back to the full build (a delta frame alone is not the
    index)."""
    key = _tier1_key(sf_dir, kind, tbl, rev)
    hit = FRAMES.get(spark, key)
    if hit is not None:
        if hit[1] is not None:
            _touch_adopted(hit[1])
        return hit[0]
    # registered on the miss: every hit in this session follows one
    _SOURCES.setdefault(spark, (key[0], tbl), True)
    ck, fkeys = scan_table_windows(sf_dir, tbl)
    root = index_table_root(sf_dir, kind, tbl, ck=ck, rev=rev)
    manifest = versioned.latest_manifest(root)
    if manifest is None:
        # KILLED-builder healing: a builder SIGKILLed mid-publish leaves
        # one of two shapes at this root, and without healing every
        # later publish fails on the occupied slot (mode='error') and
        # the table degrades to session-local rebuilds forever.
        #   manifest, no pointer  -> the commit is DURABLE and — content
        #     addressing — byte-equivalent to what we would publish:
        #     finish it (flip the pointer) and fall through to adoption.
        #   data, no manifest     -> a non-commit no reader can name:
        #     remove it, but only when STALE (age-guarded — a live
        #     concurrent writer keeps touching its slot; the lost-race
        #     path still adopts the winner's publish).
        try:
            if versioned.finish_pending(root):
                manifest = versioned.latest_manifest(root)
            else:
                versioned.clear_pending(
                    root, min_age_s=PENDING_DEBRIS_AGE_S)
        except Exception:  # noqa: BLE001 — adoptability decides
            pass
    adoptable = (manifest is not None and manifest["files"]
                 and manifest.get("props", {}).get("content_key") == ck
                 and manifest.get("props", {}).get("builder_rev", 1)
                 == rev)
    if not adoptable:
        frame, linked, parent_digest = None, None, None
        found = None
        if manifest is None and delta is not None:
            # the key map comes back already digest-verified; a chunk
            # removed between this scan and the hardlinks below surfaces
            # as a publish failure -> full-build fallback
            found = _find_delta_parent(kind, tbl, fkeys,
                                       exclude=os.path.basename(root),
                                       rev=rev)
        if found is not None:
            proot, pman, pk = found
            new_paths = [p for p in table_part_paths(sf_dir, tbl)
                         if os.path.basename(p) not in pk]
            if delta_key is None or _ids_disjoint(
                    spark, proot, pman,
                    read_parts(spark, sf_dir, tbl, new_paths), delta_key):
                # a decline (None) must not leave `linked` set, or the
                # full build would publish on top of hardlinked rows
                frame = delta(new_paths)
            if frame is not None:
                linked = [os.path.join(proot, f) for f in pman["files"]]
                parent_digest = os.path.basename(proot)
        is_delta = frame is not None
        if frame is None:
            frame = build()
        if manifest is None:
            # never published for this content: publish once. After the
            # attempt — whether our write landed or a concurrent writer
            # won the slot — the table head is adoptable iff it carries
            # data files for THIS content key: a lost race to the SAME
            # content is someone else's copy of the artifact we wanted
            # (content addressing makes it byte-equivalent), so the
            # loser adopts instead of degrading to a session-local
            # checkpoint. Only an unusable store or an empty/foreign
            # head falls through.
            props = {"content_key": ck,
                     "builder_rev": rev,
                     "fingerprint": [list(t) for t in key[1]],
                     "kind": kind, "table": tbl}
            if extra_props:
                props.update(extra_props)
            if is_delta:
                props["delta_parent"] = parent_digest
            try:
                _ensure_store_root()
                # chunks of a sidecar key tree land before the manifest
                # that references them
                props.update(_file_keys_props(root, ck, fkeys))
                versioned.write_version(
                    frame, root, props=props, link_files=linked,
                    **(write_kwargs or {}))
            except Exception:  # noqa: BLE001 — adoptability decides
                pass
            try:
                manifest = versioned.latest_manifest(root)
            except Exception:  # noqa: BLE001
                manifest = None
            if manifest is not None and (
                    not manifest["files"]
                    or manifest.get("props", {}).get(
                        "content_key") != ck):
                manifest = None
            if manifest is None and is_delta:
                # a delta frame alone is NOT the index — the session-
                # local fallback must hold the full build
                frame = build()
        else:
            # a manifest exists but is not adoptable: an EMPTY index
            # frame (legitimately zero rows — never republish, or every
            # session crash-loops on the empty adopt) or a foreign table
            # under a truncated-digest collision (never clobber it).
            # Session-local either way.
            manifest = None
        if manifest is None:
            out = frame.localCheckpoint(eager=True)
            if cleanup is not None:
                cleanup()
            return FRAMES.setdefault(spark, key, (out, None))[0]
        if cleanup is not None:
            cleanup()
    # every consumer — this session and the next — SCANS the persisted
    # artifact, pinned to the exact version whose content key matched
    out = versioned.read_version(spark, root, version=manifest["version"])
    _touch_adopted(root)
    return FRAMES.setdefault(spark, key, (out, root))[0]


def _adopted_root(spark: SparkSession, frame: DataFrame) -> str | None:
    """The persisted table root `frame`'s tier-1 entry names: the table
    it was read from, or for a view the root of its base; else None."""
    return next((r for f, r in FRAMES.values(spark) if f is frame), None)


def published_manifest(spark: SparkSession,
                       frame: DataFrame) -> dict | None:
    """The latest manifest of the persisted table that tier 1 says
    `frame` was read from, with the table's directory under `root`: what
    a consumer of cached_index's frame looks its artifact up by, instead
    of re-deriving the table's address. None for a session-local frame
    (including the fallback from a head the store refused to adopt), a
    view derived from an artifact, and any frame tier 1 does not hold."""
    for (_src, _fp, kind, tbl, rev), (f, root) in FRAMES.items(spark):
        if f is frame and root is not None:
            man = versioned.latest_manifest(root)
            props = (man or {}).get("props", {})
            # a view's entry carries its base's root under its own name
            if (props.get("kind"), props.get("table"),
                    props.get("builder_rev", 1)) == (kind, tbl, rev):
                return dict(man, root=root)
    return None


def rowwise_index(spark: SparkSession, sf_dir: str, kind: str, transform,
                  *, tbl: str = "documents", delta_key: str | None = None,
                  rev: int = 1) -> DataFrame:
    """cached_index for a PER-ROW-PURE kind: `transform` maps a source
    frame to index rows, and the store applies it to the whole table
    (full build) or to just the appended part files (delta) — one
    statement of the transform, so the full build and the delta cannot
    drift apart."""
    return cached_index(
        spark, sf_dir, kind, lambda: transform(table(spark, sf_dir, tbl)),
        tbl=tbl,
        delta=lambda paths: transform(read_parts(spark, sf_dir, tbl, paths)),
        delta_key=delta_key, rev=rev)


def session_view(spark: SparkSession, sf_dir: str, name: str, base, make):
    """A session-tier view DERIVED from a persisted artifact — a
    grouping or a read-time cap, i.e. a global function of the corpus,
    so never itself published. `base()` fetches the frame the view
    derives from (a cached_index call or another view) and `make(frame)`
    derives the view; both run once per (session, source content), and
    clear_session_index evicts the view with the frames it derives
    from. The entry carries its base's persisted root, so a view hit
    refreshes that root's liveness marker without a second lookup.
    Persisted (`.persist()`) views are released when evicted,
    superseded by a rewrite of the source, or beaten by a concurrent
    builder."""
    key = _tier1_key(sf_dir, name, "documents", 1)
    hit = FRAMES.get(spark, key)
    if hit is not None:
        if hit[1] is not None:
            _touch_adopted(hit[1])
        return hit[0]
    frame = base()
    # the view carries its base's root, so a view hit refreshes it
    root = _adopted_root(spark, frame)
    made = make(frame)
    # same-path entries under an older fingerprint are superseded (the
    # source was rewritten in place): release them, or N rewrites pin N
    # persisted views in executor storage for the session
    release(FRAMES.evict(spark, lambda k: k[0] == key[0]
                         and k[2:] == key[2:] and k != key))
    won = FRAMES.setdefault(spark, key, (made, root))
    if won[0] is not made:
        release([(made, None)])
    return won[0]


def release(entries) -> None:
    """Unpersist the persisted frames among evicted tier-1 entries (the
    winnow-capped view is the one persisted kind)."""
    for frame, _root in entries:
        if getattr(frame, "is_cached", False):
            try:
                frame.unpersist()
            except Exception:  # noqa: BLE001 — a dead session's frame
                pass


def _ids_disjoint(spark: SparkSession, parent_root: str, parent_man: dict,
                  new: DataFrame, key_col: str) -> bool:
    """Are the appended shards' ids (`new`, their rows) DISJOINT from
    the parent index's? Required before delta-adopting a GROUPING
    index: minhash signatures aggregate per doc, so an appended shard
    re-carrying an existing doc_id (the recurring re-crawl shape) makes
    union(parent, delta) != rebuild — the rebuild minimizes over the
    MERGED shingle set, the union holds two rows. Per-ROW-map kinds don't need this: a
    duplicated id duplicates identically in union and rebuild. Cost: one
    index-sized semi-join on the cold path."""
    parent_ids = versioned.read_version(
        spark, parent_root,
        version=parent_man["version"]).select(key_col)
    new_ids = new.select(key_col).distinct()
    return new_ids.join(parent_ids, key_col, "left_semi").isEmpty()


def _touch_adopted(root: str) -> None:
    """Stamp the table's _LAST_ADOPTED marker (best-effort): adoption
    never rewrites a content-addressed table, so manifest age alone
    cannot distinguish an ACTIVE index (stable corpus, adopted daily)
    from a dead one (source bytes changed, address orphaned). The
    `index drop --stale-days` sweep treats max(manifest age, last-
    adopted age) as the liveness signal."""
    try:
        with open(os.path.join(root, "_LAST_ADOPTED"), "w") as f:
            f.write(str(int(_time.time())))
    except OSError:
        pass


def clear_session_index(spark: SparkSession,
                        persisted: bool = False) -> int:
    """Evict this session's tier 1 — every cached index frame and every
    derived view over them (persisted views are unpersisted) — the
    cold-path lever benchmarks use to time the one-shot index BUILD
    alongside the warm probe. Catalog handles, trained models and
    candidate counts are other caches and stay. With `persisted`, the
    on-disk index tables FOR THIS SESSION'S SOURCE TABLES are removed
    too — matched MANIFEST-driven, not by name suffix: a table matches
    when its recorded content_key equals a session source's (any
    builder rev — the rev folds into the table NAME, so a suffix match
    would miss rev>=2 artifacts) OR its file_keys are a subset of a
    session source's (an earlier-epoch delta PARENT: leaving it would
    let the next "cold" build delta-adopt and silently measure the
    delta cost instead of the full build). Scoped, not store-wide: a
    shared $SPARK_GRAFT_INDEX_STORE keeps every other table's indexes.
    Returns the number of session entries evicted."""
    victims = FRAMES.evict(spark)
    release(victims)
    sources = _SOURCES.keys(spark)
    if persisted and sources:
        keys, fkey_sets = set(), []
        for sf_dir, tbl in sources:
            try:
                ck, fkeys = scan_table_windows(sf_dir, tbl)
            except OSError:
                continue  # source since deleted: nothing to match
            keys.add((tbl, ck))
            if fkeys:
                fkey_sets.append((tbl, set(fkeys.items())))
        root = index_store_root()
        names = sorted(os.listdir(root)) if os.path.isdir(root) else []
        for name in names:
            parts = name.split("__")
            tbl = parts[1] if len(parts) >= 3 else ""
            try:
                m = versioned.latest_manifest(os.path.join(root, name))
            except Exception:  # noqa: BLE001 — corrupt table: skip
                continue
            props = (m or {}).get("props", {})
            pk = manifest_file_keys(os.path.join(root, name), m) or {}
            mine = ((tbl, props.get("content_key")) in keys
                    or any(t == tbl and pk
                           and set(pk.items()) <= fset
                           for t, fset in fkey_sets))
            if mine:
                shutil.rmtree(os.path.join(root, name),
                              ignore_errors=True)
    return len(victims)
