"""Versioned (time-travel) table semantics: snapshot isolation, pinned
historical reads, the atomic pointer, and the commit log."""

from __future__ import annotations

import json
import os

from bacalhau_spark.sources.versioned import (history, latest_version,
                                              read_version, write_version)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_time_travel_reads_are_pinned(spark, tmp_path):
    root = str(tmp_path / "t")
    assert latest_version(root) == 0
    assert write_version(_df(spark, [(1, "a")]), root) == 1
    # resolve a latest-reader BEFORE the next write: it must keep serving
    # the snapshot it resolved, not the table head (snapshot isolation)
    pinned = read_version(spark, root)
    assert write_version(_df(spark, [(1, "a"), (2, "b")]), root) == 2
    assert pinned.count() == 1
    assert read_version(spark, root).count() == 2
    assert read_version(spark, root, version=1).count() == 1
    assert latest_version(root) == 2


def test_history_is_the_commit_log(spark, tmp_path):
    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), root)
    write_version(_df(spark, [(2, "b")]), root)
    h = history(root)
    assert [m["version"] for m in h] == [1, 2]
    assert all(m["columns"] == ["k", "v"] for m in h)
    assert all(m["n_files"] == len(m["files"]) >= 1 for m in h)


def test_reader_uses_manifest_not_directory_listing(spark, tmp_path):
    """A stray parquet file dropped into a version directory AFTER
    publish must be invisible: the manifest names the exact file set
    (this is the invariant that makes concurrent write-while-read and
    exact time travel work)."""
    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), root)
    vdir = os.path.join(root, "v=000001")
    _df(spark, [(99, "stray")]).write.mode("overwrite").parquet(
        str(tmp_path / "stray"))
    stray = next(f for f in os.listdir(str(tmp_path / "stray"))
                 if f.endswith(".parquet"))
    os.rename(os.path.join(str(tmp_path / "stray"), stray),
              os.path.join(vdir, "zz-stray.parquet"))
    assert read_version(spark, root, version=1).count() == 1


def test_unpublished_version_is_invisible(spark, tmp_path):
    """A crash between data write and pointer flip leaves an orphan
    directory: latest stays at the old version and history skips the
    orphan (manifestless slots are not commits)."""
    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), root)
    # simulate the crash: data dir for v2 exists, manifest+pointer don't
    _df(spark, [(2, "b")]).write.parquet(os.path.join(root, "v=000002"))
    assert latest_version(root) == 1
    assert [m["version"] for m in history(root)] == [1]
    assert read_version(spark, root).count() == 1
    # the next successful writer does NOT reuse the orphaned slot number
    # silently over existing data: write refuses (mode=error) rather than
    # corrupting — the single-writer contract surfaces loudly
    import pytest
    from pyspark.sql.utils import AnalysisException
    with pytest.raises(AnalysisException):
        write_version(_df(spark, [(3, "c")]), root)


def test_append_schema_drift_fails_loudly(spark, tmp_path):
    """An append whose schema differs from the table head would make the
    manifest's plain parquet read silently null/drop columns — it must
    raise instead. Renames, type changes, and column drops all count;
    an OVERWRITE version is the sanctioned evolution path."""
    import pytest

    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), root)
    write_version(_df(spark, [(2, "b")]), root, mode="append")  # ok
    drifted = spark.createDataFrame([(3, "c")], "k long, renamed string")
    with pytest.raises(ValueError, match="schema drift"):
        write_version(drifted, root, mode="append")
    retyped = spark.createDataFrame([(4, "d")], "k int, v string")
    with pytest.raises(ValueError, match="schema drift"):
        write_version(retyped, root, mode="append")
    assert latest_version(root) == 2  # failed appends committed nothing
    assert write_version(drifted, root, mode="overwrite") == 3


def test_clear_pending_removes_only_manifestless_debris(spark, tmp_path):
    from bacalhau_spark.sources.versioned import clear_pending

    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), root)
    assert clear_pending(root) is False  # nothing pending
    _df(spark, [(2, "b")]).write.parquet(os.path.join(root, "v=000002"))
    assert clear_pending(root) is True
    assert write_version(_df(spark, [(2, "b")]), root) == 2  # slot reusable
    assert clear_pending(root) is False  # published slots are never touched
    assert read_version(spark, root).count() == 1


def test_stream_replay_self_heals_crashed_slot(spark, sf_dir, tmp_path):
    """A crash between the batch's parquet write and its manifest publish
    leaves a manifestless latest+1 dir; the foreachBatch replay must
    clear it and commit, not wedge forever on write_version's
    mode=error (the round-9 ADVICE finding)."""
    import pyarrow.parquet as pq

    from bacalhau_spark.catalog import table
    from bacalhau_spark.sources.versioned import stream_to_versioned

    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(f"{sf_dir}/documents.parquet")
    pq.write_table(t, str(src / "documents-0.parquet"))
    root = str(tmp_path / "vt")
    write_version(_df(spark, [(1, "a")]).selectExpr(
        "k AS doc_id", "v AS source"), root)
    # simulate the crashed batch: data landed at v2, no manifest
    _df(spark, [(9, "x")]).write.parquet(os.path.join(root, "v=000002"))
    schema = table(spark, sf_dir, "documents").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents-*.parquet")
              .parquet(str(src))
              .selectExpr("CAST(doc_id AS LONG) AS doc_id", "source"))
    q = stream_to_versioned(stream, root, str(tmp_path / "ck"))
    assert q.awaitTermination(120)
    q.stop()
    assert latest_version(root) == 2
    assert read_version(spark, root).count() == 1 + t.num_rows


def test_stream_indexed_ingest_keeps_index_in_lockstep(spark, sf_dir,
                                                       tmp_path):
    """stream_to_versioned_indexed: every micro-batch appends the
    corpus version AND its derived-index version under the same batch
    id — after N batches, index version k equals the transform of
    corpus version k for every k (the index is fresh AT INGEST, no
    separate stage_index_build epoch), and a crash between the two
    commits re-converges on replay: the corpus's batch-id skip holds
    while the missing index version still publishes."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bacalhau_spark.catalog import table
    from bacalhau_spark.sources.versioned import (
        history, stream_to_versioned_indexed)

    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(f"{sf_dir}/documents.parquet").sort_by("doc_id")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(src / "documents-0.parquet"))
    pq.write_table(t.slice(half), str(src / "documents-1.parquet"))
    schema = table(spark, sf_dir, "documents").schema

    def index_fn(df):
        return df.select("doc_id", F.md5("text").alias("fp"))

    def stream():
        return (spark.readStream.schema(schema)
                .option("pathGlobFilter", "documents-*.parquet")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
                .select("doc_id", "source", "text"))

    root, iroot = str(tmp_path / "corpus"), str(tmp_path / "fp_index")
    ck = str(tmp_path / "ck")

    # batch 0 crashes BETWEEN the corpus commit and the index commit
    boom = {"armed": True}

    def crashing_index_fn(df):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("crash between the two commits")
        return index_fn(df)

    q = stream_to_versioned_indexed(stream(), root, iroot,
                                    crashing_index_fn, ck)
    try:
        q.awaitTermination(120)
    except Exception:  # noqa: BLE001 — the injected crash
        pass
    q.stop()
    assert latest_version(root) == 1, "corpus batch 0 committed"
    assert latest_version(iroot) == 0, "index batch 0 lost in the crash"

    # replay from the same checkpoint: corpus skips, index catches up
    q = stream_to_versioned_indexed(stream(), root, iroot, index_fn, ck)
    assert q.awaitTermination(120)
    q.stop()
    assert latest_version(root) == 2
    assert latest_version(iroot) == 2
    assert [m.get("batch_id") for m in history(root)] == \
        [m.get("batch_id") for m in history(iroot)]
    for v in (1, 2):
        corpus_v = read_version(spark, root, version=v)
        idx_v = read_version(spark, iroot, version=v)
        assert sorted(map(tuple, index_fn(corpus_v).collect())) == \
            sorted(map(tuple, idx_v.collect())), f"lockstep broken at v{v}"


def test_pointer_crash_heals_and_replay_skips(spark, sf_dir, tmp_path):
    """The OTHER crash point (round-12 review): a crash BETWEEN the
    manifest publish and the pointer flip leaves a fully-durable
    version the pointer does not name — history() misses it, so the
    old code's batch-id skip failed, clear_pending refused the slot
    (it has a manifest), and write_version wedged forever on the
    occupied directory. finish_pending must flip the pointer and the
    replayed batch must then SKIP, not double-commit."""
    import json as _json

    import pyarrow.parquet as pq

    from bacalhau_spark.catalog import table
    from bacalhau_spark.sources.versioned import (_MANIFEST, _vdir,
                                                  stream_to_versioned)

    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(f"{sf_dir}/documents.parquet")
    pq.write_table(t, str(src / "documents-0.parquet"))
    root = str(tmp_path / "vt")
    write_version(_df(spark, [(1, "a")]).selectExpr(
        "k AS doc_id", "CAST(v AS STRING) AS source"), root)
    # simulate the crash: batch 0's version fully written at v2
    # (data + manifest, batch_id recorded) but the pointer still says 1
    (_df(spark, [(9, "x")]).selectExpr(
        "k AS doc_id", "CAST(v AS STRING) AS source")
     .write.parquet(os.path.join(root, "v=000002")))
    from bacalhau_spark.sources.versioned import latest_manifest
    files = latest_manifest(root)["files"] + [
        f"v=000002/{f}" for f in
        sorted(os.listdir(os.path.join(root, "v=000002")))
        if f.endswith(".parquet")]
    with open(os.path.join(_vdir(root, 2), _MANIFEST), "w") as f:
        _json.dump({"version": 2, "files": files, "n_files": len(files),
                    "columns": ["doc_id", "source"],
                    "dtypes": [["doc_id", "bigint"],
                               ["source", "string"]],
                    "stats": {}, "created_unix": 0, "batch_id": 0}, f)
    assert latest_version(root) == 1

    schema = table(spark, sf_dir, "documents").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents-*.parquet")
              .parquet(str(src))
              .selectExpr("CAST(doc_id AS LONG) AS doc_id", "source"))
    q = stream_to_versioned(stream, root, str(tmp_path / "ck"))
    assert q.awaitTermination(120)
    q.stop()
    # the pending commit was FINISHED (pointer flipped), and the
    # replayed batch 0 was skipped — no duplicate v3
    assert latest_version(root) == 2
    assert read_version(spark, root).count() == 2


def test_indexed_ingest_guards(spark, tmp_path):
    """Attach-time alignment guard (a corpus bootstrapped out-of-band
    would silently skew every corpus/index version pair) and the
    empty-first-batch guard (a files=[] head is unreadable)."""
    import pytest

    from bacalhau_spark.sources.versioned import (
        _commit_once, stream_to_versioned_indexed)

    root, iroot = str(tmp_path / "c"), str(tmp_path / "i")
    write_version(_df(spark, [(1, "a")]), root)  # backfill, never indexed
    with pytest.raises(ValueError, match="misaligned"):
        stream_to_versioned_indexed(None, root, iroot, lambda d: d,
                                    str(tmp_path / "ck"))

    # empty FIRST batch: no version published (the head would be
    # unreadable); empty LATER batch: appends a readable version
    empty = _df(spark, [(1, "a")]).where("k < 0")
    fresh = str(tmp_path / "f")
    _commit_once(empty, fresh, batch_id=0)
    assert latest_version(fresh) == 0
    _commit_once(_df(spark, [(2, "b")]), fresh, batch_id=1)
    _commit_once(empty, fresh, batch_id=2)
    assert latest_version(fresh) == 2
    assert read_version(spark, fresh).count() == 1


def test_vacuum_expires_history_but_never_pinned_files(spark, tmp_path):
    """Retention over an APPEND chain: expired versions lose their
    manifests (time travel to them ends) but every file a RETAINED
    manifest still names survives — a retained snapshot read never
    loses data. Orphan non-commits and unreferenced stray files go."""
    import pytest

    from bacalhau_spark.sources.versioned import vacuum

    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), root)
    write_version(_df(spark, [(2, "b")]), root, mode="append")
    write_version(_df(spark, [(3, "c")]), root, mode="append")
    # stray unreferenced debris inside a retained dir + a crashed slot
    stray = os.path.join(root, "v=000003", "zz-stray.parquet")
    _df(spark, [(99, "z")]).write.parquet(str(tmp_path / "s"))
    os.rename(os.path.join(str(tmp_path / "s"), next(
        f for f in os.listdir(str(tmp_path / "s"))
        if f.endswith(".parquet"))), stray)
    _df(spark, [(4, "d")]).write.parquet(os.path.join(root, "v=000004"))

    pinned = read_version(spark, root, version=3)
    report = vacuum(root, keep_last=1)
    assert report["retained"] == [3]
    assert sorted(report["removed_versions"]) == [1, 2]
    assert report["removed_orphans"] == [4]
    assert "v=000003/zz-stray.parquet" in report["removed_files"]
    # v3's manifest names files physically living in v1/v2 dirs: all
    # still readable, both pre-resolved and freshly resolved
    assert pinned.count() == 3
    assert read_version(spark, root, version=3).count() == 3
    assert [m["version"] for m in history(root)] == [3]
    with pytest.raises(FileNotFoundError):
        read_version(spark, root, version=1)
    # vacuum is idempotent and the table still appends cleanly
    assert vacuum(root, keep_last=1)["removed_versions"] == []
    assert write_version(_df(spark, [(4, "d")]), root, mode="append") == 4
    assert read_version(spark, root).count() == 4


def test_compact_rewrites_head_and_vacuum_reclaims(spark, tmp_path):
    """compact() publishes the head as one coalesced overwrite version:
    same rows, far fewer files, pinned old reads untouched; the
    superseded small files survive until vacuum ages them out."""
    from bacalhau_spark.sources.versioned import compact, vacuum

    root = str(tmp_path / "t")
    for k in range(4):
        write_version(_df(spark, [(k, f"v{k}")]).repartition(4), root,
                      mode="append" if k else "overwrite")
    h = history(root)
    assert h[-1]["n_files"] >= 8  # the chain accumulated per-batch files
    pinned = read_version(spark, root, version=4)
    assert compact(spark, root) == 5
    h2 = history(root)
    assert h2[-1]["n_files"] == 1
    assert read_version(spark, root).count() == 4
    assert sorted((r.k, r.v) for r in read_version(spark, root).collect()) \
        == sorted((r.k, r.v) for r in pinned.collect())
    # pinned pre-compaction read still serves (files untouched) ...
    assert pinned.count() == 4
    # ... until retention expires the chain; the compacted head survives
    vacuum(root, keep_last=1)
    assert [m["version"] for m in history(root)] == [5]
    assert read_version(spark, root).count() == 4


def test_version_diff_is_a_change_feed(spark, tmp_path):
    """CDC between snapshots: multiset adds/removes, including pure
    duplicate-count changes."""
    from bacalhau_spark.sources.versioned import version_diff

    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a"), (2, "b"), (2, "b")]), root)
    write_version(_df(spark, [(2, "b"), (3, "c")]), root)
    got = sorted((r.k, r.v, r.change)
                 for r in version_diff(spark, root, 1, 2).collect())
    assert got == [(1, "a", "removed"), (2, "b", "removed"),
                   (3, "c", "added")]


def test_stream_ingest_commits_one_version_per_microbatch(spark, sf_dir,
                                                          tmp_path):
    """Streaming ingest: a 2-file paced stream commits 2 snapshots;
    latest == the union, and version_diff across the epochs is exactly
    the second file's rows. Deliberately re-committing a seen batch_id
    is a no-op (the exactly-once guard)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bacalhau_spark.catalog import table
    from bacalhau_spark.sources.versioned import (stream_to_versioned,
                                                  version_diff,
                                                  write_version)

    t = pq.read_table(f"{sf_dir}/documents.parquet").sort_by("doc_id")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(tmp_path / "documents-0.parquet"))
    pq.write_table(t.slice(half), str(tmp_path / "documents-1.parquet"))
    schema = table(spark, sf_dir, "documents").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents-*.parquet")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path))
              .select("doc_id", "source"))
    root = str(tmp_path / "vt")
    q = stream_to_versioned(stream, root, str(tmp_path / "ck"))
    assert q.awaitTermination(120)
    q.stop()
    h = history(root)
    assert [m["version"] for m in h] == [1, 2]
    assert sorted(m["batch_id"] for m in h) == [0, 1]
    assert read_version(spark, root).count() == t.num_rows
    # the change feed between ingest epochs is exactly the later file
    d = version_diff(spark, root, 1, 2)
    assert d.where(F.col("change") == "removed").count() == 0
    adds = d.where(F.col("change") == "added").count()
    assert adds == t.num_rows - half
    # version 1 is the first epoch alone (time travel across epochs)
    assert read_version(spark, root, version=1).count() == half
    # append versions share the immutable epoch-1 files (no rewrite)
    assert set(h[0]["files"]) < set(h[1]["files"])


def test_selective_read_prunes_files_and_keeps_rows(spark, tmp_path):
    """File skipping: an append chain of disjoint k-ranges, then a
    selective read — the manifest's footer stats must prune the file
    list STRICTLY below the chain's total while returning exactly the
    rows a full-scan filter would (pruning is a superset guarantee; the
    residual row filter closes it to equality)."""
    from bacalhau_spark.sources.versioned import pruned_file_count

    root = str(tmp_path / "t")
    # four epochs, 10 rows each, disjoint k ranges [0..9], [10..19], ...
    for e in range(4):
        rows = [(e * 10 + i, f"v{e}") for i in range(10)]
        write_version(_df(spark, rows).coalesce(1), root,
                      mode="append" if e else "overwrite")
    pred = [("k", "<=", 12)]
    kept, total = pruned_file_count(root, pred)
    assert total == 4
    assert kept == 2, (kept, total)  # epochs 0 and 1 only
    got = sorted(r.k for r in read_version(spark, root,
                                           predicate=pred).collect())
    assert got == list(range(13))
    # equality predicate prunes to ONE epoch
    kept_eq, _ = pruned_file_count(root, [("k", "==", 25)])
    assert kept_eq == 1
    rows_eq = read_version(spark, root,
                           predicate=[("k", "==", 25)]).collect()
    assert [r.k for r in rows_eq] == [25]
    # a predicate no file can match: zero files, empty frame, schema kept
    kept0, _ = pruned_file_count(root, [("k", ">", 999)])
    assert kept0 == 0
    empty = read_version(spark, root, predicate=[("k", ">", 999)])
    assert empty.columns == ["k", "v"] and empty.count() == 0


def test_selective_read_in_predicate(spark, tmp_path):
    """`in` membership pruning (the IVF probe shape: cluster IN probed
    cells — a disjunction no conjunction of comparisons expresses): a
    file survives iff ANY listed value can sit in its recorded range,
    and the residual isin row filter closes pruning to exactness."""
    from bacalhau_spark.sources.versioned import pruned_file_count

    root = str(tmp_path / "t")
    for e in range(4):
        rows = [(e * 10 + i, f"v{e}") for i in range(10)]
        write_version(_df(spark, rows).coalesce(1), root,
                      mode="append" if e else "overwrite")
    # values landing in two of the four epochs: exactly two files kept
    kept, total = pruned_file_count(root, [("k", "in", (5, 12))])
    assert (kept, total) == (2, 4)
    # the row filter drops the member no row carries (999 keeps no
    # extra rows even though it prunes no extra files)
    got = sorted(r.k for r in read_version(
        spark, root, predicate=[("k", "in", (5, 12, 999))]).collect())
    assert got == [5, 12]
    # a membership set no file can match: zero files, schema kept
    kept0, _ = pruned_file_count(root, [("k", "in", (999,))])
    assert kept0 == 0
    empty = read_version(spark, root, predicate=[("k", "in", (999,))])
    assert empty.columns == ["k", "v"] and empty.count() == 0
    # the EMPTY membership set: no rows, no isin() crash — a statless
    # file can survive the pruner, so the row filter must handle ()
    none = read_version(spark, root, predicate=[("k", "in", ())])
    assert none.columns == ["k", "v"] and none.count() == 0


def test_optimistic_concurrency_on_expected_version(spark, tmp_path):
    """write_version(expected_version=N) is the read-modify-write
    guard: a writer that based its transaction on version N fails
    LOUDLY — before writing any data — if the table advanced meanwhile,
    and succeeds when its expectation holds."""
    import pytest

    from bacalhau_spark.sources.versioned import VersionConflictError

    root = str(tmp_path / "t")
    assert write_version(_df(spark, [(1, "a")]), root,
                         expected_version=0) == 1
    # a second writer sneaks in
    assert write_version(_df(spark, [(2, "b")]), root,
                         mode="append") == 2
    # the first writer's next commit still expects v1 -> conflict
    with pytest.raises(VersionConflictError, match="expected head v1"):
        write_version(_df(spark, [(3, "c")]), root, mode="append",
                      expected_version=1)
    assert latest_version(root) == 2  # nothing was committed
    # refreshed expectation commits
    assert write_version(_df(spark, [(3, "c")]), root, mode="append",
                         expected_version=2) == 3


def test_clustered_writes_restore_pruning_on_unsorted_ingest(
        spark, tmp_path):
    """The missing half of file skipping (round-10 verdict): on
    realistic UNSORTED ingest every file's [min, max] spans the whole
    key range and pruning degrades to scan-everything. cluster_by
    range-sorts each write so its files are disjoint key ranges —
    (a) a selective read over the clustered table opens STRICTLY fewer
    files than over the identically-ingested unclustered one, (b) both
    return identical rows (clustering is a pure layout optimization),
    (c) a type-mismatched predicate reads unpruned instead of raising
    (the stat type guard)."""
    from bacalhau_spark.sources.versioned import pruned_file_count

    # 4 epochs of INTERLEAVED keys: epoch e holds k % 4 == e, so every
    # epoch's range spans [e, 196+e] — nothing prunes without clustering
    plain, clustered = str(tmp_path / "p"), str(tmp_path / "c")
    for e in range(4):
        rows = [(k, f"v{e}") for k in range(200) if k % 4 == e]
        mode = "append" if e else "overwrite"
        write_version(_df(spark, rows).coalesce(1), plain, mode=mode)
        write_version(_df(spark, rows).repartition(4), clustered,
                      mode=mode, cluster_by=["k"])
    pred = [("k", "<=", 20)]
    kept_p, total_p = pruned_file_count(plain, pred)
    kept_c, total_c = pruned_file_count(clustered, pred)
    assert kept_p == total_p == 4, "interleaved epochs should not prune"
    # clustered: only each epoch's lowest-range file(s) can match
    assert kept_c / total_c < kept_p / total_p
    assert kept_c / total_c <= 0.5, (kept_c, total_c)
    got_p = sorted(r.k for r in read_version(spark, plain,
                                             predicate=pred).collect())
    got_c = sorted(r.k for r in read_version(spark, clustered,
                                             predicate=pred).collect())
    assert got_p == got_c == list(range(21))
    # type-mismatched predicate: conservative unpruned read, no raise
    kept_t, total_t = pruned_file_count(clustered, [("v", "<=", 5)])
    assert kept_t == total_t
    assert read_version(spark, clustered,
                        predicate=[("k", "==", 7)]).count() == 1


def test_selective_read_survives_pre_stats_manifests(spark, tmp_path):
    """A manifest written before stats existed (simulated by deleting the
    stats key) must read correctly under a predicate — unpruned, never
    wrong."""
    root = str(tmp_path / "t")
    write_version(_df(spark, [(i, "x") for i in range(10)]), root)
    mpath = os.path.join(root, "v=000001", "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["stats"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    got = sorted(r.k for r in read_version(
        spark, root, predicate=[("k", "<", 3)]).collect())
    assert got == [0, 1, 2]


def test_manifest_records_row_count_from_footers(spark, tmp_path):
    """Every version's manifest carries the table's row count (appends
    add to the head's), so readers need no Spark job to learn it; an
    append onto a head written before counts were recorded leaves the
    key out rather than under-count."""
    from bacalhau_spark.sources.versioned import latest_manifest

    root = str(tmp_path / "t")
    write_version(_df(spark, [(i, "x") for i in range(7)]).repartition(3),
                  root)
    assert latest_manifest(root)["n_rows"] == 7
    write_version(_df(spark, [(8, "y"), (9, "z")]), root, mode="append")
    assert latest_manifest(root)["n_rows"] == 9
    mpath = os.path.join(root, "v=000002", "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["n_rows"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    write_version(_df(spark, [(10, "w")]), root, mode="append")
    assert "n_rows" not in latest_manifest(root)
    assert read_version(spark, root).count() == 10


def test_failed_publish_cleans_partial_vdir(spark, tmp_path):
    """A publish that fails AFTER the parquet write (round-12 ADVICE:
    link_files collision, footer-stats failure, ...) must remove the
    partial, manifestless version dir — otherwise every later publish
    at the root fails on mode='error' and the table is wedged into
    session-local rebuilds forever."""
    import pytest

    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), root)
    # a link_files entry whose source does not exist: the link loop
    # raises after df.write already materialized v2
    with pytest.raises(OSError):
        write_version(_df(spark, [(2, "b")]), root,
                      link_files=[str(tmp_path / "missing.parquet")])
    assert not os.path.exists(os.path.join(root, "v=000002")), \
        "partial vdir must be cleaned up on failed publish"
    # the root is NOT wedged: the next publish takes the same slot
    assert write_version(_df(spark, [(2, "b")]), root,
                         mode="append") == 2
    assert sorted(r.k for r in read_version(spark, root).collect()) \
        == [1, 2]


def test_empty_first_index_batch_keeps_lockstep(spark, sf_dir, tmp_path):
    """A modality-sparse FIRST batch (index_fn yields zero rows) must
    still publish index v1 — as a files=[] schema-bearing version —
    or every later corpus/index pair is silently off by one (round-12
    ADVICE). read_version reconstructs the empty snapshot from the
    manifest's recorded dtypes."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bacalhau_spark.catalog import table
    from bacalhau_spark.sources.versioned import (
        history, stream_to_versioned_indexed)

    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(f"{sf_dir}/documents.parquet").sort_by("doc_id")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(src / "documents-0.parquet"))
    pq.write_table(t.slice(half), str(src / "documents-1.parquet"))
    schema = table(spark, sf_dir, "documents").schema
    cut = t.column("doc_id")[half].as_py()

    def index_fn(df):
        # sparse on batch 0 (all doc_id < cut), populated on batch 1
        return (df.where(F.col("doc_id") >= cut)
                .select("doc_id", F.md5("text").alias("fp")))

    def stream():
        return (spark.readStream.schema(schema)
                .option("pathGlobFilter", "documents-*.parquet")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
                .select("doc_id", "source", "text"))

    root, iroot = str(tmp_path / "corpus"), str(tmp_path / "idx")
    q = stream_to_versioned_indexed(stream(), root, iroot, index_fn,
                                    str(tmp_path / "ck"))
    assert q.awaitTermination(120)
    q.stop()
    assert latest_version(root) == 2
    assert latest_version(iroot) == 2, \
        "sparse first batch must still publish index v1"
    assert [m.get("batch_id") for m in history(root)] == \
        [m.get("batch_id") for m in history(iroot)]
    # v1 is the empty typed snapshot
    v1 = read_version(spark, iroot, version=1)
    assert v1.columns == ["doc_id", "fp"]
    assert v1.count() == 0
    # lockstep holds at every version
    for v in (1, 2):
        corpus_v = read_version(spark, root, version=v)
        idx_v = read_version(spark, iroot, version=v)
        assert sorted(map(tuple, index_fn(corpus_v).collect())) == \
            sorted(map(tuple, idx_v.collect())), f"off by one at v{v}"


def test_failed_pointer_flip_preserves_durable_version(spark, tmp_path,
                                                       monkeypatch):
    """r13 review: write_version's failure cleanup is scoped to the
    pre-manifest window. A crash BETWEEN the manifest publish and the
    pointer flip leaves a fully-durable pending version that
    finish_pending() completes — rmtree'ing it there would convert the
    recoverable crash shape into data loss."""
    from bacalhau_spark.sources import versioned

    root = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), root)

    real_publish = versioned._publish

    def exploding_publish(path, content):
        if path.endswith("_LATEST") and content == "2":
            raise KeyboardInterrupt("crash between manifest and pointer")
        return real_publish(path, content)

    monkeypatch.setattr(versioned, "_publish", exploding_publish)
    try:
        write_version(_df(spark, [(2, "b")]), root, mode="append")
    except KeyboardInterrupt:
        pass
    monkeypatch.setattr(versioned, "_publish", real_publish)
    # the durable version survived the failure handler...
    assert os.path.exists(os.path.join(root, "v=000002",
                                       "manifest.json")), \
        "a manifest-published version must never be cleaned up"
    assert latest_version(root) == 1  # pointer never flipped
    # ...and the documented recovery completes it
    assert versioned.finish_pending(root)
    assert latest_version(root) == 2
    assert sorted(r.k for r in read_version(spark, root).collect()) \
        == [1, 2]


def test_payload_keys_recorded_and_flag_in_place_corruption(
        spark, tmp_path):
    """Every published version records a payload window key per data
    file (r14): a later in-place byte flip — which leaves the parquet
    footer readable, so footer checks alone pass it — changes the
    recomputed key, which is what `index verify` compares. Append
    versions carry the prior files' keys forward."""
    from bacalhau_spark.sources.versioned import payload_key

    root = str(tmp_path / "t")
    write_version(_df(spark, [(i, "v") for i in range(10)])
                  .coalesce(1), root)
    write_version(_df(spark, [(10, "w")]).coalesce(1), root,
                  mode="append")
    man = history(root)[-1]
    assert set(man["payload_keys"]) == set(man["files"])
    p = man["files"][0]
    full = os.path.join(root, p)
    assert payload_key(full) == man["payload_keys"][p]
    with open(full, "r+b") as f:
        f.seek(100)
        b = f.read(1)
        f.seek(100)
        f.write(bytes([b[0] ^ 0xFF]))
    assert payload_key(full) != man["payload_keys"][p]
