"""The epoch ingest (stages.index_ingest, run by stage_index_build and
`index build`) on parallel lanes: every kind is built and published
once, the rows match a one-lane run, every job stays in the caller's job
group, and a failing builder surfaces only after every lane has joined,
with nothing half-published in the store. Store artifacts and appended
part files are read with the schema already known, so no read runs a
Spark job to infer one."""

from __future__ import annotations

import collections
import json
import os
import shutil
import threading
import time
import uuid

import pytest
from pyspark import InheritableThread

from bacalhau_spark import stages
from bacalhau_spark.sources import indexstore, versioned

KINDS = ("sig", "cand", "winnow", "phash", "aphash", "vphash", "canon",
         "extract", "lshsig", "ivf_coarse", "ivf_cells", "ivf_vectors",
         "pq_assign", "pq_cent", "ivfpq_codes", "ivfpq_cent")


def _fresh_store(spark, monkeypatch, path) -> str:
    """Point the persisted store at an empty directory and evict the
    session tier, so the next stage run builds every kind."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_STORE", str(path))
    indexstore.clear_session_index(spark)
    return str(path)


@pytest.fixture
def cold(spark, monkeypatch):
    yield lambda path: _fresh_store(spark, monkeypatch, path)
    # later tests must not hold frames read from this test's stores
    indexstore.clear_session_index(spark)


def _count_writes(monkeypatch) -> list[str]:
    roots: list[str] = []
    write = versioned.write_version

    def counted(df, root, *args, **kwargs):
        roots.append(root)
        return write(df, root, *args, **kwargs)
    monkeypatch.setattr(versioned, "write_version", counted)
    return roots


def _drain_listener(spark) -> None:
    """Let the status tracker see every job event posted so far."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — internal API; settle instead
        time.sleep(2.0)


def _rows(df) -> list[tuple]:
    return [(r.kind, r.n_rows, r.version, r.delta_parent)
            for r in df.collect()]


def test_chains_cover_every_kind_once():
    """INGEST_CHAINS are INDEX_KINDS' chains, in the order of their
    first kinds, each kind after the kind it follows; the ingest's rows
    take the table's order."""
    flat = [k for chain in stages.INGEST_CHAINS for k in chain]
    assert sorted(flat) == sorted(KINDS)
    assert tuple(stages.INDEX_KINDS) == KINDS
    assert stages.INGEST_CHAINS == (
        ("sig", "cand"), ("winnow",), ("phash",), ("aphash",),
        ("vphash",), ("canon",), ("extract",), ("lshsig",),
        ("ivf_coarse", "ivf_cells", "ivf_vectors", "ivfpq_codes",
         "ivfpq_cent"),
        ("pq_assign", "pq_cent"))
    for chain in stages.INGEST_CHAINS:
        for before, kind in zip((None,) + chain, chain):
            assert stages.INDEX_KINDS[kind][2] == before


def test_lanes_publish_each_kind_once_inside_the_callers_job_group(
        spark, sf_dir, cold, tmp_path, monkeypatch):
    assert stages.lane_count(spark) == 2  # local[4]
    store = cold(tmp_path / "lanes")
    roots = _count_writes(monkeypatch)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-index-ingest-lanes"
    _drain_listener(spark)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        rows = _rows(stages.stage_index_build(spark, sf_dir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    _drain_listener(spark)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup(group)

    assert [r[0] for r in rows] == list(KINDS)
    per_root = collections.Counter(roots)
    assert len(per_root) == len(KINDS), per_root
    assert set(per_root.values()) == {1}, per_root
    assert all(os.path.dirname(r) == store for r in per_root)

    cold(tmp_path / "one_lane")
    monkeypatch.setattr(stages, "lane_count", lambda spark: 1)
    assert _rows(stages.stage_index_build(spark, sf_dir)) == rows


def test_failing_builder_raises_after_every_lane_has_joined(
        spark, sf_dir, cold, tmp_path, monkeypatch):
    from bacalhau_spark.operators import dedup, similarity

    store = cold(tmp_path / "failing")
    roots = _count_writes(monkeypatch)

    def broken(spark, sf_dir):
        raise RuntimeError("sig builder failed")
    monkeypatch.setattr(dedup, "minhash_signature_index", broken)
    # the longest chain goes to the other lane first: record when each
    # of its builders returns
    ivf = ("ivf_coarse_index", "ivf_cells_index", "ivf_vectors_index",
           "ivfpq_code_index", "ivfpq_centroid_index")
    ended: dict[str, float] = {}
    for name in ivf:
        def timed(spark, sf_dir, _build=getattr(similarity, name),
                  _name=name):
            try:
                return _build(spark, sf_dir)
            finally:
                ended[_name] = time.time()
        monkeypatch.setattr(similarity, name, timed)

    with pytest.raises(RuntimeError, match="sig builder failed"):
        stages.stage_index_build(spark, sf_dir)
    raised = time.time()
    assert not [t for t in threading.enumerate()
                if isinstance(t, InheritableThread)], \
        "a lane outlived the stage"
    # the other lane finished its chain; no lane started another one
    assert set(ended) == set(ivf)
    assert max(ended.values()) <= raised
    assert len(roots) == len(ivf), roots
    for name in os.listdir(store):
        root = os.path.join(store, name)
        for v in os.listdir(root):
            if v.startswith("v="):
                assert os.path.exists(os.path.join(root, v,
                                                   "manifest.json")), \
                    f"manifestless {name}/{v}"


def test_published_manifest_reads_the_manifest_count(spark, sf_dir, cold,
                                                     tmp_path, monkeypatch):
    """index_ingest takes a published kind's row count from the manifest
    published_manifest looks up by the frame, instead of a count job:
    the recorded count equals the frame's, and a frame that is not the
    session tier's scan of a published table (a derived frame, a view
    over an artifact, a session-local fallback) gets None, so the
    ingest counts it."""
    from bacalhau_spark.operators.dedup import (winnow_capped_postings,
                                                winnow_posting_index)
    from bacalhau_spark.operators.web import canon_index

    cold(tmp_path / "published")
    frame = canon_index(spark, sf_dir)
    man = indexstore.published_manifest(spark, frame)
    assert man["n_rows"] == frame.count() > 0
    assert man["props"]["kind"] == "canon"
    assert os.path.dirname(man["root"]) == str(tmp_path / "published")
    assert indexstore.published_manifest(spark, frame.limit(1)) is None
    assert indexstore.published_manifest(
        spark, winnow_posting_index(spark, sf_dir)) is not None
    assert indexstore.published_manifest(
        spark, winnow_capped_postings(spark, sf_dir)) is None

    cold(tmp_path / "unwritable")

    def unwritable(*args, **kwargs):
        raise OSError("store is read-only")
    monkeypatch.setattr(versioned, "write_version", unwritable)
    local = canon_index(spark, sf_dir)
    assert indexstore.published_manifest(spark, local) is None
    assert local.count() == man["n_rows"]


def _epochs(sf_dir, tmp_path) -> tuple[str, str]:
    """Epoch 0 holds the fixture's documents and embeddings as one part
    file each; epoch 1 adds a part file of 50 rows under new ids to
    each table."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    e0, e1 = str(tmp_path / "epoch0"), str(tmp_path / "epoch1")
    for tbl, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        src = os.path.join(sf_dir, f"{tbl}.parquet")
        for e in (e0, e1):
            os.makedirs(os.path.join(e, f"{tbl}.parquet"))
            shutil.copyfile(src, os.path.join(e, f"{tbl}.parquet",
                                              "part-0.parquet"))
        t = pq.read_table(src).slice(0, 50)
        i = t.schema.get_field_index(key)
        t = t.set_column(i, key, pc.add(t.column(key), 1_000_000))
        pq.write_table(t, os.path.join(e1, f"{tbl}.parquet",
                                       "part-1.parquet"))
    return e0, e1


def _reads(spark, monkeypatch) -> list[tuple[tuple, int]]:
    """Record each DataFrameReader.parquet call as (paths, Spark jobs
    the call ran): a read runs a job only to infer a schema."""
    from pyspark.sql.readwriter import DataFrameReader

    sc = spark.sparkContext
    calls: list[tuple[tuple, int]] = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        group = f"parquet-read-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return parquet(self, *paths, **options)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            _drain_listener(spark)
            calls.append((paths, len(
                sc.statusTracker().getJobIdsForGroup(group))))
    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    return calls


def _jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    _drain_listener(spark)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows_of(df) -> collections.Counter:
    return collections.Counter(map(repr, df.collect()))


def test_store_and_delta_reads_run_no_schema_job(spark, sf_dir, cold,
                                                 tmp_path, monkeypatch):
    """A cold then an appended ingest: every store artifact reads back
    through read_version with its recorded schema and without a Spark
    job (also when a predicate prunes every file, and for an empty
    version), equal to an inferring read of the same files; the
    appended ingest reads no store artifact and no appended part file
    with a job."""
    from bacalhau_spark.operators import dedup

    e0, e1 = _epochs(sf_dir, tmp_path)
    store = cold(tmp_path / "store")
    # let the minhash candidate kind take its delta guard on one parent
    # part file, so its part reads are covered too
    monkeypatch.setattr(dedup, "CAND_DELTA_MIN_PARENT_SHARDS", 1)
    stages.stage_index_build(spark, e0)
    reads = _reads(spark, monkeypatch)
    rows = _rows(stages.stage_index_build(spark, e1))
    assert {k for k, _n, _v, parent in rows if parent} == {
        "sig", "cand", "winnow", "phash", "aphash", "vphash", "canon",
        "extract", "lshsig"}, rows

    # the table handles' own first reads (the table directories) are
    # the reads left inferring
    parts = {os.path.join(e1, f"{t}.parquet", f"part-{i}.parquet")
             for t in ("documents", "embeddings") for i in (0, 1)}
    store_reads = [(p, n) for p, n in reads
                   if all(x.startswith(store + os.sep) for x in p)]
    part_reads = [(p, n) for p, n in reads if set(p) <= parts]
    assert store_reads and part_reads
    assert {p for p, _n in part_reads} >= {
        (os.path.join(e1, "documents.parquet", "part-0.parquet"),),
        (os.path.join(e1, "documents.parquet", "part-1.parquet"),),
        (os.path.join(e1, "embeddings.parquet", "part-1.parquet"),)}
    inferring = [(p, n) for p, n in store_reads + part_reads if n]
    assert inferring == []

    tables = sorted(os.listdir(store))
    assert len(tables) == 2 * len(KINDS)
    for name in tables:
        root = os.path.join(store, name)
        man = versioned.latest_manifest(root)
        files = [os.path.join(root, f) for f in man["files"]]
        got, n_jobs = _jobs(spark, lambda: versioned.read_version(spark,
                                                                  root))
        assert n_jobs == 0, name
        inferred = spark.read.parquet(*files)
        assert got.schema == inferred.schema, name
        assert _rows_of(got) == _rows_of(inferred), name

    # a predicate no file can match, on a table with ranged stats
    root = os.path.join(store, next(n for n in tables
                                    if n.startswith("lshsig__")))
    impossible = [("vec_id", "<", -1)]
    assert versioned.pruned_file_count(root, impossible)[0] == 0
    pruned, n_jobs = _jobs(spark, lambda: versioned.read_version(
        spark, root, predicate=impossible))
    assert n_jobs == 0
    assert pruned.schema == versioned.read_version(spark, root).schema
    assert pruned.count() == 0

    # an empty version: the manifest of a file-less head
    man = versioned.latest_manifest(root)
    empty = str(tmp_path / "empty_table")
    os.makedirs(versioned._vdir(empty, 1))
    with open(os.path.join(versioned._vdir(empty, 1),
                           "manifest.json"), "w") as f:
        json.dump(dict(man, version=1, files=[], n_files=0), f)
    with open(os.path.join(empty, "_LATEST"), "w") as f:
        f.write("1")
    got, n_jobs = _jobs(spark, lambda: versioned.read_version(spark, empty))
    assert n_jobs == 0
    assert got.schema == versioned.read_version(spark, root).schema
    assert got.count() == 0
