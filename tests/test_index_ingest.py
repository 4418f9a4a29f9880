"""stage_index_build's parallel lanes: every kind is built and published
once, the rows match a one-lane run, every job stays in the caller's job
group, and a failing builder surfaces only after every lane has joined,
with nothing half-published in the store."""

from __future__ import annotations

import collections
import os
import threading
import time

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
    flat = [k for chain in stages.INGEST_CHAINS for k in chain]
    assert sorted(flat) == sorted(KINDS)


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


def test_published_rows_reads_the_manifest_count(spark, sf_dir, cold,
                                                 tmp_path, monkeypatch):
    """stage_index_build takes a published kind's row count from its
    manifest instead of a count job: the recorded count equals the
    frame's, and a frame that is not the session tier's scan of a
    published table (a derived frame, a session-local fallback) gets
    None, so the stage counts it."""
    from bacalhau_spark.operators.web import FRONT_DOOR_REV, canon_index

    cold(tmp_path / "published")
    frame = canon_index(spark, sf_dir)
    n = indexstore.published_rows(spark, sf_dir, "canon", frame,
                                  rev=FRONT_DOOR_REV)
    assert n == frame.count() > 0
    assert indexstore.published_rows(spark, sf_dir, "canon", frame.limit(1),
                                      rev=FRONT_DOOR_REV) is None

    cold(tmp_path / "unwritable")

    def unwritable(*args, **kwargs):
        raise OSError("store is read-only")
    monkeypatch.setattr(versioned, "write_version", unwritable)
    local = canon_index(spark, sf_dir)
    assert indexstore.published_rows(spark, sf_dir, "canon", local,
                                      rev=FRONT_DOOR_REV) is None
    assert local.count() == n
