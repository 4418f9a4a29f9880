"""REAL crash injection for the index-publish path (r13 verdict #7: the
parquet-fault-tolerance claim was argued, not simulated): a builder
process SIGKILLs ITSELF at a chosen point inside write_version — the
deterministic stand-in for an OOM-killed or lost driver, with no except
arm and no cleanup — and the next session must converge: heal the slot
(finish_pending for a durable manifest-without-pointer commit,
age-guarded clear_pending for manifestless debris), publish or adopt,
and serve an index identical to a from-scratch build. Complements the
lost-RACE test in tests/test_scale.py (concurrent writers, both alive).
"""
import os
import shutil
import subprocess
import sys

from pyspark.sql import functions as F

_CHILD = r"""
import os, signal, sys
sys.path.insert(0, {repo!r})
from bacalhau_spark.sources import versioned

crash_point = sys.argv[1]
sf_dir = sys.argv[2]

if crash_point == "premanifest":
    # die after the parquet write, before ANY manifest work: the slot
    # holds data files and no manifest — the non-commit shape
    def _boom(*a, **k):
        os.kill(os.getpid(), signal.SIGKILL)
    versioned._finish_version = _boom
elif crash_point == "prepointer":
    # die right after the manifest lands, before the pointer flip: the
    # commit is durable but unnamed
    _orig = versioned._publish
    def _pub(path, data):
        _orig(path, data)
        if os.path.basename(path) == versioned._MANIFEST:
            os.kill(os.getpid(), signal.SIGKILL)
    versioned._publish = _pub
else:
    raise SystemExit(2)

from bacalhau_spark.session import get_session
spark = get_session("crash-child", master="local[4]",
                    shuffle_partitions=4)
from bacalhau_spark.operators.dedup import minhash_signature_index
minhash_signature_index(spark, sf_dir)
raise SystemExit(3)  # must never get here
"""


def _run_killed_builder(tmp_path, crash_point, sf_dir):
    script = str(tmp_path / f"child_{crash_point}.py")
    with open(script, "w") as f:
        f.write(_CHILD.format(repo=os.path.dirname(
            os.path.dirname(os.path.abspath(__file__)))))
    env = dict(os.environ)
    proc = subprocess.run([sys.executable, script, crash_point, sf_dir],
                          env=env, capture_output=True, timeout=300)
    assert proc.returncode == -9, (proc.returncode,
                                   proc.stderr.decode()[-2000:])


def _expect_sig_rows(spark, corpus):
    from bacalhau_spark.catalog import spread_compute
    from bacalhau_spark.operators.dedup import _mh_sig_frame

    return sorted(map(tuple, _mh_sig_frame(spread_compute(
        spark,
        spark.read.parquet(os.path.join(corpus, "documents.parquet"))
        .select("doc_id", "text"), "doc_id")).collect()))


def test_killed_builder_premanifest_heals_and_republishes(
        spark, sf_dir, tmp_path, monkeypatch):
    """SIGKILL between the parquet write and the manifest: the slot is a
    manifestless non-commit. The next session's publish path must
    age-guard-clear it, publish cleanly, and serve the exact index."""
    from bacalhau_spark.operators.dedup import minhash_signature_index
    from bacalhau_spark.sources import indexstore
    from bacalhau_spark.sources.indexstore import index_table_root
    from bacalhau_spark.sources.versioned import latest_manifest

    corpus = str(tmp_path / "corpus")
    _shifted(spark, sf_dir, corpus, 41_000_000)
    root = index_table_root(corpus, "sig", "documents")
    try:
        _run_killed_builder(tmp_path, "premanifest", corpus)
        # the killed builder's debris: data files, no manifest, v1 slot
        slot = os.path.join(root, "v=000001")
        assert os.path.isdir(slot)
        assert not os.path.exists(os.path.join(slot, "manifest.json"))
        assert latest_manifest(root) is None

        # debris is fresh — the age guard treats it as a live writer's
        # slot by default, so the next session degrades gracefully but
        # does NOT publish; the test then lowers the age (the sweep /
        # next-epoch shape) and the publish must converge
        monkeypatch.setattr(indexstore, "PENDING_DEBRIS_AGE_S", 0.0)
        got = sorted(map(tuple,
                         minhash_signature_index(spark, corpus).collect()))
        man = latest_manifest(root)
        assert man is not None and man["files"], \
            "healed slot must republish (not session-local fallback)"
        assert got == _expect_sig_rows(spark, corpus)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        _clear(spark)


def test_killed_builder_prepointer_finishes_the_commit(
        spark, sf_dir, tmp_path):
    """SIGKILL between the manifest publish and the pointer flip: the
    commit is DURABLE — the next session must FINISH it (flip the
    pointer, never rmtree a manifest-bearing slot) and adopt the dead
    builder's byte-equivalent artifact instead of rebuilding."""
    from bacalhau_spark.operators.dedup import minhash_signature_index
    from bacalhau_spark.sources.indexstore import index_table_root
    from bacalhau_spark.sources.versioned import (latest_manifest,
                                                  latest_version)

    corpus = str(tmp_path / "corpus")
    _shifted(spark, sf_dir, corpus, 42_000_000)
    root = index_table_root(corpus, "sig", "documents")
    try:
        _run_killed_builder(tmp_path, "prepointer", corpus)
        slot = os.path.join(root, "v=000001")
        assert os.path.exists(os.path.join(slot, "manifest.json"))
        assert latest_version(root) == 0, "pointer must not have flipped"

        got = sorted(map(tuple,
                         minhash_signature_index(spark, corpus).collect()))
        assert latest_version(root) == 1, \
            "the durable commit must be finished, not cleared"
        man = latest_manifest(root)
        assert man is not None and man["version"] == 1
        assert got == _expect_sig_rows(spark, corpus)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        _clear(spark)


def _shifted(spark, sf_dir, dest, shift):
    df = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
          .limit(60).withColumn("doc_id", F.col("doc_id") + shift))
    df.coalesce(1).write.parquet(os.path.join(dest, "documents.parquet"))


def _clear(spark):
    from bacalhau_spark.sources.indexstore import clear_session_index

    clear_session_index(spark)
