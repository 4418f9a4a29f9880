"""Content-store tests — the storage-provider plane
(`pkg/storage/types.go:7-18`, api-copy driver semantics) as native Spark
plans: driver-side missing-address probe, verified (re-hashed) `binaryFile`
reads with no Python scan, the `binaryFile` stream of newly pinned blobs,
idempotent content-addressed writes, the batch publish through Spark's
text writer and its per-micro-batch `foreachBatch` form, and a read from
a foreign cwd whose Python workers cannot import the package.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from bacalhau_spark.sources import contentstore as cs


@pytest.fixture()
def store(tmp_path):
    root = str(tmp_path / "store")
    addrs = [
        cs.store_put_json_rows(root, [{"k": i, "v": f"row{i}-{j}"}
                                      for j in range(5)])
        for i in range(3)
    ]
    return root, addrs


def _streamed(spark, root, name):
    """Every row the stream mount of `root` delivers, in one run."""
    q = (cs.stream_addresses(spark, root).writeStream.format("memory")
         .queryName(name).trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    return spark.table(name).collect()


def test_round_trip_is_a_native_scan(spark, store):
    root, addrs = store
    df = cs.read_addresses(spark, root, addrs)
    assert df.count() == 15
    # a binaryFile scan verified in the plan; no Python data-source scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan binaryFile" in plan and "Python" not in plan
    # payload is opaque JSONL; the query interprets it (reference: opaque
    # mounted files interpreted by the container)
    parsed = df.select("address", F.get_json_object("value", "$.k").alias("k"))
    assert parsed.where(F.col("k").isNull()).count() == 0


def test_reads_a_root_with_glob_characters(spark, tmp_path):
    """Spark expands glob characters in read paths; a store root named
    with them is still read literally, by the batch and the stream
    mount."""
    root = str(tmp_path / "st[1]{a}*?")
    addr = cs.store_put(root, b"x\ny")
    rows = cs.read_addresses(spark, root, [addr]).collect()
    assert sorted(r.value for r in rows) == ["x", "y"]
    assert sorted(r.value for r in _streamed(spark, root, "cs_glob")) == [
        "x", "y"]


def test_store_put_idempotent(store):
    root, addrs = store
    again = cs.store_put_json_rows(root, [{"k": 0, "v": "row0-0"}])
    # different content -> different address; same content -> same address
    a1 = cs.store_put(root, b"hello")
    a2 = cs.store_put(root, b"hello")
    assert a1 == a2 and again not in (a1, a2)
    assert cs.store_size(root, a1) == 5


def test_missing_address_fails_at_planning(spark, store):
    root, addrs = store
    with pytest.raises(Exception, match="not in store"):
        cs.read_addresses(spark, root, addrs + ["f" * 32]).collect()


def test_emptied_blob_fails_verified_read(spark, store):
    """A file scan yields no row for a zero-byte file, so a blob
    truncated to nothing must fail the read instead of reading as zero
    rows; the genuinely empty blob still reads as zero rows."""
    root, addrs = store
    open(os.path.join(root, addrs[0]), "wb").close()
    with pytest.raises(Exception, match="integrity"):
        cs.read_addresses(spark, root, [addrs[0]]).collect()
    empty = cs.store_put(root, b"")
    assert cs.read_addresses(spark, root, [empty]).count() == 0


def test_corrupted_blob_fails_verified_read(spark, store):
    root, addrs = store
    # tamper with one blob: its content no longer matches its address
    with open(os.path.join(root, addrs[0]), "ab") as f:
        f.write(b"\ntampered")
    with pytest.raises(Exception, match="integrity"):
        cs.read_addresses(spark, root, [addrs[0]]).collect()


def test_reads_compose_with_sql(spark, store):
    """A mounted store behaves like any other DataFrame source: filters,
    JSON extraction and aggregation run through the normal planner."""
    root, addrs = store
    df = cs.read_addresses(spark, root, addrs)
    agg = (df.select(F.get_json_object("value", "$.k").cast("int").alias("k"))
           .groupBy("k").agg(F.count("*").alias("n")).orderBy("k"))
    rows = agg.collect()
    assert [(r.k, r.n) for r in rows] == [(0, 5), (1, 5), (2, 5)]


def test_writer_publishes_content_addressed_manifest(spark, tmp_path):
    """The publisher analog: each task publishes one blob, commit publishes
    a sorted manifest whose address is layout-invariant — repartitioning
    the same rows differently yields the SAME blob set and manifest."""
    root = str(tmp_path / "out_store")
    rows = [(f"r{i:03d}",) for i in range(20)]

    def write(n_parts):
        df = (spark.createDataFrame(rows, "value string")
              .repartitionByRange(n_parts, "value"))
        cs.publish(df, root)
        return cs.last_manifest(root)

    addr1, entries1 = write(4)
    addr2, entries2 = write(4)
    assert addr1 == addr2 and entries1 == entries2
    assert sum(n for _, n in entries1) == len(rows)
    # every published blob passes the verified read
    df = cs.read_addresses(spark, root, [a for a, _ in entries1])
    assert df.count() == len(rows)
    assert sorted(r.value for r in df.collect()) == [r[0] for r in rows]


def test_writer_rejects_multi_column_and_non_string(spark, tmp_path):
    """The (value string) write contract is enforced at planning time:
    a multi-column frame would silently lose every column after the
    first, and str() of a non-string value changes the published bytes
    (and thus the address) without warning."""
    root = str(tmp_path / "bad_store")
    two_cols = spark.createDataFrame([("a", 1)], "value string, n int")
    with pytest.raises(Exception, match="one string column"):
        cs.publish(two_cols, root)
    ints = spark.createDataFrame([(1,), (2,)], "value int")
    with pytest.raises(Exception, match="one string column"):
        cs.publish(ints, root)
    assert not os.path.exists(root)  # nothing was published


def test_publish_manifest_ignores_empty_partitions(spark, tmp_path):
    """The same rows in the same non-empty partitions publish the same
    manifest however many empty partitions sit between them: an empty
    partition publishes no blob and no manifest entry."""
    root = str(tmp_path / "layout_store")

    def write(n_parts):
        # range() over 20 rows: 20 partitions hold one row each; 40 hold
        # the same single rows with an empty partition before each
        df = spark.range(0, 20, 1, n_parts).select(
            F.format_string("r%03d", "id").alias("value"))
        assert df.rdd.getNumPartitions() == n_parts
        return cs.publish(df, root), cs.last_manifest(root)[1]

    addr1, entries1 = write(20)
    addr2, entries2 = write(40)
    assert addr1 == addr2 and entries1 == entries2
    assert len(entries1) == 20 and {n for _, n in entries1} == {1}
    assert sorted(os.listdir(root)) == sorted(
        [a for a, _ in entries1] + [addr1, "MANIFEST"])


@pytest.mark.parametrize("bad", [None, "two\nlines"])
def test_publish_refuses_null_and_newline_values(spark, tmp_path, bad):
    """A blob is its rows joined by newlines, so a null or a value with
    a newline would change the row count a reader sees: the write fails,
    no MANIFEST is published and no staging dir is left behind."""
    root = str(tmp_path / "refuse_store")
    df = spark.createDataFrame([("ok",), (bad,), ("fine",)], "value string")
    with pytest.raises(Exception, match="non-null and contain no newline"):
        cs.publish(df, root)
    left = os.listdir(root) if os.path.exists(root) else []
    assert "MANIFEST" not in left
    assert not [n for n in left if n.startswith(".staging-")]


def test_publish_zero_rows_gives_empty_manifest(spark, tmp_path):
    root = str(tmp_path / "empty_store")
    addr = cs.publish(spark.createDataFrame([], "value string"), root)
    assert addr == hashlib.md5(b"").hexdigest()
    assert cs.last_manifest(root) == (addr, [])


def test_reads_split_rows_on_newline_only(spark, tmp_path):
    """Rows are joined by a newline alone: a value holding another Unicode
    line break (U+2028, U+0085, form feed) is one row on both readers,
    and an empty blob reads as zero rows."""
    root = str(tmp_path / "lines_store")
    values = ["a\u2028b", "c\x85d", "e\x0cf", ""]
    addr = cs.store_put(root, "\n".join(values).encode("utf-8"))
    empty = cs.store_put(root, b"")
    rows = cs.read_addresses(spark, root, [addr, empty]).collect()
    assert sorted((r.line_no, r.value) for r in rows) == list(
        enumerate(values))
    streamed = sorted(_streamed(spark, root, "cs_lines"),
                      key=lambda r: r.line_no)
    assert [r.value for r in streamed] == values


def test_doc_rows_with_unicode_line_breaks_round_trip(spark, tmp_path):
    """A document text holding U+2028 or U+0085 survives a store-edged
    hand-off: published by the edge serializer, mounted back through the
    verified reader, it is still one row with its id and text."""
    from bacalhau_spark.stages import _DOC_SCHEMA, _read_docs

    root = str(tmp_path / "docs_store")
    docs = spark.createDataFrame(
        [(1, "line\u2028separator"), (2, "next\x85line")], _DOC_SCHEMA)
    cs.publish(cs.json_lines(docs), root)
    back = sorted(tuple(r) for r in
                  _read_docs(spark, root, _DOC_SCHEMA).collect())
    assert back == [(1, "line\u2028separator"), (2, "next\x85line")]


def test_manifest_pointers_published_atomically(spark, tmp_path):
    """Pointer files get the blob discipline (tmp + os.replace): no tmp
    residue after a commit, and a stale crash-leftover tmp pointer is
    ignored by batch_manifests instead of crashing it."""
    root = str(tmp_path / "ptr_store")
    df = spark.createDataFrame([("x",), ("y",)], "value string")
    cs.publish(df, root)
    assert not [n for n in os.listdir(root) if ".tmp." in n]
    addr, entries = cs.last_manifest(root)
    assert sum(n for _, n in entries) == 2
    # simulate a crashed writer's leftover tmp pointer
    with open(os.path.join(root, "MANIFEST-7.tmp.999"), "w") as f:
        f.write("garbage")
    assert cs.batch_manifests(root) == {}  # no committed stream batches


def test_stream_reader_emits_new_blobs_exactly_once(spark, tmp_path):
    """Streaming mounts: newly pinned blobs flow through readStream exactly
    once; already-delivered addresses never re-emit (the file source's
    seen-file log is the offset; blobs are immutable, so a new name is
    new data)."""
    import time as _time

    root = str(tmp_path / "stream_store")
    a1 = cs.store_put_json_rows(root, [{"k": 1}, {"k": 2}])
    q = (cs.stream_addresses(spark, root)
         .writeStream.format("memory").queryName("cs_stream")
         .trigger(processingTime="250 milliseconds").start())

    def wait_rows(n, timeout=60):
        deadline = _time.time() + timeout
        while _time.time() < deadline:
            if spark.table("cs_stream").count() >= n:
                return spark.table("cs_stream").count()
            _time.sleep(0.3)
        return spark.table("cs_stream").count()

    try:
        assert wait_rows(2) == 2
        a2 = cs.store_put_json_rows(root, [{"k": 3}, {"k": 4}, {"k": 5}])
        assert wait_rows(5) == 5
        rows = spark.table("cs_stream").collect()
        assert {r.address for r in rows} == {a1, a2}
        # exactly once: no duplicates across micro-batches
        assert len({(r.address, r.line_no) for r in rows}) == 5
    finally:
        q.stop()


def test_stream_writer_publishes_per_batch_manifests(spark, tmp_path):
    """Streaming publish: a file-stream source published per micro-batch
    through foreachBatch yields per-batch manifests whose blobs all pass
    the verified read and whose row total equals the source."""
    import shutil

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet",
                src_dir / "d.parquet")
    out_root = str(tmp_path / "stream_out")
    schema = spark.read.parquet(str(src_dir)).schema
    q = (spark.readStream.schema(schema).parquet(str(src_dir))
         .selectExpr("to_json(struct(*)) AS value")
         .writeStream.foreachBatch(cs.stream_publisher(out_root))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    batches = cs.batch_manifests(out_root)
    assert batches, "no streaming batch manifests published"
    total = sum(n for entries in batches.values() for _, n in entries)
    assert total == 500
    addrs = [a for entries in batches.values() for a, _ in entries]
    df = cs.read_addresses(spark, out_root, addrs)
    assert df.count() == 500


_FOREIGN_CWD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession, functions as F
from bacalhau_spark.engine import Engine, JobSpec
from bacalhau_spark.sources import contentstore as cs

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
addr = cs.store_put_json_rows("store", [{"k": i} for i in range(3)])
read = [r.value for r in cs.read_addresses(spark, "store", [addr]).collect()]
engine = Engine(spark, {"rows": lambda spark_, sf_dir: spark_.range(20).select(
    F.format_string("r%03d", "id").alias("value"))})
run_id = engine.submit(JobSpec(query="rows", outputs={
    "path": "published", "format": "contentstore"}))
fetched = [r["value"] for r in engine.fetch_results(run_id, limit=100)]
print(json.dumps({"read": read, "fetched": fetched}))
"""


def test_reads_from_a_foreign_cwd(tmp_path):
    """From a cwd outside the repo with no PYTHONPATH, the package is
    importable on the driver only: the verified read and the engine's
    fetch of a contentstore sink still return the published rows,
    because neither runs a Python worker."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD, repo], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["read"] == [json.dumps({"k": i}) for i in range(3)]
    assert sorted(got["fetched"]) == [f"r{i:03d}" for i in range(20)]
