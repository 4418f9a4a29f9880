"""Content-addressed store: verified reads and streaming through a
Spark DataSource V2 (Python API — Spark 4's `pyspark.sql.datasource`),
batch publish through Spark's native text writer.

The reference mounts content-addressed inputs into jobs: a StorageSpec
lists CIDs, the api-copy driver fetches each into a local cache keyed by
CID and bind-mounts it (`pkg/storage/types.go:23-42`,
`pkg/storage/ipfs_apicopy/storage.go:87-143`). This module restates that
plane as a first-class Spark source instead of an engine-side staging step:

- the "store" is a directory of immutable blobs, each named by the
  md5 hex of its content (the CID analog);
- a read "mounts" a list of addresses (`addresses` option = the
  StorageSpec's CID list); each address becomes ONE InputPartition, so a
  1000-address mount reads 1000-way parallel on a cluster — the
  partition-granular restatement of the reference's one-mount-per-replica;
- content addressing makes reads VERIFIABLE: every partition re-hashes
  the bytes it read and fails loudly on a mismatch (the property the
  reference's whole design leans on — an address can't silently point at
  different data);
- a missing address fails at PLANNING time (the HasStorageLocally probe,
  `pkg/storage/ipfs_apicopy/storage.go:60-64`), not mid-job on one task.

Publishing follows the reference's two steps — write the results folder,
then `ipfs add -r` it (`pkg/verifier/ipfs/verifier.go:37-43`): `publish`
writes with `df.write.text` (no Python planner round trips or Python
workers on the write) and the driver content-addresses each part file.
Hashing on the driver is a single-box simplification: it reads every
published byte once on one machine, where a cluster would hash on the
executors or in the object store. The streaming writer
(`writeStream.format("contentstore")`) stays a DataSource writer.

Records are lines; the fixed read schema is
(address string, line_no int, value string), and both writers take one
(value string) column — payload interpretation belongs to the query,
exactly like the reference's opaque mounted files (serialize richer rows
with to_json). A blob is its rows joined by `\\n`, so a value may be
neither null nor contain `\\n` (both writers refuse such a row), and
readers split on `\\n` alone. An empty blob reads as zero rows (so a
partition whose one row is the empty string reads back as none).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import uuid

from dataclasses import dataclass

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamWriter, InputPartition,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)


def store_put(root: str, content: bytes) -> str:
    """Write `content` into the store, returning its address (md5 hex).
    Idempotent: identical content maps to the same blob (CID pinning)."""
    addr = hashlib.md5(content).hexdigest()
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, addr)
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(content)
        os.replace(tmp, path)  # atomic publish — readers never see partials
    return addr


def store_size(root: str, addr: str) -> int:
    """GetVolumeSize analog (`pkg/storage/ipfs_apicopy/storage.go:67-85`)."""
    return os.stat(os.path.join(root, addr)).st_size


def store_get(root: str, addr: str) -> bytes:
    """VERIFIED read: the blob's bytes, after re-hashing them against the
    address — the one driver-side definition of the integrity contract
    (ContentStoreReader.read / ContentStoreStreamReader inline the same
    check because they execute where the package may not be importable —
    foreign-cwd executor tasks — and must stay dependency-free)."""
    with open(os.path.join(root, addr), "rb") as f:
        content = f.read()
    actual = hashlib.md5(content).hexdigest()
    if actual != addr:
        raise IOError(
            f"content integrity failure for {addr}: hash {actual}")
    return content


def _publish_pointer(root: str, name: str, addr: str) -> None:
    """Publish a mutable pointer file (MANIFEST / MANIFEST-<batchId>) with
    the same tmp + os.replace discipline as blobs: a concurrent
    last_manifest()/batch_manifests() reader never observes a truncated or
    half-overwritten address."""
    path = os.path.join(root, name)
    # pid alone is not unique inside one driver process: two concurrent
    # commits (e.g. two streaming batches, or batch + stream into the same
    # root) would share one tmp path and race the os.replace. Thread id +
    # uuid make the tmp name unique per commit.
    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(addr)
    os.replace(tmp, path)


class ContentStoreDataSource(DataSource):
    """`spark.read.format("contentstore").option("path", root)
    .option("addresses", "h1,h2,...").load()`"""

    @classmethod
    def name(cls) -> str:
        return "contentstore"

    def schema(self) -> str:
        return "address string, line_no int, value string"

    def reader(self, schema) -> "ContentStoreReader":
        return ContentStoreReader(self.options)

    def simpleStreamReader(self, schema) -> "ContentStoreStreamReader":
        return ContentStoreStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "ContentStoreStreamWriter":
        _check_write_schema(schema)
        return ContentStoreStreamWriter(self.options)


def _check_write_schema(schema) -> None:
    """Enforce the documented (value string) write contract at PLANNING
    time. Task-side `str(row[0])` would otherwise silently drop every
    column after the first, and str() of a non-string value changes the
    bytes — and thus the published address — without warning."""
    from pyspark.sql.types import StringType
    fields = schema.fields
    if len(fields) != 1 or not isinstance(fields[0].dataType, StringType):
        raise ValueError(
            "contentstore writes exactly one string column (value string); "
            f"got schema {schema.simpleString()} — serialize richer rows "
            "with to_json first")


def _is_address(name: str) -> bool:
    return len(name) == 32 and all(c in "0123456789abcdef" for c in name)


class ContentStoreStreamReader(SimpleDataSourceStreamReader):
    """Streaming mounts: `spark.readStream.format("contentstore")` emits
    every NEWLY PINNED blob's rows exactly once — the ingest-time analog
    of the reference's "new CID appears, run the job on it" loop, with
    Structured Streaming's offset log replacing the engine's own
    bookkeeping.

    Offsets are the set of addresses already delivered (content-addressed
    blobs are immutable, so set difference IS the new data — no mtime
    races, and readBetweenOffsets replays any batch deterministically for
    failure recovery). The Simple reader reads on the driver: right for
    control-plane-rate ingest; a high-throughput store would use the
    partitioned DataSourceStreamReader with one partition per new address,
    exactly like the batch reader."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("contentstore requires option 'path'")

    def initialOffset(self) -> dict:
        return {"seen": {}}

    def _addresses(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(a for a in os.listdir(self.root) if _is_address(a))

    def _rows(self, addrs):
        # A LIST iterator, not a generator: the runtime both iterates the
        # result (prefetch cache) and PICKLES it for batch replay —
        # generators don't pickle, bare lists aren't iterators; a list
        # iterator is both. Materializing is fine at the Simple reader's
        # control-plane rate by definition.
        import hashlib as _hashlib

        out: list[tuple] = []
        for addr in addrs:
            with open(os.path.join(self.root, addr), "rb") as f:
                content = f.read()
            if _hashlib.md5(content).hexdigest() != addr:
                raise IOError(f"content integrity failure for {addr}")
            # rows are joined by "\n" alone; str.splitlines() would also
            # break on U+2028, \x85 and the other Unicode line breaks
            rows = content.decode("utf-8").split("\n") if content else []
            for i, line in enumerate(rows):
                out.append((addr, i, line))
        return iter(out)

    def read(self, start: dict):
        seen = dict(start.get("seen", {}))
        new = [a for a in self._addresses() if a not in seen]
        end = {"seen": {**seen, **{a: True for a in new}}}
        return self._rows(new), end

    def readBetweenOffsets(self, start: dict, end: dict):
        s = start.get("seen", {})
        return self._rows(sorted(a for a in end.get("seen", {})
                                 if a not in s))


class ContentStoreReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        raw = options.get("addresses", "")
        self.addresses = [a for a in raw.split(",") if a]
        if not self.root:
            raise ValueError("contentstore requires option 'path'")
        if not self.addresses:
            raise ValueError("contentstore requires option 'addresses'")
        # Planning-time locality probe: every mounted address must exist
        # before any task launches (HasStorageLocally).
        missing = [a for a in self.addresses
                   if not os.path.exists(os.path.join(self.root, a))]
        if missing:
            raise FileNotFoundError(
                f"addresses not in store {self.root!r}: {missing}")

    def partitions(self):
        # one partition per address: the mount is the unit of parallelism
        return [InputPartition(a) for a in self.addresses]

    def read(self, partition):
        import hashlib as _hashlib  # executor-side; no module deps

        addr = partition.value
        with open(os.path.join(self.root, addr), "rb") as f:
            content = f.read()
        actual = _hashlib.md5(content).hexdigest()
        if actual != addr:
            # Verified read: the content no longer matches its address —
            # the store was corrupted/tampered. Failing the task is the
            # only correct outcome for a content-addressed read.
            raise IOError(
                f"content integrity failure for {addr}: hash {actual}")
        # rows are joined by "\n" alone (see ContentStoreStreamReader)
        rows = content.decode("utf-8").split("\n") if content else []
        for i, line in enumerate(rows):
            yield (addr, i, line)


@dataclass
class _BlobCommit(WriterCommitMessage):
    """One published blob per streaming task: its address + row count.
    Picklable — travels task -> driver for the commit fold."""
    address: str
    n_rows: int


_VALUE_ERROR = "contentstore values must be non-null and contain no newline"


def publish(df, root: str) -> str:
    """The publisher analog (`pkg/verifier/ipfs/verifier.go:37-43`:
    write the results folder, then `ipfs add -r` it -> CID): Spark's
    native text writer writes `df`'s (value string) rows to a staging
    dir under `root`, one line per row; the driver then content-
    addresses every non-empty part file as ONE blob and publishes the
    sorted manifest of (address, n_rows) — the result "CID" a client
    fetches, recorded in the MANIFEST pointer. Returns its address.

    The manifest is layout-invariant: blobs are keyed by content and
    empty partitions publish nothing, so the same rows in the same
    partitions give the same manifest however many empty partitions sit
    between them. A null value or one containing `\\n` fails the write
    (a blob is its rows joined by `\\n`, so either would change the row
    count a reader sees); nothing is published then, and the staging
    dir is removed on every path."""
    from pyspark.sql import functions as F

    _check_write_schema(df.schema)
    v = F.col(df.columns[0])
    checked = df.select(
        F.when(v.isNull() | v.contains("\n"),
               F.raise_error(F.lit(_VALUE_ERROR)))
        .otherwise(v).alias("value"))
    staging = os.path.join(root, f".staging-{uuid.uuid4().hex}")
    try:
        checked.write.text(staging)
        entries = {_pin_part(root, os.path.join(staging, name))
                   for name in os.listdir(staging)
                   if name.startswith("part-")
                   and os.path.getsize(os.path.join(staging, name))}
        manifest = "\n".join(f"{a} {n}" for a, n in sorted(entries))
        addr = store_put(root, manifest.encode("utf-8"))
        _publish_pointer(root, "MANIFEST", addr)
        return addr
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _pin_part(root: str, path: str) -> tuple[str, int]:
    """Turn one staged text part (every line `\\n`-terminated) into a
    blob: strip the final `\\n` so the bytes are the rows joined by
    `\\n`, hash them in chunks, and move the file to `root/<md5>` — or
    drop it when that address is already pinned. Returns (address,
    n_rows)."""
    h = hashlib.md5()
    n_rows = 0
    with open(path, "r+b") as f:
        f.seek(-1, os.SEEK_END)
        if f.read(1) != b"\n":
            raise IOError(f"staged part {path} does not end in a newline")
        f.truncate(f.tell() - 1)
        f.seek(0)
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
            n_rows += chunk.count(b"\n")
    addr = h.hexdigest()
    dst = os.path.join(root, addr)
    if os.path.exists(dst):
        os.remove(path)
    else:
        os.replace(path, dst)  # atomic: readers never see a partial blob
    return addr, n_rows + 1


class ContentStoreStreamWriter(DataSourceStreamWriter):
    """Streaming publish: every micro-batch's tasks publish their rows as
    content-addressed blobs (one blob per partition, the blob bytes
    `publish` gives) and the driver-side commit publishes one manifest
    blob PER BATCH, recorded as MANIFEST-<batchId> — so a stream into the
    store is an append-only chain of verifiable manifests (the continuous
    form of the reference's publish-results-per-job loop). Exactly-once:
    Spark replays a failed batch with the same batchId, and identical rows
    re-publish to identical addresses — the re-write is a no-op and the
    manifest overwrite is idempotent."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("contentstore requires option 'path'")

    def write(self, iterator) -> _BlobCommit:
        import hashlib as _hashlib
        import os as _os

        lines = [row[0] for row in iterator]
        if any(v is None or "\n" in v for v in lines):
            raise ValueError(_VALUE_ERROR)
        content = "\n".join(lines).encode("utf-8")
        addr = _hashlib.md5(content).hexdigest()
        _os.makedirs(self.root, exist_ok=True)
        path = _os.path.join(self.root, addr)
        if not _os.path.exists(path):
            tmp = f"{path}.tmp.{_os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(content)
            _os.replace(tmp, path)
        return _BlobCommit(address=addr, n_rows=len(lines))

    def commit(self, messages, batchId: int) -> None:
        entries = sorted({(m.address, m.n_rows) for m in messages if m})
        manifest = "\n".join(f"{a} {n}" for a, n in entries).encode("utf-8")
        addr = store_put(self.root, manifest)
        _publish_pointer(self.root, f"MANIFEST-{batchId}", addr)

    def abort(self, messages, batchId: int) -> None:
        # Blobs are content-addressed and immutable; orphans from a
        # failed batch are harmless (no manifest names them) and reusable.
        pass


def batch_manifests(root: str) -> dict[int, list[tuple[str, int]]]:
    """All committed streaming batches: {batchId: [(addr, n_rows), ...]}."""
    out: dict[int, list[tuple[str, int]]] = {}
    for name in os.listdir(root):
        if name.startswith("MANIFEST-") and ".tmp." not in name:
            with open(os.path.join(root, name)) as f:
                addr = f.read().strip()
            with open(os.path.join(root, addr)) as f:
                out[int(name.split("-", 1)[1])] = [
                    (a, int(n)) for a, n in
                    (ln.split() for ln in f.read().splitlines() if ln)]
    return out


def last_manifest(root: str) -> tuple[str, list[tuple[str, int]]]:
    """Return (manifest_address, [(blob_address, n_rows), ...]) of the
    store's most recent committed write — the `get` verb's starting point."""
    with open(os.path.join(root, "MANIFEST")) as f:
        addr = f.read().strip()
    with open(os.path.join(root, addr)) as f:
        entries = [(a, int(n)) for a, n in
                   (ln.split() for ln in f.read().splitlines() if ln)]
    return addr, entries


def register(spark) -> None:
    """Register the source on a session (idempotent)."""
    spark.dataSource.register(ContentStoreDataSource)


def read_addresses(spark, root: str, addresses: list[str]):
    """Convenience mount: the PrepareStorage verb."""
    register(spark)
    return (spark.read.format("contentstore")
            .option("path", root)
            .option("addresses", ",".join(addresses))
            .load())


def store_put_json_rows(root: str, rows: list[dict]) -> str:
    """Serialize rows to canonical JSONL and store them; returns the
    address. The writer-side half of a round-trip test."""
    content = "\n".join(
        json.dumps(r, sort_keys=True) for r in rows).encode("utf-8")
    return store_put(root, content)
