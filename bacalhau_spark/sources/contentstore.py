"""Content-addressed store: verified batch and streaming reads as native
Spark plans over the `binaryFile` source, batch and streaming publish
through Spark's native text writer.

The reference mounts content-addressed inputs into jobs: a StorageSpec
lists CIDs, the api-copy driver fetches each into a local cache keyed by
CID and bind-mounts it (`pkg/storage/types.go:23-42`,
`pkg/storage/ipfs_apicopy/storage.go:87-143`). This module restates that
plane as a Spark read instead of an engine-side staging step:

- the "store" is a directory of immutable blobs, each named by the
  md5 hex of its content (the CID analog);
- a read "mounts" a list of addresses (the StorageSpec's CID list) as
  one `binaryFile` scan. Small blobs share partitions (there is no
  per-address partition), and above 32 addresses Spark lists the paths
  in one extra parallel-listing job;
- content addressing makes reads VERIFIABLE: the plan re-hashes every
  blob with `md5(content)` and fails the task on a mismatch. The check
  sits on the content path itself, so no projection can prune it;
- a missing address fails on the driver before any job runs (the
  HasStorageLocally probe, `pkg/storage/ipfs_apicopy/storage.go:60-64`);
- `stream_addresses` is the streaming mount: a `binaryFile` file stream
  over the store directory, filtered to 32-hex names, whose seen-file
  log delivers every newly pinned blob once.

Reads run no Python worker, so they need no importable package on the
executors (a foreign cwd without `PYTHONPATH` reads the same rows).

Publishing follows the reference's two steps — write the results folder,
then `ipfs add -r` it (`pkg/verifier/ipfs/verifier.go:37-43`): `publish`
writes with `df.write.text` and the driver content-addresses each part
file. Hashing on the driver is a single-box simplification: it reads every
published byte once on one machine, where a cluster would hash on the
executors or in the object store. `stream_publisher` runs the same
publish per micro-batch through `foreachBatch`.

Records are lines; the read schema is (address string, line_no int,
value string), and publish takes one (value string) column — payload
interpretation belongs to the query, exactly like the reference's opaque
mounted files. `json_lines` serializes richer rows as canonical JSON
lines; the engine's `format: contentstore` sink calls it for any frame
that is not already one string column. A blob is its rows
joined by `\\n`, so a value may be neither null nor contain `\\n`
(publish refuses such a row), and reads split on `\\n` alone. An empty
blob reads as zero rows (so a partition whose one row is the empty string
reads back as none).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import threading
import uuid

from pyspark.sql import functions as F

# a blob's file name: its 32-hex md5 address (skips pointers, .tmp. debris)
_ADDRESS_GLOB = "[0-9a-f]" * 32
_EMPTY_ADDRESS = hashlib.md5(b"").hexdigest()
_BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                       "length bigint, content binary")


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
    """VERIFIED driver-side read: the blob's bytes, after re-hashing them
    against the address (`_verified_rows` is the same check in a plan)."""
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


def _check_write_schema(schema) -> None:
    """Enforce the (value string) publish contract before any job runs:
    publishing the first column alone would silently drop the others, and
    casting a non-string value changes the bytes — and thus the published
    address — without warning."""
    from pyspark.sql.types import StringType
    fields = schema.fields
    if len(fields) != 1 or not isinstance(fields[0].dataType, StringType):
        raise ValueError(
            "contentstore writes exactly one string column (value string); "
            f"got schema {schema.simpleString()} — serialize richer rows "
            "with json_lines first")


_VALUE_ERROR = "contentstore values must be non-null and contain no newline"
_JSON_PARTITIONS = 4  # fixed hash-partition count => deterministic blobs


def json_lines(df):
    """`df`'s rows as canonical JSON lines, one (value string) column
    ready for `publish`: hash-partitioned into a fixed count on the first
    column and sorted within each partition by every column, so each
    blob's bytes — and therefore its address — are a pure function of
    the rows, and a re-run publishes the same manifest."""
    return (df.repartition(_JSON_PARTITIONS, df.columns[0])
            .sortWithinPartitions(*df.columns)
            .select(F.to_json(F.struct(*df.columns)).alias("value")))


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
    return _publish(df, root, "MANIFEST")


def stream_publisher(root: str):
    """Streaming publish, as a `writeStream.foreachBatch` function: each
    micro-batch is published like `publish` and recorded as
    MANIFEST-<batchId>, so a stream into the store is an append-only
    chain of verifiable manifests (the continuous form of the
    reference's publish-results-per-job loop). A replayed batch keeps its
    batchId and, its rows being the same, re-publishes the same
    addresses: the replay is idempotent."""
    return lambda df, batch_id: _publish(df, root, f"MANIFEST-{batch_id}")


def _publish(df, root: str, pointer: str) -> str:
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
        _publish_pointer(root, pointer, addr)
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


def _verified_rows(files):
    """Map a `binaryFile` frame of blobs to (address, line_no, value)
    rows. The content is re-hashed against its 32-hex file name and a
    mismatch raises in the task; the check wraps the content every row is
    split from, so a projection that keeps only `address` (or a bare
    count) still runs it. Rows are split on `\\n` alone (U+2028, U+0085
    and form feed stay inside a row). An empty blob gives no rows because
    a file scan yields no row for a zero-byte file."""
    address = F.substring_index("path", "/", -1)
    checked = files.select(
        address.alias("address"),
        F.when(F.md5("content") == address, F.col("content"))
        .otherwise(F.raise_error(F.concat(
            F.lit("content integrity failure for "), address)))
        .alias("content"))
    lines = F.split(F.decode("content", "UTF-8"), "\n", -1)
    return checked.select("address",
                          F.posexplode(lines).alias("line_no", "value"))


def read_addresses(spark, root: str, addresses: list[str]):
    """Mount `addresses` of the store at `root` as verified rows — the
    PrepareStorage verb. Every address must exist before any job runs."""
    if not addresses:
        raise ValueError("contentstore read needs at least one address")
    missing = [a for a in addresses
               if not os.path.exists(os.path.join(root, a))]
    if missing:
        raise FileNotFoundError(
            f"addresses not in store {root!r}: {missing}")
    # a file scan yields no row for a zero-byte file, so a blob emptied
    # after it was pinned can only be caught here
    emptied = [a for a in addresses if a != _EMPTY_ADDRESS
               and not os.path.getsize(os.path.join(root, a))]
    if emptied:
        raise IOError(f"content integrity failure for {emptied}: empty")
    return _verified_rows(spark.read.format("binaryFile").load(
        [_literal(os.path.join(root, a)) for a in addresses]))


def read_root(spark, root: str):
    """Mount the blobs the last manifest of the store at `root` names, as
    verified rows (`read_addresses`) — the `get` verb over a published
    result. An empty manifest (a publish that kept no rows) reads as
    zero rows of the same schema."""
    _addr, entries = last_manifest(root)
    if entries:
        return read_addresses(spark, root, [a for a, _n in entries])
    return spark.range(0).select(F.lit("").alias("address"),
                                 F.lit(0).alias("line_no"),
                                 F.lit("").alias("value"))


def stream_addresses(spark, root: str):
    """Streaming mount: every blob newly pinned into `root` flows through
    once, as verified rows — the ingest-time analog of the reference's
    "new CID appears, run the job on it" loop. The file source's seen-file
    log is the offset; pointers, staging dirs and `.tmp.` debris are not
    32-hex names and are never read. A file scan yields no row for a
    zero-byte file, so a blob emptied after pinning is skipped here, not
    failed as in `read_addresses`."""
    # a store may be mounted before its first pin
    os.makedirs(root, exist_ok=True)
    return _verified_rows(
        spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", _ADDRESS_GLOB).load(_literal(root)))


def _literal(path: str) -> str:
    """Escape the glob characters Spark would expand in a read path."""
    return re.sub(r"([\\{}\[\]*?])", r"\\\1", path)


def store_put_json_rows(root: str, rows: list[dict]) -> str:
    """Serialize rows to canonical JSONL and store them; returns the
    address. The writer-side half of a round-trip test."""
    content = "\n".join(
        json.dumps(r, sort_keys=True) for r in rows).encode("utf-8")
    return store_put(root, content)
