"""Fixture-table catalog.

The reference mounts content-addressed inputs (CIDs) read-only into the
execution sandbox (`pkg/storage/ipfs_apicopy/storage.go:87-143`). The Spark
analog: immutable parquet paths loaded lazily — Catalyst prunes columns and
pushes predicates into the scan, which is the columnar restatement of the
reference's lazy FUSE mount (`pkg/storage/ipfs_fusedocker/storage.go:114`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bacalhau_spark.session import SessionCache

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# DataFrame handles are immutable lazy plans over read-only fixture paths, so
# they are safe to reuse across queries — this skips repeated file listing +
# parquet footer reads (the catalog/metastore role; statistics stay cached).
# The same session-scoped cache holds the events.ts dtype probe and
# spread_compute's partition-count probes. Engine workers call table() from
# parallel threads; SessionCache holds its own lock.
HANDLES = SessionCache()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one fixture table. The schema comes from the parquet
    footers (FIXTURES.md §2): the handle's first read per (session,
    sf_dir) runs one Spark job to infer it, and every later use of the
    cached handle, or of its schema (read_parts), runs none.

    events.ts is physically TIMESTAMP(NANOS) in the fixtures. Older Spark
    parquet readers reject it unless legacy nanosAsLong is set (read as raw
    nanos, rebuilt as a µs timestamp); Spark ≥4.1 reads it natively as a
    µs-truncated TIMESTAMP_NTZ and ignores that flag. Both paths normalize
    to TimestampType — the same floor-truncation DuckDB applies when
    normalizing ns→µs, so the oracle sees identical instants.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return HANDLES.get_or_make(spark, ("table", sf_dir, name),
                               lambda: _read_table(spark, sf_dir, name))


def read_parts(spark: SparkSession, sf_dir: str, name: str,
               paths: list[str]) -> DataFrame:
    """Some part files of table `name` under sf_dir (an appended epoch's
    new shards, or its parent's), read with the table handle's schema:
    the parts share the table's schema, and a read without one runs a
    Spark job to infer it from a footer. The events handle normalizes
    ts, so its parts keep inference."""
    reader = spark.read
    if name != "events":
        reader = reader.schema(table(spark, sf_dir, name).schema)
    return reader.parquet(*paths)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Probe FIRST: events_raw_ts_type sets the legacy nanosAsLong
        # conf as a side effect, and on Spark <4.1 the read below would
        # reject TIMESTAMP(NANOS) at schema inference without it.
        raw_type = events_raw_ts_type(spark, sf_dir)
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return normalize_events_ts(raw, raw_type)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_raw_ts_type(spark: SparkSession, sf_dir: str) -> str:
    """The raw parquet dtype of events.ts under THIS Spark build —
    'bigint' when the legacy nanosAsLong flag is honored (Spark <4.1),
    'timestamp_ntz' on native µs-truncated nanos reads (≥4.1). ONE
    cached probe per (session, dir): both the batch normalizer above
    and the stream source's declared schema branch on it, so the two
    planes cannot drift (the batch≡stream contract) and the footer
    probe isn't re-paid per streaming-query construction."""
    def probe() -> str:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return dict(spark.read.parquet(
            f"{sf_dir}/events.parquet").dtypes)["ts"]

    return HANDLES.get_or_make(spark, ("events_ts", sf_dir), probe)


def normalize_events_ts(df: DataFrame, raw_type: str) -> DataFrame:
    """ts → TimestampType from whichever raw form arrived — THE one
    statement of the ns→µs normalization rule (floor truncation,
    matching DuckDB's ns→µs), shared by the batch table and the
    readStream source."""
    if raw_type == "bigint":  # legacy raw-nanos read
        return df.withColumn("ts",
                             F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


# spread_compute's parallelism probe: df.rdd.getNumPartitions triggers full
# physical planning + RDD conversion per call — a needless constant cost on
# every text/dedup query. Keyed by the ANALYZED plan's semantic hash (not
# input files: an upstream repartition changes the count without changing
# the files), so re-running the same query shape pays the probe once per
# session.
def spread_compute(spark: SparkSession, df: DataFrame,
                   *keys: str) -> DataFrame:
    """Spread CPU-heavy per-row work across all cores when the SCAN's
    parallelism is below them. A parquet file splits only at row-group
    boundaries, so a single-row-group input pins every narrow stage after
    it (explodes, per-word hashing, array folds) to ONE task while the
    other cores idle. The exchange moves the raw rows once — worth it
    exactly when the downstream per-row CPU dwarfs the row bytes, which is
    the profile of the text/dedup operators that call this.

    Conditional on purpose: at corpus scale the scan already has ≥cores
    input splits and this is a no-op — an unconditional repartition would
    shuffle the whole corpus for nothing."""
    target = spark.sparkContext.defaultParallelism
    try:
        plan_hash = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # noqa: BLE001 — internal API; probe directly
        plan_hash = None
    if plan_hash is None:
        nparts = df.rdd.getNumPartitions()
    else:
        # the lambda matters: `df.rdd` itself is the costly conversion
        nparts = HANDLES.get_or_make(spark, ("npart", plan_hash),
                                     lambda: df.rdd.getNumPartitions())
    if nparts < target:
        return df.repartition(target, *keys) if keys \
            else df.repartition(target)
    return df
