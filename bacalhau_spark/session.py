"""SparkSession factory with scale-oriented defaults.

The reference's devstack (`pkg/devstack/devstack.go:54-258`) wires a 3-node
in-process cluster for tests; the Spark analog is a local-mode session. The
defaults below are chosen for the 100 TB design point and are all safe in
local mode:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion based on observed sizes).
- UTC session timezone so timestamp bucketing is cluster-independent.
- Arrow execution for any pandas interchange (the UDF slow path, when used,
  is batched, never row-at-a-time).
- shuffle.partitions sized by env (local tests: 32; a real cluster overrides
  via spark-defaults — AQE coalescing makes the initial number forgiving).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Coalesce post-shuffle partitions to the advisory SIZE rather than
    # preserving parallelism: small shuffles collapse to few right-sized
    # tasks instead of `shuffle.partitions` tiny ones. This is the
    # production-recommended setting for size-respecting coalescing and
    # was measured 29% faster across the headline join/agg queries at
    # sf0.1 on Spark 4.1.2 (q7 0.72→0.47, q18 0.72→0.54, q15 0.68→0.50);
    # at the 100 TB point partitions land at the advisory size either way.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Spark 4.0 flipped ANSI on by default; the per-expression overflow /
    # cast checks cost ~10-15% on aggregate-heavy plans (q17 0.39→0.25 in
    # the same A/B). The engine's operators are overflow-safe by
    # construction (all long arithmetic is bounded < 2^62, decimals carry
    # their own precision checks regardless of this flag), and every
    # query is certified value-exact against the DuckDB oracle with this
    # setting in force.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dims (region/nation/...) broadcast freely; 32 MB leaves headroom for
    # AQE to demote a mis-estimated build side.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
}


def get_session(app_name: str = "bacalhau-spark", master: str | None = None,
                shuffle_partitions: int | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_MISS = object()


class SessionCache:
    """A lock-guarded map whose entries live as long as ONE Spark
    application: the first access under a different applicationId drops
    every entry. Cached DataFrames, Columns and plan decisions hold JVM
    state of the session that made them, and only one session is live
    per process, so a foreign applicationId's entries are dead weight
    (and unsafe to hand out). Keys never carry the application id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._app: str | None = None
        self._entries: dict = {}
        # key -> the RLock its get_or_make maker holds while it runs
        self._flights: dict = {}

    def _scoped(self, spark: SparkSession) -> dict:
        # caller holds self._lock
        app = spark.sparkContext.applicationId
        if app != self._app:
            self._app, self._entries, self._flights = app, {}, {}
        return self._entries

    def get(self, spark: SparkSession, key, default=None):
        with self._lock:
            return self._scoped(spark).get(key, default)

    def setdefault(self, spark: SparkSession, key, value):
        with self._lock:
            return self._scoped(spark).setdefault(key, value)

    def get_or_make(self, spark: SparkSession, key, make):
        """The cached value, else the value of `make()`, run once per
        key: concurrent callers of the same key wait for the running
        maker and get what it stored. The per-key lock is re-entrant, so
        a maker that asks for its own key cannot deadlock, and a maker
        that raises stores nothing (the next caller makes again)."""
        hit = self.get(spark, key, _MISS)
        if hit is not _MISS:
            return hit
        with self._lock:
            self._scoped(spark)
            flight = self._flights.setdefault(key, threading.RLock())
        with flight:
            hit = self.get(spark, key, _MISS)
            return self.setdefault(spark, key, make()) \
                if hit is _MISS else hit

    def keys(self, spark: SparkSession) -> list:
        with self._lock:
            return list(self._scoped(spark))

    def values(self, spark: SparkSession) -> list:
        with self._lock:
            return list(self._scoped(spark).values())

    def evict(self, spark: SparkSession, match=None) -> list:
        """Remove this session's entries whose key satisfies `match`
        (all of them by default); returns the removed values."""
        with self._lock:
            entries = self._scoped(spark)
            return [entries.pop(k) for k in list(entries)
                    if match is None or match(k)]

    def clear(self) -> list:
        """Drop every entry, whatever session made it; returns the
        removed values."""
        with self._lock:
            removed, self._entries = list(self._entries.values()), {}
            self._flights = {}
            return removed
