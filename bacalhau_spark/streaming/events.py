"""Streaming over the events table: tumbling windows, watermarks, sessions.

The reference's only streaming surface is the heartbeat event plane
(`JobEventRunning`, `pkg/executor/constants.go:66-72`) consumed by polling
waiters (`cmd/bacalhau/docker_run.go:60-139`). The Spark-first engine
promotes it to Structured Streaming: readStream over the event log,
watermarked windowed aggregates, memory sinks. Q28's contract:
the streaming aggregate must equal the batch aggregate over the same data
(tested in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bacalhau_spark.catalog import table

# The fixture stores ts as TIMESTAMP(NANOS). Older Spark readers honor
# legacy nanosAsLong (raw-nanos bigint, rebuilt as a µs timestamp); Spark
# ≥4.1 reads nanos natively as a µs-truncated TIMESTAMP_NTZ and ignores the
# flag. The stream source must declare a schema, so probe the batch reader
# once per (session, dir) to pick the matching declaration — see catalog.py.
_EVENTS_SCHEMA_LEGACY = ("event_id bigint, ts bigint, user_id bigint, "
                         "event_type string, value double, props string")
_EVENTS_SCHEMA_NATIVE = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
                         "event_type string, value double, props string")


def q28_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window aggregate (Q28), batch form. Epoch-aligned
    buckets (session TZ pinned UTC) so the oracle's time_bucket matches."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 3).alias("s"))
        .select(F.col("w.start").alias("ws"), "event_type", "c", "s")
        .orderBy("ws", "event_type")
    )


# State-store sizing for the FINITE fixture runs: a stateful streaming
# query materializes one state-store instance per shuffle partition per
# micro-batch; at fixture scale the state is kilobytes, so 32 instances
# are pure commit/snapshot overhead (A/B: the stream-stream join dropped
# 6.0s -> 2.0s at 4 partitions, identical rows). This is the same
# deployment knob a real job sizes to its key cardinality — NOT a
# correctness setting; results are partitioning-invariant (append/complete
# rows are compared order-insensitively). The runner scopes the conf to
# the query's start and restores the session value after.
STREAM_STATE_PARTITIONS = 4

import atexit  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import threading  # noqa: E402
import uuid  # noqa: E402
from contextlib import contextmanager  # noqa: E402

# serializes the set -> start -> restore window below: the conf is
# SESSION-global, so two engine worker threads interleaving get/set
# could capture the other's temporary 4 as "prev" and pin the session
# at 4 shuffle partitions forever
_STATE_CONF_LOCK = threading.Lock()


@contextmanager
def _stream_state_conf(spark: SparkSession):
    key = "spark.sql.shuffle.partitions"
    with _STATE_CONF_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, str(STREAM_STATE_PARTITIONS))
        try:
            yield
        finally:
            spark.conf.set(key, prev)


# Ephemeral checkpoint base for the availableNow memory-sink runs: with
# no explicit checkpointLocation Spark creates a force-deleted temp dir
# under java.io.tmpdir — often a journaled filesystem, so every
# offsets/commit/state write pays a sync. The WAL of a FINITE
# availableNow replay whose sink is in-memory has no durability contract
# (Spark itself deletes it on stop), so it goes on tmpfs when one
# exists: measured 0.81 -> 0.63 s on the tumbling aggregate and
# 0.58 -> 0.50 s on a stateless projection, identical results
# (experiments/stream_floor_r15.txt). Parameterized for deployments (a
# durable pipeline — sources/versioned.py — sets its own
# checkpointLocation explicitly and never routes through here); unset
# SPARK_GRAFT_STREAM_CKPT_DIR with no /dev/shm falls back to Spark's
# default temp-dir behavior. A FRESH unique dir per run keeps the
# no-resume semantics of Spark's temp checkpoints — results cannot
# depend on a previous run's offsets — and _run_to_memory removes it.
# A run still blocked in its await when the process exits keeps its
# dir until then, when _sweep_checkpoints removes whatever this process
# left.
_STREAM_CKPT_BASE = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR") or (
    "/dev/shm" if os.path.isdir("/dev/shm") else None)
_LIVE_CKPTS: set[str] = set()


@atexit.register
def _sweep_checkpoints() -> None:
    for d in list(_LIVE_CKPTS):
        shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(spark: SparkSession, frame: DataFrame, mode: str,
                   timeout: int = 120) -> DataFrame:
    """Run a finite streaming frame to completion (availableNow) into a
    memory sink and return the sink's rows as a batch frame — THE one
    start/await/read path of every memory-sink stream row.

    The sink is named per run, so concurrent runs of one row never
    collide on Spark's one-active-query-per-name rule, and its temp view
    is dropped before returning: the returned frame's analyzed plan
    holds the sink itself, not the name, so it stays readable while the
    catalog keeps nothing. A run that does not finish within `timeout`
    raises instead of returning: stopping a query mid-batch and reading
    its sink would serve a silently truncated result. Start, await and
    cleanup share one try/finally, so no path leaks the query, its
    checkpoint dir or its view."""
    name = f"stream_{uuid.uuid4().hex}"
    writer = (frame.writeStream.format("memory").queryName(name)
              .outputMode(mode).trigger(availableNow=True))
    ckpt = None
    if _STREAM_CKPT_BASE:
        ckpt = os.path.join(_STREAM_CKPT_BASE, f"bacalhau-stream-ckpt-{name}")
        _LIVE_CKPTS.add(ckpt)
        writer = writer.option("checkpointLocation", ckpt)
    q = None
    try:
        # the state-partition conf is captured at analysis time, so
        # scoping it around start() is sufficient
        with _stream_state_conf(spark):
            q = writer.start()
        if not q.awaitTermination(timeout):
            raise TimeoutError(f"stream did not finish within {timeout}s")
        return spark.table(name)
    finally:
        if q is not None:
            q.stop()
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
            _LIVE_CKPTS.discard(ckpt)
        spark.catalog.dropTempView(name)


def stream_tumbling_window(spark: SparkSession, sf_dir: str,
                           watermark: str = "2 hours") -> DataFrame:
    """The same aggregate through readStream (file source) with a watermark.
    Late rows beyond the watermark are dropped — the policy surface the
    batch query doesn't need. Returns the streaming DataFrame; callers
    attach a sink (tests use a memory sink in complete mode)."""
    stream = _event_stream(spark, sf_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 3).alias("s"))
        .select(F.col("w.start").alias("ws"), "event_type", "c", "s")
    )


def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window batch aggregate (1 h window, 30 min slide) — each event
    lands in two windows."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(F.col("w.start").alias("ws"), "event_type", "c")
        .orderBy("ws", "event_type")
    )


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the event-log dir. The file stream source
    monitors a *directory*; the fixture is a single file, so stream the
    parent dir with a glob (the production shape is an append-only
    event-log directory anyway). The declared schema must match what
    THIS Spark's parquet reader produces for TIMESTAMP(NANOS) — the
    probe AND the normalization rule are catalog.py's (one cached probe
    per session, one statement of the ns→µs rule, so the stream side
    can never drift from the batch side it is graded equal to)."""
    from bacalhau_spark.catalog import (events_raw_ts_type,
                                        normalize_events_ts)

    raw_type = events_raw_ts_type(spark, sf_dir)
    schema = (_EVENTS_SCHEMA_LEGACY if raw_type == "bigint"
              else _EVENTS_SCHEMA_NATIVE)
    return normalize_events_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir), raw_type)


def stream_session_window(spark: SparkSession, sf_dir: str,
                          gap: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming session windows: per-user sessions closed by a `gap` of
    silence, finalized once the watermark passes. State per open session is
    O(1) (count + bounds), keyed by (user, session) — the scale path for
    billions of users is exactly this keyed state store."""
    stream = _event_stream(spark, sf_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id",
                F.col("session_window.start").alias("s_start"),
                F.col("session_window.end").alias("s_end"),
                "n")
    )


STATE_SCHEMA = "n bigint, total double, last_type string, last_event_id bigint"
STATEFUL_OUT_SCHEMA = ("user_id bigint, n bigint, total double, "
                       "last_type string")


def stateful_user_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running fold of (event count, value total, last event type by event_id) —
    the reference's per-(job,node) state-machine fold
    (`pkg/executor/constants.go:211-250`, `pkg/job/job.go:233-259`) restated
    as keyed streaming state. State is O(1) per key; each micro-batch emits
    the key's updated state (update mode)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdf_iter, state):
        # Self-contained closure: imports inside so cloudpickle ships it by
        # value and workers never import this module.
        import pandas as _pd

        n, total, last_type, last_id = (
            state.get if state.exists else (0, 0.0, None, -1))
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            top = pdf.loc[pdf["event_id"].idxmax()]
            if int(top["event_id"]) > last_id:
                last_id = int(top["event_id"])
                last_type = str(top["event_type"])
        state.update((n, total, last_type, last_id))
        yield _pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total],
                             "last_type": [last_type]})

    stream = _event_stream(spark, sf_dir)
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(fold, STATEFUL_OUT_SCHEMA, STATE_SCHEMA,
                                "update", GroupStateTimeout.NoTimeout)
    )


def stream_stream_join(spark: SparkSession, sf_dir: str,
                       watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same user's
    clicks within the following hour. Both sides carry watermarks and the
    join condition bounds event time on both ends, so Spark can expire join
    state — the requirement that makes stream-stream joins feasible at all
    (unbounded state otherwise). Batch-equivalence tested."""
    purchases = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"))
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr("user_id = c_user AND c_ts >= p_ts "
               "AND c_ts <= p_ts + INTERVAL 1 HOUR"),
    ).select("user_id", "p_id", "c_id")


def batch_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of stream_stream_join (the equivalence oracle)."""
    events = table(spark, sf_dir, "events")
    p = (events.where(F.col("event_type") == "purchase")
         .select("user_id", F.col("ts").alias("p_ts"),
                 F.col("event_id").alias("p_id")))
    c = (events.where(F.col("event_type") == "click")
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts"),
                 F.col("event_id").alias("c_id")))
    return p.join(
        c, F.expr("user_id = c_user AND c_ts >= p_ts "
                  "AND c_ts <= p_ts + INTERVAL 1 HOUR"),
    ).select("user_id", "p_id", "c_id")


def nd_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (purchase -> click within
    1h), append mode. The pair SET is deterministic (its order is not;
    the gate hashes order-insensitively)."""
    return _run_to_memory(spark, stream_stream_join(spark, sf_dir), "append")


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the static
    customer dimension (broadcast — re-read per micro-batch, so dim updates
    are picked up). The standard enrichment topology: no stream state at
    all, the static side never blocks the watermark."""
    dim = (table(spark, sf_dir, "customer")
           .select("c_custkey", "c_mktsegment"))
    return (
        _event_stream(spark, sf_dir)
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


def nd_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (events stream x customer dim),
    counts per segment. They must equal the batch join's."""
    return (_run_to_memory(spark, stream_static_join(spark, sf_dir),
                           "complete")
            .orderBy("c_mktsegment"))


def stream_dedup(spark: SparkSession, sf_dir: str,
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: first occurrence per (user_id, event_type)
    within the watermark horizon survives. dropDuplicates on a stream keys
    the state store by the dedup columns; the watermark bounds state (keys
    older than the horizon are evicted) — unbounded-state dedup is the
    classic streaming-pipeline OOM, this is the bounded form."""
    return (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id")
    )


def nd_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates; the registry row gates on the
    deterministic deduped key set. First-arrival order inside a batch
    decides which duplicate's event_id survives — engine-specific by
    design (exercised in tests/test_streaming.py) — so the row projects
    the keys and re-sorts after the sink (the sessions/stateful
    recipe)."""
    return (_run_to_memory(spark, stream_dedup(spark, sf_dir), "append")
            .select("user_id", "event_type")
            .orderBy("user_id", "event_type"))


def nd_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q28 aggregate executed THROUGH Structured Streaming end-to-end
    (readStream file source → watermark → windowed agg → memory sink,
    availableNow) and returned as the materialized result — so the
    streaming plane gets a hard oracle-hashed driver row, not just the
    local batch≡stream equivalence test. With the finite fixture in one
    micro-batch nothing is late, so the result must equal the batch
    aggregate exactly."""
    return (_run_to_memory(spark, stream_tumbling_window(spark, sf_dir),
                           "complete")
            .orderBy("ws", "event_type"))


def nd_stream_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: the Gopher quality gates
    (operators.curation.gopher_flags_frame) applied THROUGH a readStream
    file source in append mode and materialized — per-row mappers are
    deterministic under streaming (no aggregation state, no watermark,
    no batch-order dependence), so unlike the windowed/stateful surfaces
    this streaming query carries a full value-hash oracle. This is the
    ingest-time shape of a curation pipeline: documents stream in, flags
    stream out, the same expression tree as the batch query."""
    from bacalhau_spark.operators.curation import gopher_flags_frame
    return (_run_to_memory(
        spark, gopher_flags_frame(_doc_stream(spark, sf_dir)), "append")
        .orderBy("doc_id"))


def nd_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization, oracle-gated: the finite fixture is one
    parquet file, so availableNow processes it as a single micro-batch and
    the complete-mode session table must equal the batch session_window
    exactly (bounds included — end = last ts + gap; proven by
    tests/test_streaming.py::test_stream_session_equals_batch). The final
    orderBy re-sorts the memory sink's engine-ordered rows, so the output
    is batch-order independent and shares nd_sessionize's oracle."""
    return (_run_to_memory(spark, stream_session_window(spark, sf_dir),
                           "complete")
            .orderBy("user_id", "s_start"))


def nd_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful fold, oracle-gated: n / last_type are exact; `total` is a
    float fold whose accumulation order is engine-specific, so it is
    rounded to 3 decimals on both sides — the q28 convention (fixture
    values carry ≤3 decimals, so every per-user sum sits maximally far
    from a rounding boundary; verified at sf0.01). Update-mode re-emits a
    key's row each micro-batch; the max-n row per user is the final state
    (n is monotone), making the result multi-batch-safe even though the
    single-file fixture runs as one batch."""
    raw = (_run_to_memory(spark, stateful_user_fold(spark, sf_dir),
                          "update")
           .orderBy("user_id"))
    win = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (raw.withColumn("_rn", F.row_number().over(win))
            .where(F.col("_rn") == 1)
            .select("user_id", "n", F.round("total", 3).alias("total"),
                    "last_type")
            .orderBy("user_id"))


def _doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a file-stream source (glob: the file-stream source
    requires a directory or glob and the fixture is a single file).
    Separate from _event_stream so tests can swap in a split/paced
    fixture to grade across real micro-batch boundaries."""
    schema = table(spark, sf_dir, "documents").schema
    return (spark.readStream.schema(schema)
            .parquet(f"{sf_dir}/documents.parqu*"))


def nd_stream_url_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl front door at ingest: URL canonicalization + the
    broadcast domain-blocklist verdict applied THROUGH a readStream file
    source in append mode — per-row regexp chain + a broadcast probe,
    both stateless, so micro-batch boundaries are invisible and this
    streaming surface carries a full value-hash oracle (the
    nd_stream_gopher convention). Emits per-doc
    (doc_id, canon, domain, blocked) — the decision a fetch frontier
    consumes before anything is downloaded."""
    from bacalhau_spark.operators.web import (_url_expr, blocked_frame,
                                              url_canonicalize_frame)

    src = _doc_stream(spark, sf_dir).select(
        "doc_id", "source", _url_expr().alias("url"))
    canon = url_canonicalize_frame(src)
    blocked = blocked_frame(spark)
    out = (canon.join(F.broadcast(blocked), "domain", "left")
           .select("doc_id", "canon", "domain",
                   F.coalesce("blk", F.lit(0)).cast("int")
                   .alias("blocked")))
    return _run_to_memory(spark, out, "append").orderBy("doc_id")


def _stream_url_oracle() -> str:
    from bacalhau_spark.operators.web import _BLOCK_LIST_SQL, _CANON_SQL
    return f"""
WITH {_CANON_SQL},
blocked(domain) AS (VALUES {_BLOCK_LIST_SQL})
SELECT doc_id, canon, domain,
       CAST(domain IN (SELECT domain FROM blocked) AS INTEGER) AS blocked
FROM canon ORDER BY doc_id
"""


def nd_stream_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl front door, stages composed: URL canonicalize -> domain
    blocklist -> HTML -> text extraction, all THROUGH one readStream
    source in append mode. Every stage is a stateless per-row regexp
    chain or a broadcast probe, so micro-batch boundaries are invisible
    and the composition carries a full value-hash oracle. Emits
    (doc_id, domain, title, content) for the documents a fetch pipeline
    would actually hand to the quality gates — blocked domains never
    reach the extractor (filter BEFORE the expensive stage, the same
    ordering a production frontier uses)."""
    from bacalhau_spark.operators.web import (_html_expr, _url_expr,
                                              blocked_frame,
                                              html_extract_frame,
                                              url_canonicalize_frame)

    src = _doc_stream(spark, sf_dir).select(
        "doc_id", "source", "text", _url_expr().alias("url"))
    canon = url_canonicalize_frame(src)
    blocked = blocked_frame(spark)
    survivors = (canon.join(F.broadcast(blocked), "domain", "left")
                 .where(F.col("blk").isNull())
                 .select("doc_id", "source", "text", "domain",
                         _html_expr().alias("html")))
    out = html_extract_frame(survivors).select(
        "doc_id", "domain", "title", "content")
    return _run_to_memory(spark, out, "append").orderBy("doc_id")


def _stream_html_oracle() -> str:
    from bacalhau_spark.operators.web import (_BLOCK_LIST_SQL, _CANON_SQL,
                                              _HTML_SQL, _html_content_sql)
    return f"""
WITH {_CANON_SQL},
blocked(domain) AS (VALUES {_BLOCK_LIST_SQL}),
surv AS (SELECT c.doc_id, c.domain, d.source, d.text
         FROM canon c JOIN documents d ON c.doc_id = d.doc_id
         WHERE c.domain NOT IN (SELECT domain FROM blocked)),
pages AS (SELECT doc_id, domain, {_HTML_SQL} AS html FROM surv)
SELECT doc_id, domain,
       regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
       {_html_content_sql('html')} AS content
FROM pages ORDER BY doc_id
"""


def _stream_phash_screen(spark: SparkSession, sf_dir: str, *,
                         frame_fn, index_fn) -> DataFrame:
    """Streaming near-dup ingest screen, generic over the perceptual-
    hash modality (image/audio/video): streamed re-uploads (the %5==4
    slice re-ingested under new ids) get per-row bands statelessly via
    the modality's own frame builder (the code the batch index is built
    with), probe the buckets within the cap of the persisted corpus
    index, and every candidate is verified with the exact xor+bit_count
    Hamming — per streamed item: (doc_id, n_cands, min_hamming). min and
    count are associative, so the complete-mode aggregate is the only
    streaming state."""
    from bacalhau_spark.operators.buckets import band_cols, bands, live_keys

    src = _doc_stream(spark, sf_dir).where(F.col("doc_id") % 5 == 4)
    # bands derive from the ORIGINAL doc_id (the re-upload carries the
    # same payload), then the stream relabels under the ingest id space
    qhash = (frame_fn(src.select("doc_id"))
             .withColumn("orig", F.col("doc_id"))
             .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    bcols = band_cols(qhash)
    corpus = index_fn(spark, sf_dir)
    ce = bands(corpus).withColumnRenamed("doc_id", "nn")
    ce = ce.join(live_keys(ce, "bi", "bkey"), ["bi", "bkey"])
    cand = (bands(qhash, "orig", *bcols).join(ce, ["bi", "bkey"])
            .where(F.col("nn") != F.col("orig"))
            .select("doc_id", "orig", "nn",
                    *[F.col(b).alias(f"q{b}") for b in bcols])
            .distinct())
    ham = sum(F.expr(f"bit_count(q{b} ^ {b})") for b in bcols)
    verified = (cand.join(corpus.withColumnsRenamed(
        {"doc_id": "nn"}), "nn")
        .select("doc_id", ham.cast("long").alias("hamming")))
    out = (verified.groupBy("doc_id")
           .agg(F.count("*").cast("long").alias("n_cands"),
                F.min("hamming").cast("long").alias("min_hamming")))
    return (_run_to_memory(spark, out, "complete", timeout=180)
            .orderBy("doc_id"))


def _stream_phash_screen_oracle(h_cte: str, n_bands: int,
                                cap: int) -> str:
    """The ingest screen in DuckDB, generic over the modality: `h_cte`
    supplies the hash table (the SAME fragment the batch pair oracle
    uses), the rest replays bucket-cap, band-probe and exact-Hamming
    verification."""
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS bi, b{i} AS v FROM h"
        for i in range(n_bands))
    ham = " + ".join(
        f"CAST(bit_count(xor(q.b{i}, c.b{i})) AS BIGINT)"
        for i in range(n_bands))
    return f"""
WITH {h_cte},
ex AS ({unions}),
hot AS (SELECT bi, v FROM (SELECT bi, v, COUNT(*) AS n FROM ex
        GROUP BY bi, v) t WHERE n <= {cap}),
ce AS (SELECT ex.doc_id AS nn, ex.bi, ex.v FROM ex JOIN hot USING (bi, v)),
qs AS (SELECT doc_id AS orig, doc_id + 1000000 AS doc_id
       FROM documents WHERE doc_id % 5 = 4),
qe AS (SELECT q.doc_id, q.orig, ex.bi, ex.v
       FROM qs q JOIN ex ON ex.doc_id = q.orig),
cand AS (SELECT DISTINCT qe.doc_id, qe.orig, ce.nn
         FROM qe JOIN ce ON qe.bi = ce.bi AND qe.v = ce.v
         WHERE ce.nn <> qe.orig)
SELECT cand.doc_id, CAST(COUNT(*) AS BIGINT) AS n_cands,
       CAST(MIN({ham}) AS BIGINT) AS min_hamming
FROM cand JOIN h q ON q.doc_id = cand.orig
          JOIN h c ON c.doc_id = cand.nn
GROUP BY cand.doc_id ORDER BY cand.doc_id
"""


def nd_stream_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IMAGE near-dup ingest screen (see
    _stream_phash_screen). Shares a full value-hash oracle."""
    from bacalhau_spark.operators.multimodal import phash_frame, phash_index

    return _stream_phash_screen(
        spark, sf_dir, frame_fn=phash_frame, index_fn=phash_index)


def _stream_image_phash_oracle() -> str:
    from bacalhau_spark.operators.buckets import BUCKET_CAP
    from bacalhau_spark.operators.multimodal import _phash_h_cte
    return _stream_phash_screen_oracle(_phash_h_cte(), 4, BUCKET_CAP)


def nd_stream_audio_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming AUDIO near-dup ingest screen — the envelope dHash
    (nd_audio_phash) at ingest (see _stream_phash_screen). Shares a
    full value-hash oracle."""
    from bacalhau_spark.operators.multimodal import (audio_phash_frame,
                                                     audio_phash_index)

    return _stream_phash_screen(
        spark, sf_dir, frame_fn=audio_phash_frame,
        index_fn=audio_phash_index)


def _stream_audio_phash_oracle() -> str:
    from bacalhau_spark.operators.buckets import BUCKET_CAP
    from bacalhau_spark.operators.multimodal import _aphash_h_cte
    return _stream_phash_screen_oracle(_aphash_h_cte(), 4, BUCKET_CAP)


def nd_stream_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming VIDEO near-dup ingest screen — the frame-sampled,
    time-aligned 16-band signature (nd_video_phash) at ingest (see
    _stream_phash_screen). Shares a full value-hash oracle."""
    from bacalhau_spark.operators.multimodal import (video_phash_frame,
                                                     video_phash_index)

    return _stream_phash_screen(
        spark, sf_dir, frame_fn=video_phash_frame,
        index_fn=video_phash_index)


def _stream_video_phash_oracle() -> str:
    from bacalhau_spark.operators.buckets import BUCKET_CAP
    from bacalhau_spark.operators.multimodal import (VPHASH_NBANDS,
                                                     _vphash_h_cte)
    return _stream_phash_screen_oracle(_vphash_h_cte(), VPHASH_NBANDS,
                                       BUCKET_CAP)


def nd_stream_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEARNED quality filter at ingest: weights are fit once on the
    static corpus (bounded driver-side training — curation.
    fit_quality_weights), then every streamed document is scored with
    those weights as literals in append mode — the train-offline /
    score-online split every production quality classifier deploys as.
    Like nd_stream_gopher, the scorer is a stateless per-row mapper
    (deterministic under streaming, no watermark, no batch-order
    dependence), so this streaming surface shares the batch twin's FULL
    value-hash oracle — including the unrolled-CTE training replay; a
    2-file micro-batch split is graded equal in tests/test_streaming."""
    from bacalhau_spark.operators.curation import (fit_quality_weights,
                                                   quality_score_frame)

    w = fit_quality_weights(spark, sf_dir)
    scored = quality_score_frame(
        _doc_stream(spark, sf_dir).select("doc_id", "text"), w)
    return _run_to_memory(spark, scored, "append").orderBy("doc_id")


def nd_stream_incremental_dedup(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Streaming incremental-ingest dedup screen: new documents stream in
    (the nd_incremental_dedup batch synthesis — genuinely-fresh docs plus
    re-crawls — expressed as filters over the readStream source) and each
    is flagged is_new by a STREAM-STATIC left join against the persisted
    corpus fingerprint index. Per-row hashing + a static-side join carry
    no aggregation state, no watermark, and no batch-order dependence, so
    like nd_stream_gopher this streaming surface takes a full value-hash
    oracle in append mode.

    Scale shape: the production ingest loop — the corpus index is built
    ONCE as a batch frame (DISTINCT 16-byte fingerprints) and every
    micro-batch probes it; the stream side never carries text past the
    md5 projection. The static side broadcasts here (fixture-sized); at
    100 TB the same plan degrades to the shuffled stream-static join
    without code changes (no hint, stats-driven — the
    nd_incremental_minhash convention).

    Reference intent: the recurring-ingest loop of pkg/requesternode (new
    CID appears → job screens it), as a continuous query."""
    src = _doc_stream(spark, sf_dir)
    fresh = (src.where(F.col("doc_id") % 5 == 4)
             .select("doc_id", F.md5("text").alias("fp")))
    recrawl = (src.where(F.col("doc_id") % 10 == 1)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                       F.md5("text").alias("fp")))
    batch = fresh.unionByName(recrawl)
    corpus = (table(spark, sf_dir, "documents")
              .where(F.col("doc_id") % 5 != 4)
              .select(F.md5("text").alias("cfp")).distinct())
    flagged = (batch.join(corpus, batch.fp == corpus.cfp, "left")
               .select("doc_id", "fp",
                       F.col("cfp").isNull().alias("is_new")))
    return _run_to_memory(spark, flagged, "append").orderBy("doc_id")


def nd_stream_band_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup ingest screen — nd_incremental_minhash's batch
    as a continuous query: streamed documents (fresh %5==4 docs +
    edited %10==1 re-crawls) get per-ROW minhash signatures
    (dedup._mh_sig_row_cols, the stateless in-row twin of the grouped
    fold) whose folded band keys probe the static corpus buckets within
    the cap; bands_hit per doc aggregates in complete mode, the only
    streaming state. Shares the batch twin's full value-hash oracle."""
    from bacalhau_spark.functions import words
    from bacalhau_spark.operators.buckets import bands, live_keys
    from bacalhau_spark.operators.dedup import (MH_SHINGLE_N,
                                                _band_key_exprs,
                                                _band_keys,
                                                _mh_sig_row_cols,
                                                _rolling_shingle_keys,
                                                _word_hashes,
                                                minhash_signature_index)

    src = _doc_stream(spark, sf_dir)
    fresh = (src.where(F.col("doc_id") % 5 == 4)
             .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                     "text"))
    recrawl = (src.where(F.col("doc_id") % 10 == 1)
               .select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                       F.concat(F.col("text"),
                                F.lit(" nearvariant edit")).alias("text")))
    batch = fresh.unionByName(recrawl)
    # Short docs are dropped on the CHEAP equivalent predicate (a doc
    # has shingles iff it has >= MH_SHINGLE_N words; _word_hashes is
    # size-preserving) placed BEFORE the hash projections. Filtering
    # `size(sk) > 0` AFTER them instead lets predicate pushdown inline
    # the ENTIRE rolling-shingle expression into the scan filter with
    # _word_hashes re-inlined per window term — the documented 50x HOF
    # re-evaluation trap, arriving via the optimizer (19.4 s -> ~1 s for
    # the whole screen at sf0.1).
    batch = batch.where(F.size(words("text")) >= MH_SHINGLE_N)
    wh = batch.select("doc_id", _word_hashes(F.col("text")).alias("wh"))
    sk = wh.select("doc_id",
                   _rolling_shingle_keys(F.col("wh")).alias("sk"))
    sig = sk.select("doc_id", *_mh_sig_row_cols())
    # array_distinct in-row replaces the batch twin's (doc, bkey)
    # DISTINCT — cross-band key collisions only arise within one doc's
    # own bands, so the per-row dedup is exact and stateless
    keys = sig.select(
        "doc_id",
        F.explode(F.array_distinct(F.array(*_band_key_exprs())))
        .alias("bkey"))
    corpus = live_keys(bands(_band_keys(
        minhash_signature_index(spark, sf_dir)
        .where(F.col("doc_id") % 5 != 4))), "bkey")
    hits = (keys.join(corpus, "bkey")
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("bands_hit")))
    return (_run_to_memory(spark, hits, "complete", timeout=180)
            .orderBy("doc_id"))


def _emb_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings as a file-stream source (the _doc_stream convention:
    glob over the single fixture file; tests swap in a split fixture to
    grade across real micro-batch boundaries)."""
    schema = table(spark, sf_dir, "embeddings").schema
    return (spark.readStream.schema(schema)
            .parquet(f"{sf_dir}/embeddings.parqu*"))


def nd_stream_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-TIME similarity search over the PUBLISHED IVF index — the
    streaming twin of nd_ann_ivf, sharing its FULL value-hash oracle
    (_ANN_IVF_ORACLE): streamed query vectors (the same vec_id < 20
    slice the batch row probes) rank their NPROBE cells IN-ROW against
    the literal quantizer (_probe_cells_expr — a pure projection, so it
    is stream-safe by construction), probe the STATIC inverted file
    (ivf_vectors_index; a stateless stream-static equi join on cell
    id), and re-rank with the bit-identical cosine fold. Top-3 per
    query is a complete-mode collect_list + array_sort on (-cos, nn) —
    double negation is exact, and the struct sort is the same total
    order the batch twin's ranking window uses, so ties land
    identically.

    Scale shape: the online-serving read of the ANN plane — the index
    is built once per epoch (the ingest pipeline), each micro-batch of
    queries carries only (id, vector), the probe never scans outside
    the joined cells, and the only streaming state is the per-query
    top list (K rows per query id). Each query's candidates arrive in
    the batch the query does, so micro-batch boundaries are invisible
    (pinned in tests/test_streaming.py across a real split)."""
    from bacalhau_spark.functions import cosine
    from bacalhau_spark.operators.similarity import (NPROBE, _coarse_rows,
                                                     _probe_cells_expr,
                                                     ivf_vectors_index)

    src = _emb_stream(spark, sf_dir)
    q = (src.where(F.col("vec_id") < 20)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_emb"),
                 F.explode(_probe_cells_expr(
                     _coarse_rows(spark, sf_dir), NPROBE))
                 .alias("cluster")))
    cand = ivf_vectors_index(spark, sf_dir).select(
        F.col("vec_id").alias("nn"), "cluster",
        F.col("embedding").alias("c_emb"))
    cos = cosine(F.col("q_emb"), F.col("c_emb"))
    scored = (q.join(cand, "cluster")
              .where(F.col("q_id") != F.col("nn"))
              .select("q_id", "nn", cos.alias("cos")))
    # the struct carries the ORIGINAL cos alongside the negated sort
    # key: re-negating would flip a 0.0 to -0.0 (different hash bits);
    # (negcos, nn) alone decides the order — nn is unique per query
    top = (scored.groupBy("q_id")
           .agg(F.slice(F.array_sort(F.collect_list(F.struct(
               (-F.col("cos")).alias("negcos"),
               F.col("nn").alias("nn"),
               F.col("cos").alias("cos")))), 1, 3).alias("t")))
    out = (top.select(F.col("q_id").alias("vec_id"),
                      F.posexplode("t").alias("pos", "s"))
           .select("vec_id",
                   (F.col("pos") + 1).cast("int").alias("rank"),
                   F.col("s.nn").alias("nn"),
                   F.col("s.cos").alias("cos")))
    return (_run_to_memory(spark, out, "complete", timeout=180)
            .orderBy("vec_id", "rank"))


_STREAM_INCR_ORACLE = """
WITH batch AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 4
  UNION ALL
  SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 10 = 1),
corpus AS (SELECT DISTINCT md5(text) AS cfp FROM documents
           WHERE doc_id % 5 <> 4)
SELECT b.doc_id, b.fp, c.cfp IS NULL AS is_new
FROM batch b LEFT JOIN corpus c ON b.fp = c.cfp
ORDER BY doc_id
"""


from bacalhau_spark.operators.curation import (_GOPHER_ORACLE,  # noqa: E402
                                               _quality_model_oracle)
from bacalhau_spark.operators.dedup import \
    _INCREMENTAL_MH_ORACLE as _STREAM_BAND_SCREEN_ORACLE  # noqa: E402
from bacalhau_spark.operators.similarity import \
    _ANN_IVF_ORACLE as _STREAM_ANN_ORACLE  # noqa: E402
from bacalhau_spark.operators.pipeline import \
    _EWMA_ORACLE as _STREAM_EWMA_ORACLE  # noqa: E402
from bacalhau_spark.operators.aggregates import (  # noqa: E402
    hll_estimate_oracle)

# The streaming HLL oracle mirrors nd_hll_distinct's, keyed by the
# 6-hour bucket (time_bucket and Spark's window() both align 6-hour
# buckets to the epoch, so the keys agree) over md5'd user ids. The
# register build skips the distinct: MAX over duplicate fingerprints
# equals MAX over the distinct set.
_STREAM_HLL_ORACLE = hll_estimate_oracle(
    "window_start",
    "fps AS (SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, "
    "CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) "
    "AS BIGINT) AS fp FROM events)",
    "truth AS (SELECT time_bucket(INTERVAL '6 hours', ts) "
    "AS window_start, COUNT(DISTINCT user_id) AS n_true "
    "FROM events GROUP BY window_start)")
from bacalhau_spark.operators.windows import QUERIES as _WIN_QUERIES  # noqa: E402

_SESSIONIZE_ORACLE = _WIN_QUERIES["nd_sessionize"][1]

TOPK_K = 10


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k leaderboard: per-user running totals with sort +
    limit ON the stream — legal only after an aggregation in complete
    output mode, which is exactly this shape (the leaderboard the
    requester's /metrics endpoint would serve live). State is one row
    per user in the aggregation store; the sort+limit runs over the
    aggregate's output each trigger, never over raw events.

    Totals accumulate in exact integer milli-units (fixture values carry
    ≤3 decimals; one multiply+round per row is cross-engine identical —
    the nd_stream_stateful convention, moved from output-rounding into
    the accumulator), so the ranking has no float-accumulation
    nondeterminism and the top-k SET equals the batch oracle's exactly;
    user_id breaks exact-total ties deterministically."""
    mv = F.expr("CAST(ROUND(value * 1000) AS BIGINT)")
    return (
        _event_stream(spark, sf_dir)
        .select("user_id", mv.alias("mv"))
        .groupBy("user_id")
        .agg(F.sum("mv").alias("total_mv"), F.count("*").alias("n"))
        .orderBy(F.col("total_mv").desc(), "user_id")
        .limit(TOPK_K)
    )


def nd_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k, oracle-gated: integer accumulation makes the
    set + ordering deterministic (see stream_topk); the one double in
    the output is a single int/1000.0 division, bit-identical across
    engines."""
    return (_run_to_memory(spark, stream_topk(spark, sf_dir), "complete")
            .select("user_id", "n", "total_mv",
                    (F.col("total_mv") / F.lit(1000.0)).alias("total"))
            .orderBy(F.col("total_mv").desc(), "user_id"))


_TOPK_ORACLE = f"""
SELECT user_id, n, total_mv, total_mv / 1000.0 AS total FROM (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT)
         AS total_mv,
         COUNT(*) AS n
  FROM events GROUP BY user_id) t
ORDER BY total_mv DESC, user_id LIMIT {TOPK_K}
"""


def ewma_user_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of [[nd_ewma_smooth]]: the per-user alpha=1/2 EWMA
    as keyed streaming state (applyInPandasWithState) — running
    (ewma_milli, n) per user instead of the batch form's collected
    history, which is exactly why the streaming form exists: O(1) state
    per key where the batch fold holds the whole history.

    Exactness contract, same as the batch twin: values quantize to
    integer milli-units IN SPARK EXPRESSIONS before the Python fold
    (per-row ROUND is portable; Python's round() is banker's and is
    never used), the fold is (acc + v) // 2 over (ts, event_id) order —
    Python // == Spark DIV on this nonnegative domain (fixture values
    are positive; documented precondition) — and in-order arrival per
    key across micro-batches holds because the event fixture is
    ts-ordered and the paced splits are time-ordered files. Update mode
    re-emits a key's row each batch; the max-n row per user is the
    final state (n is monotone) — the nd_stream_stateful convention."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdf_iter, state):
        # self-contained closure (cloudpickle-by-value, foreign-cwd rule)
        import pandas as _pd

        if state.exists:
            ewma, n = state.get
        else:
            ewma, n = None, 0
        # CONCATENATE the Arrow chunks before the one sort: a key whose
        # micro-batch rows span multiple chunks (> arrow maxRecordsPer
        # Batch) arrives as 2+ pdfs in shuffle-read order, and sorting
        # each chunk independently would fold the order-dependent
        # recurrence out of (ts, event_id) order
        batch = _pd.concat(list(pdf_iter), ignore_index=True)
        for v in batch.sort_values(["ts", "event_id"])["v"]:
            v = int(v)
            ewma = v if ewma is None else (ewma + v) // 2
            n += 1
        state.update((int(ewma), int(n)))
        yield _pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                             "ewma_milli": [ewma]})

    milli = _event_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 1000).cast("long").alias("v"))
    return milli.groupBy("user_id").applyInPandasWithState(
        fold, "user_id long, n_events long, ewma_milli long",
        "ewma long, n long", "update", GroupStateTimeout.NoTimeout)


def nd_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA, oracle-gated: shares nd_ewma_smooth's FULL
    value-hash oracle (identical integer fold, identical columns) —
    multi-batch equality vs the batch twin additionally graded across a
    real 2-file micro-batch boundary in tests/test_streaming.py."""
    raw = _run_to_memory(spark, ewma_user_stream(spark, sf_dir), "update")
    win = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (raw.withColumn("_rn", F.row_number().over(win))
            .where(F.col("_rn") == 1)
            .select("user_id", "n_events", "ewma_milli")
            .orderBy("user_id"))


def nd_stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user estimation per 6-hour tumbling window —
    the HLL registers maintained AS the aggregation state: max-merge is
    idempotent and monotone, so micro-batch boundaries are invisible by
    construction (same argument as the CMS's associative sums) and the
    state is a bounded 64-registers-per-window grid no matter how many
    events stream through. The estimate is an OFFLINE probe of the
    materialized registers through hll_estimate — THE one estimate
    definition (shared folds: hll_bucket/hll_rho/hll_estimate from the
    batch operator, so sketch and probe cannot drift), including the
    shared-literal linear-counting branch. Exact per-window distincts
    ride alongside as the audit (computed offline — exactly what the
    bounded-state streaming side cannot also hold), so the full row
    value-hashes against the DuckDB oracle."""
    from bacalhau_spark.operators.aggregates import (hll_bucket,
                                                     hll_estimate, hll_rho)
    ev = _event_stream(spark, sf_dir)
    fp = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                             1, 15), 16, 10).cast("long"))
    regs_stream = (
        ev.select(F.window("ts", "6 hours").alias("w"), fp.alias("fp"))
        .select(F.col("w.start").alias("window_start"),
                hll_bucket(F.col("fp")).alias("j"),
                hll_rho(F.col("fp")).alias("rho"))
        .groupBy("window_start", "j")
        .agg(F.max("rho").alias("m_j")))
    regs = _run_to_memory(spark, regs_stream, "complete")
    truth = (table(spark, sf_dir, "events")
             .groupBy(F.window("ts", "6 hours").alias("w"))
             .agg(F.countDistinct("user_id").alias("n_true"))
             .select(F.col("w.start").alias("window_start"), "n_true"))
    return (hll_estimate(spark, regs, "window_start")
            .join(truth, "window_start")
            .select("window_start",
                    F.col("n_true").cast("long").alias("n_true"), "est",
                    F.expr("abs(est - n_true) * 1000000 div n_true")
                    .cast("long").alias("err_ppm"))
            .orderBy("window_start"))


def nd_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min-sketch maintenance: token frequencies tracked
    over an unbounded DOCUMENT stream with BOUNDED state — the
    complete-mode aggregation state is exactly the CMS_D × CMS_W
    counter grid no matter how much text streams through. This is the
    missing scale counterpart of the other stateful surfaces:
    nd_stream_topk's one-row-per-user state assumes a bounded key set,
    nd_stream_dedup's state grows with distinct keys; the sketch
    assumes nothing about key cardinality, which is why CMS (not an
    exact counter) is the production shape for ingest-time frequency
    tracking. Counter increments are associative integer sums, so batch
    boundaries are invisible (graded across a real 2-file micro-batch
    boundary in tests/test_streaming.py) and the final sketch is
    deterministic.

    Output: the top-K (est_count DESC, token) heavy hitters from an
    OFFLINE probe of the materialized sketch — estimates only, because
    the exact counts the batch twin (nd_heavy_hitters_cms) audits
    against are precisely what a bounded-state streaming operator
    cannot also hold. Shares THE cms_x/cms_positions folds with the
    batch core, so sketch and probe cannot drift; full value-hash
    oracle."""
    from bacalhau_spark.functions import words
    from bacalhau_spark.operators.text import (CMS_TOP_K, cms_positions,
                                               cms_x)

    toks = (_doc_stream(spark, sf_dir)
            .select(F.explode(words("text")).alias("tok"))
            .select(cms_x(F.col("tok")).alias("x")))
    counters = (toks.select(cms_positions()).select("sp.seed", "sp.p")
                .groupBy("seed", "p").agg(F.count("*").alias("c")))
    sketch = _run_to_memory(spark, counters, "complete")
    dt = (table(spark, sf_dir, "documents")
          .select(F.explode(words("text")).alias("tok")).distinct()
          .select("tok", cms_x(F.col("tok")).alias("x")))
    return (dt.select("tok", cms_positions())
            .select("tok", "sp.seed", "sp.p")
            .join(F.broadcast(sketch), ["seed", "p"])
            .groupBy("tok")
            .agg(F.min("c").cast("long").alias("est_count"))
            .orderBy(F.desc("est_count"), "tok").limit(CMS_TOP_K))


def _stream_cms_oracle() -> str:
    from bacalhau_spark.operators.text import (_CMS_AB_VALUES, CMS_PRIME,
                                               CMS_TOP_K, CMS_W)
    return f"""
WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
           FROM documents),
tx AS (SELECT tok,
              CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)
              % {CMS_PRIME} AS x FROM t),
counters AS (SELECT seed, ((a * x + b) % {CMS_PRIME}) % {CMS_W} AS p,
                    COUNT(*) AS c
             FROM tx CROSS JOIN (VALUES {_CMS_AB_VALUES}) s(seed, a, b)
             GROUP BY seed, p),
dt AS (SELECT DISTINCT tok, x FROM tx),
est AS (SELECT tok, MIN(c) AS est_count
        FROM dt CROSS JOIN (VALUES {_CMS_AB_VALUES}) s(seed, a, b)
        JOIN counters ON counters.seed = s.seed
                     AND counters.p = ((a * x + b) % {CMS_PRIME}) % {CMS_W}
        GROUP BY tok)
SELECT tok, CAST(est_count AS BIGINT) AS est_count
FROM est ORDER BY est_count DESC, tok LIMIT {CMS_TOP_K}
"""


QUERIES = {
    "nd_stream_heavy_hitters": (nd_stream_heavy_hitters,
                                _stream_cms_oracle()),
    # real-time ANN over the published inverted file — the streaming
    # twin of nd_ann_ivf, sharing its end-to-end hash oracle (same
    # probe rule, same candidates, same bit-identical re-rank)
    "nd_stream_ann": (nd_stream_ann, _STREAM_ANN_ORACLE),
    # identical contract to the batch nd_gopher_filter — per-row mappers
    # are stream-deterministic, so the streaming run shares its oracle
    "nd_stream_gopher": (nd_stream_gopher, _GOPHER_ORACLE),
    # train-offline / score-online: the stream scorer shares the batch
    # twin's full oracle, unrolled-CTE training included
    "nd_stream_url_screen": (nd_stream_url_screen,
                             _stream_url_oracle()),
    # the crawl front door composed end to end (canonicalize ->
    # blocklist -> HTML extract), every stage stateless per-row
    "nd_stream_html_extract": (nd_stream_html_extract,
                               _stream_html_oracle()),
    # image near-dup at ingest: per-row dHash bands probe the persisted
    # phash index, exact-Hamming verify, complete-mode per-doc agg
    "nd_stream_image_phash": (nd_stream_image_phash,
                              _stream_image_phash_oracle()),
    "nd_stream_audio_phash": (nd_stream_audio_phash,
                              _stream_audio_phash_oracle()),
    "nd_stream_video_phash": (nd_stream_video_phash,
                              _stream_video_phash_oracle()),
    "nd_stream_quality_model": (nd_stream_quality_model,
                                _quality_model_oracle()),
    "nd_stream_topk": (nd_stream_topk, _TOPK_ORACLE),
    "q28_tumbling_window": (
        q28_tumbling_window,
        "SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, "
        "COUNT(*) AS c, ROUND(SUM(value), 3) AS s "
        "FROM events GROUP BY 1, 2 ORDER BY ws, event_type",
    ),
    "nd_stream_tumbling": (
        nd_stream_tumbling,
        # identical contract to the batch q28 — the stream must converge to
        # the same rows once the (finite) source is exhausted
        "SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, "
        "COUNT(*) AS c, ROUND(SUM(value), 3) AS s "
        "FROM events GROUP BY 1, 2 ORDER BY ws, event_type",
    ),
    "nd_stream_static_join": (
        nd_stream_static_join,
        "SELECT c_mktsegment, COUNT(*) AS n "
        "FROM events JOIN customer ON user_id = c_custkey "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment",
    ),
    "nd_stream_stream_join": (
        nd_stream_stream_join,
        "SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id "
        "FROM events p JOIN events c ON p.user_id = c.user_id "
        "AND p.event_type = 'purchase' AND c.event_type = 'click' "
        "AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR",
    ),
    "nd_stream_dedup": (
        nd_stream_dedup,
        "SELECT DISTINCT user_id, event_type FROM events "
        "ORDER BY user_id, event_type",
    ),
    # the single-file fixture runs as one availableNow micro-batch, a
    # final batch re-sort removes sink order, and the one float fold is
    # rounded on both sides — so both rows carry full value-hash oracles
    "nd_stream_sessions": (nd_stream_sessions, _SESSIONIZE_ORACLE),
    "nd_stream_incremental_dedup": (nd_stream_incremental_dedup,
                                    _STREAM_INCR_ORACLE),
    # shares the batch twin's FULL oracle (nd_incremental_minhash):
    # identical synthesis, identical folds, identical output contract
    "nd_stream_band_screen": (nd_stream_band_screen,
                              _STREAM_BAND_SCREEN_ORACLE),
    "nd_stream_stateful": (
        nd_stream_stateful,
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, "
        "ROUND(SUM(value), 3) AS total, "
        "arg_max(event_type, event_id) AS last_type "
        "FROM events GROUP BY user_id ORDER BY user_id",
    ),
    "nd_stream_ewma": (nd_stream_ewma, _STREAM_EWMA_ORACLE),
    "nd_stream_hll_users": (nd_stream_hll_users, _STREAM_HLL_ORACLE),
    "nd_sliding_window": (
        sliding_window,
        "SELECT ws, event_type, COUNT(*) AS c FROM ("
        "SELECT time_bucket(INTERVAL '30 minutes', ts) AS b0, ts, event_type "
        "FROM events) t "
        "CROSS JOIN LATERAL (SELECT unnest([b0, b0 - INTERVAL '30 minutes']) AS ws) w "
        "GROUP BY ws, event_type ORDER BY ws, event_type",
    ),
}
