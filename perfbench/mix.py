"""query_mix: warm job traffic through the REST API.

Two closed-loop clients submit jobs with ``ApiClient.submit(wait=True)`` to
an in-process ``ApiServer``. A round is every job of ``MIX`` once, in an
order drawn from the seed; the clients share a round, each taking the next
job when its previous one returns, and the next round starts when the
round is done. The timed phase hands out jobs until ``--seconds`` have
passed and ``MIN_ROUNDS`` rounds have started; latency, rate and
``epoch_s`` (the median time of one round) count the complete rounds only,
so every run measures whole copies of the mix.

Set-up starts the session and then runs every job of the mix once, with a
result sink, on four lanes side by side (``LANES``); this pass is where the
program builds its own persisted index store, and its wall time is the
workload's ``cold_epoch_s``. No store write happens in the timed phase: the
probes read the store through their session cache.
"""
from __future__ import annotations

import itertools
import os
import random
import threading
import time

import worker
from worker import median, percentile

CLIENTS = 2
MIN_ROUNDS = 4
REPLICAS = 2  # key-shifted copies of orders, lineitem and events

# (label, query, verified); verified jobs run with replicas=2
MIX = (
    # relational rows: TPC-H, join, aggregate and window shapes
    ("q17_hash_agg", "q17_hash_agg", False),
    ("q13_join_agg", "q13_join_agg", False),
    ("tpch_q6_forecast", "tpch_q6_forecast", False),
    ("q19_rollup", "q19_rollup", False),
    ("nd_ranking_suite", "nd_ranking_suite", False),
    # warm index probes
    ("nd_minhash_lsh", "nd_minhash_lsh", False),
    ("nd_image_phash", "nd_image_phash", False),
    ("nd_html_extract", "nd_html_extract", False),
    ("nd_ngram_jaccard", "nd_ngram_jaccard", False),
    # the Python plane
    ("nd_grouped_python", "nd_grouped_python", False),
    # a streaming twin
    ("nd_stream_tumbling", "nd_stream_tumbling", False),
    # replicated verification
    ("q17_hash_agg@verified", "q17_hash_agg", True),
)
# Set-up lanes: one client each, run side by side. Each index-backed probe
# sits in the lane that builds its index kinds, so no two lanes build the
# same kind and the store's build order is fixed; the last lane warms the
# rest of the mix.
LANES = (
    ("nd_minhash_lsh", "nd_image_phash"),
    ("nd_grouped_python", "nd_stream_tumbling"),
    ("nd_html_extract", "nd_ngram_jaccard"),
)


def prepare(cfg: dict) -> None:
    import gen
    gen.relational(cfg["input"], cfg["seed"], REPLICAS)


def _spec(query: str, verified: bool, sf_dir: str, sink: str | None) -> dict:
    spec = {"query": query, "inputs": {"sf_dir": sf_dir}}
    if verified:
        spec.update(verified=True, replicas=2)
    if sink:
        spec["outputs"] = {"path": sink, "format": "parquet"}
    return spec


def _over(t0: float, seconds: float, r: int) -> bool:
    """The timed phase ends once --seconds have passed and MIN_ROUNDS
    rounds have started."""
    return time.time() - t0 >= seconds and r >= MIN_ROUNDS


def run(run: worker.Run, cfg: dict) -> dict:
    from bench import scheduler_floor

    sf_dir, sinks = cfg["input"], cfg["sinks"]
    if run.tracer:
        worker.install_tracing(run, worker.index_builders())
        listener = worker.StreamListener(run.spark)

    # -- set-up: one pass over the mix with result sinks ------------------
    t_warm = time.time()
    by_label = {j[0]: j for j in MIX}
    laned = {label for lane in LANES for label in lane}
    lanes = [[by_label[label] for label in lane] for lane in LANES]
    lanes.append([j for j in MIX if j[0] not in laned])
    lock = threading.Lock()

    def next_warm():
        with lock:
            return lanes.pop(0) if lanes else None

    def warm(lane):
        for label, query, verified in lane:
            run.submit(_spec(query, verified, sf_dir,
                             os.path.join(sinks, label)), label,
                       timed=False)
    worker.clients(len(lanes), next_warm, warm)
    cold_epoch_s = time.time() - t_warm
    floor_start = scheduler_floor(run.spark)
    ready = time.time()

    def timed(job):
        r, label, query, verified = job
        run.submit(_spec(query, verified, sf_dir, None), label, timed=True,
                   round=r, layer=worker.module_of(
                       run.engine.registry[query]))

    # -- timed phase -------------------------------------------------------
    # Rounds do not overlap, so no job runs beside another copy of itself
    # (two runs of one streaming job would collide on its sink name).
    rng = random.Random(cfg["seed"])
    t0 = time.time()
    round_s: list[float] = []
    for r in itertools.count():
        jobs = [(r, *j) for j in rng.sample(MIX, len(MIX))]
        if _over(t0, cfg["seconds"], r):
            break
        tr = time.time()

        def next_job():
            with lock:
                if not jobs or _over(t0, cfg["seconds"], r):
                    return None
                return jobs.pop(0)
        worker.clients(CLIENTS, next_job, timed)
        if not jobs:
            round_s.append(time.time() - tr)
    wall = time.time() - t0
    floor_end = scheduler_floor(run.spark)

    ops = worker.op_phases(run, list(run.ops))
    timed_ops = [o for o in ops if o["timed"]]
    _check(run, cfg, ops)

    # latency and rate over the complete rounds: the same multiset of jobs
    # in every run, whatever the deadline cut off
    full = [o for o in timed_ops if o["round"] < len(round_s)]
    lat = [o["t1"] - o["t0"] for o in full]
    stats = worker.store_stats(cfg["store"])
    written = stats["indexstore.bytes"] + worker.tree_bytes(sinks)
    metrics = {
        "setup_s": ready - cfg["t_spawn"],
        "wall_s": wall,
        "op_p50_s": percentile(lat, 0.5),
        "op_p90_s": percentile(lat, 0.9),
        "ops_per_s": len(full) / sum(round_s),
        "epoch_s": median(round_s),
        "cold_epoch_s": cold_epoch_s,
        "write_amp": written / cfg["input_bytes"],
    }
    out = {"metrics": metrics, "attempted": len(timed_ops),
           "failed": sum(not o["ok"] for o in timed_ops),
           "floor_start": floor_start, "floor_end": floor_end,
           "n_rounds": len(round_s)}
    if run.tracer:
        spans = run.tracer.finish()
        layer = worker.trace_metrics(run, spans)
        layer.update(listener.metrics())
        layer.update(stats)
        counters, unstable = worker.plan_counters(run, timed_ops)
        layer.update(counters)
        layer["counters.unstable_ops"] = len(unstable)
        out["unstable"] = unstable
        layer["capacity.backlog_max"] = run.backlog_max
        layer["trace.wall_s"] = wall
        layer["trace.ops_per_s"] = metrics["ops_per_s"]
        out["per_layer"] = layer
        out["spans"] = spans
    return out


def _check(run: worker.Run, cfg: dict, ops: list[dict]) -> None:
    """Each distinct query's set-up result against its DuckDB oracle; every
    timed run's row count against the oracle's; every verified manifest
    against its set-up reference."""
    import pyarrow.parquet as pq

    from bacalhau_spark.registry import ALL_QUERIES
    from oracle import Oracle, mismatch

    ora = Oracle(cfg["input"])
    want_rows: dict[str, int] = {}
    ref_manifest: dict[str, str] = {}
    try:
        for o in ops:
            if o["timed"] or not o["ok"]:
                continue
            sql = ALL_QUERIES[o["query"]][1]
            want = ora.frame(sql)
            want_rows[o["query"]] = len(want)
            got = pq.read_table(os.path.join(cfg["sinks"], o["label"]))
            why = mismatch(got.to_pandas(), want)
            if why:
                run.fail(f"{o['label']}: oracle mismatch ({why})")
            if "manifest" in o.get("ev", {}):
                ref_manifest[o["label"]] = o["ev"]["manifest"]
    finally:
        ora.close()
    for o in ops:
        if not o["timed"] or not o["ok"]:
            continue
        rows = o["ev"].get("metrics", {}).get("result_rows")
        if rows != want_rows.get(o["query"]):
            run.fail(f"{o['label']}: {rows} rows, oracle "
                     f"{want_rows.get(o['query'])}")
        if o["label"] in ref_manifest and \
                o["ev"].get("manifest") != ref_manifest[o["label"]]:
            run.fail(f"{o['label']}: manifest differs from set-up")
