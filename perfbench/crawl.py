"""crawl_epoch: one client ingests successive crawl epochs.

The corpus (documents, embeddings, events) is split into seeded shards;
epoch k is shards 0..k, each shard's part file byte-identical in every
epoch, so the persisted index store can delta-adopt. Every epoch runs the
``index_ingest`` stage (``stage_index_build``) of
``examples/pipeline_crawl_curation.yaml`` through
``Engine.submit_pipeline``. An appended epoch also runs the DAG's
crawl-curation chain up to its contentstore publish (``CHAIN``) as a
second pipeline beside it: the example declares ``index_ingest`` with no
parent, and in one DAG the chain would wait for the ingest to end. Inputs
are re-rooted at the epoch and every output sits under the run's sink
root; an epoch ends when every stage has published. After the appended
epoch the session tier of the index cache is evicted and each probe of
``PROBES`` runs once through the API, which takes the session-cold adopt
path; then two clients run a seeded burst of ``PROBE_ROUNDS`` rounds of
the same probes, which read the re-adopted session tier.

The timed phase is a fixed amount of work: the cold first epoch (a full
build), one appended epoch and the probes. ``--seconds`` is not used by
this workload. An operation is one stage run or one probe job. Set-up is
the session start alone.
"""
from __future__ import annotations

import os
import random
import threading
import time

import worker
from worker import median, percentile

EPOCHS = 2  # the cold first epoch and one appended epoch
DOCS, VECS, EVENTS = 48, 48, 1000  # rows per shard
PIPELINE = os.path.join(worker.ROOT, "examples",
                        "pipeline_crawl_curation.yaml")
# probes of kinds index_ingest publishes (nd_image_phash is left to
# query_mix: its session-cold run alone costs ~2 s here)
PROBES = ("nd_ngram_jaccard", "nd_minhash_lsh", "nd_html_extract")
PROBE_ROUNDS = 4
CLIENTS = 2
# kinds whose builder maps each document on its own: an appended epoch
# must delta-adopt them
PER_DOC_KINDS = ("sig", "winnow", "phash", "aphash", "vphash", "canon",
                 "extract", "lshsig")
# the crawl-curation chain run on an appended epoch: the example DAG's
# stages up to its first contentstore publish (its leakage-safe split and
# the two split publishes are left out to fit the run budget)
CHAIN = ("crawl", "pii", "dedup", "pack")
CS_STAGES = ("pack",)


def prepare(cfg: dict) -> None:
    import gen

    shards = gen.corpus_shards(cfg["seed"], EPOCHS, DOCS, VECS, EVENTS)
    dims = os.path.join(cfg["input"], "dims")
    gen.write_dims(dims, cfg["seed"])
    for k in range(EPOCHS):
        gen.write_epoch(os.path.join(cfg["input"], f"epoch{k}"), shards, k,
                        dims)


def _stages(epoch_dir: str, out_root: str) -> list[dict]:
    """The example DAG re-rooted at one epoch's inputs and sink root."""
    import yaml

    with open(PIPELINE) as f:
        stages = yaml.safe_load(f)["stages"]
    for st in stages:
        if not st["inputs"]["sf_dir"].startswith("@"):
            st["inputs"]["sf_dir"] = epoch_dir
        st["outputs"]["path"] = os.path.join(out_root, st["name"])
    return stages


def _pipeline(run: worker.Run, stages: list[dict], k: int) -> None:
    """Run one DAG through Engine.submit_pipeline; record each stage run."""
    from bacalhau_spark.engine import PipelineError

    try:
        ids = run.engine.submit_pipeline(stages)
    except PipelineError as exc:
        ids = exc.statuses
        run.fail(f"epoch {k}: {exc}")
    for name, rid in ids.items():
        if rid in ("Cancelled", "Rejected"):
            rid = None
        opid = None
        if run.tracer and rid:
            opid = run.tracer.new_op()
            run.tracer.bind_run(rid, opid)
        run.record({"label": f"stage:{name}@{k}", "query": name,
                    "run_id": rid,
                    "opid": opid,
                    "spark": worker.spark_counts(run.spark, rid)
                    if run.tracer else {},
                    "ok": bool(rid) and run.engine.state(rid)
                    in worker.OK_STATES,
                    "timed": True, "epoch": k, "stage": True,
                    "layer": "stages"})


def _probes(run: worker.Run, cfg: dict, epoch: dict) -> None:
    """Evict the session tier, run each probe once (session-cold: it
    adopts the persisted index), then the warm burst on two clients."""
    from bacalhau_spark.operators.dedup import clear_session_index

    def probe(job):
        label, q = job
        run.submit({"query": q, "inputs": {"sf_dir": epoch["dir"]}}, label,
                   timed=True, epoch=epoch["k"],
                   layer=worker.module_of(run.engine.registry[q]))

    clear_session_index(run.spark, persisted=False)
    for q in PROBES:
        probe((f"probe:{q}@cold", q))
    rng = random.Random(cfg["seed"])
    jobs = [(f"probe:{q}", q) for _ in range(PROBE_ROUNDS)
            for q in rng.sample(PROBES, len(PROBES))]
    lock = threading.Lock()

    def next_job():
        with lock:
            return jobs.pop(0) if jobs else None
    worker.clients(CLIENTS, next_job, probe)


def run(run: worker.Run, cfg: dict) -> dict:
    import gen
    from bench import scheduler_floor

    if run.tracer:
        worker.install_tracing(run, worker.index_builders())
    floor_start = scheduler_floor(run.spark)
    ready = time.time()

    t0 = time.time()
    epochs: list[dict] = []
    for k in range(EPOCHS):
        epoch_dir = os.path.join(cfg["input"], f"epoch{k}")
        out_root = os.path.join(cfg["sinks"], f"epoch{k}")
        stages = _stages(epoch_dir, out_root)
        te = time.time()
        steps = [[s for s in stages if s["name"] == "index_ingest"]]
        if k:
            steps.append([s for s in stages if s["name"] in CHAIN])
        threads = [threading.Thread(target=_pipeline, args=(run, step, k))
                   for step in steps]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        epochs.append({"k": k, "dir": epoch_dir, "out": out_root,
                       "s": time.time() - te})
    _probes(run, cfg, epochs[-1])
    wall = time.time() - t0
    floor_end = scheduler_floor(run.spark)

    ops = worker.op_phases(run, list(run.ops))
    for o in ops:
        if o.get("stage") and "terminal" in o.get("ev", {}):
            o["t0"], o["t1"] = o["ev"]["Created"], o["ev"]["terminal"]
    addresses = _check(run, cfg, ops, epochs)

    lat = [o["t1"] - o["t0"] for o in ops if "t1" in o]
    stats = worker.store_stats(cfg["store"])
    written = stats["indexstore.bytes"] + worker.tree_bytes(cfg["sinks"])
    metrics = {
        "setup_s": ready - cfg["t_spawn"],
        "wall_s": wall,
        "op_p50_s": percentile(lat, 0.5),
        "op_p90_s": percentile(lat, 0.9),
        "ops_per_s": len(ops) / wall,
        "epoch_s": median(e["s"] for e in epochs[1:]),
        "cold_epoch_s": epochs[0]["s"],
        "write_amp": written / sum(gen.input_bytes(e["dir"])
                                   for e in epochs),
    }
    out = {"metrics": metrics, "attempted": len(ops),
           "failed": sum(not o["ok"] for o in ops),
           "floor_start": floor_start, "floor_end": floor_end,
           "n_epochs": len(epochs)}
    if run.tracer:
        spans = run.tracer.finish()
        layer = worker.trace_metrics(run, spans)
        layer.update(stats)
        counters, unstable = worker.plan_counters(run, ops)
        layer.update(counters)
        layer["counters.unstable_ops"] = len(unstable)
        out["unstable"] = unstable
        layer["capacity.backlog_max"] = run.backlog_max
        cs = [os.path.join(e["out"], s) for e in epochs[1:]
              for s in CS_STAGES]
        layer["contentstore.blobs"] = sum(worker.tree_bytes(r, files=True)
                                          for r in cs)
        layer["contentstore.bytes"] = sum(worker.tree_bytes(r) for r in cs)
        names = {o["query"] for o in ops if o.get("stage")}
        for name in sorted(names):
            layer[f"stages.{name}_s"] = median(
                o["ev"]["terminal"] - o["ev"]["Bid"] for o in ops
                if o.get("stage") and o["query"] == name
                and "Bid" in o.get("ev", {}))
        layer["trace.wall_s"] = wall
        layer["trace.ops_per_s"] = metrics["ops_per_s"]
        out["per_layer"] = layer
        out["spans"] = spans
        out["addresses"] = addresses
    return out


def _check(run: worker.Run, cfg: dict, ops: list[dict],
           epochs: list[dict]) -> list[str]:
    """Appended epochs delta-adopt every per-doc kind; every probe returns
    its oracle's row count; every terminal contentstore publish has a
    manifest. Returns the terminal manifest addresses."""
    import pyarrow.parquet as pq

    from bacalhau_spark.registry import ALL_QUERIES
    from bacalhau_spark.sources import contentstore
    from oracle import Oracle

    for e in epochs:
        log = os.path.join(e["out"], "index_ingest")
        if not os.path.isdir(log):
            continue
        rows = pq.read_table(log).to_pylist()
        docs = DOCS * (e["k"] + 1)
        for r in rows:
            if r["kind"] in PER_DOC_KINDS:
                if e["k"] and not r["delta_parent"]:
                    run.fail(f"epoch {e['k']}: {r['kind']} rebuilt")
                if r["kind"] != "winnow" and r["n_rows"] < docs:
                    run.fail(f"epoch {e['k']}: {r['kind']} has "
                             f"{r['n_rows']} rows for {docs} documents")
    addresses = []
    for e in epochs:
        for s in CS_STAGES if e["k"] else ():
            try:
                addresses.append(contentstore.last_manifest(
                    os.path.join(e["out"], s))[0])
            except OSError:
                run.fail(f"epoch {e['k']}: no {s} manifest")
        ora = Oracle(e["dir"])
        want_rows: dict[str, int] = {}
        try:
            for o in ops:
                if o.get("epoch") != e["k"] or o.get("stage") \
                        or not o["ok"]:
                    continue
                if o["query"] not in want_rows:
                    want_rows[o["query"]] = len(
                        ora.frame(ALL_QUERIES[o["query"]][1]))
                want = want_rows[o["query"]]
                got = o["ev"].get("metrics", {}).get("result_rows")
                if got != want:
                    run.fail(f"epoch {e['k']} {o['label']}: {got} rows, "
                             f"oracle {want}")
        finally:
            ora.close()
    return addresses
