"""One benchmark run inside a fresh process: ``run.py`` starts this file
with the run's isolated environment and a JSON config, and reads back the
JSON it writes.

The engine is driven from outside through its public calls: an in-process
``api.ApiServer`` over an ``engine.Engine``, and ``api.ApiClient`` /
``Engine.submit_pipeline`` as the clients. Everything before ``ready`` is
set-up; the timed phase follows; result checks run after it.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

OK_STATES = ("Completed", "ResultsAccepted")


class Run:
    """Shared state of one run: the session, engine, API pair, the ops
    list and (in the traced run) the tracer."""

    def __init__(self, cfg: dict) -> None:
        from bacalhau_spark.api import ApiClient, ApiServer
        from bacalhau_spark.engine import Engine
        from bacalhau_spark.registry import engine_registry
        from bacalhau_spark.session import get_session

        self.cfg = cfg
        self.tracer = None
        t0 = time.time()
        self.spark = get_session(
            "perfbench", master=f"local[{cfg['cpus']}]",
            shuffle_partitions=cfg["shuffle_partitions"],
            extra_conf=cfg["spark_conf"])
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.time() - t0
        self.engine = Engine(self.spark, engine_registry())
        self.server = ApiServer(self.engine, port=0).start_background()
        self.client = ApiClient(self.server.url, timeout=600.0)
        self.ops: list[dict] = []
        self.backlog_max = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def fail(self, what: str) -> None:
        with self._lock:
            self.errors.append(what)

    def record(self, op: dict) -> None:
        with self._lock:
            self.ops.append(op)

    def submit(self, spec: dict, label: str, **extra) -> dict:
        """One client operation: submit through the API, wait for the
        terminal state, record client latency and the run's events."""
        op = {"label": label, "query": spec["query"], **extra}
        tr = self.tracer
        opid = tr.new_op() if tr else None
        t0 = time.time()
        try:
            if tr:
                with tr.span("bench.op", op=opid), \
                        tr.span("api.submit") as api_span:
                    op["api_span"] = api_span["id"]
                    run_id = self.client.submit(spec, wait=True)
            else:
                run_id = self.client.submit(spec, wait=True)
            op["run_id"] = run_id
            op["ok"] = self.engine.state(run_id) in OK_STATES
            if not op["ok"]:
                op["error"] = self.engine.state(run_id)
        except Exception as exc:  # noqa: BLE001 — counted as a failed op
            op["ok"] = False
            op["error"] = f"{type(exc).__name__}: {exc}"[:300]
            op.setdefault("run_id", None)
        op["t0"], op["t1"] = t0, time.time()
        if tr and op["run_id"]:
            tr.bind_run(op["run_id"], opid)
            op["opid"] = opid
        if tr:
            op["spark"] = spark_counts(self.spark, op["run_id"])
        self.record(op)
        if not op["ok"]:
            self.fail(f"{label}: {op['error']}")
        return op

    def events(self, run_id: str) -> dict:
        """First timestamp of each event name, plus the Metrics detail and
        the terminal time."""
        out: dict = {}
        for e in self.engine.events(run_id):
            out.setdefault(e.name, e.ts)
            if e.name == "Metrics":
                out["metrics"] = json.loads(e.detail)
            if e.name in ("Completed", "ResultsAccepted", "Error",
                          "ResultsRejected", "Rejected", "Cancelled"):
                out["terminal"] = e.ts
            if e.name in ("Completed", "ResultsAccepted") and e.detail:
                out["manifest"] = e.detail
        return out

    def close(self) -> None:
        self.server.shutdown()
        self.spark.stop()


def clients(n: int, next_job, body) -> None:
    """n closed-loop client threads: each calls body(job) for the jobs
    next_job() hands out until it returns None."""
    def loop():
        while (job := next_job()) is not None:
            body(job)
    threads = [threading.Thread(target=loop, name=f"client-{i}")
               for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def spark_counts(spark, run_id: str | None) -> dict:
    """Jobs, stages and tasks the run's job group launched."""
    if not run_id:
        return {}
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(run_id)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q * len(v) + 0.5)) - 1))]


def tree_bytes(root: str, files: bool = False) -> int:
    n = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            n += 1 if files else os.path.getsize(os.path.join(d, f))
    return n


def store_stats(store: str) -> dict:
    """The persisted index store seen from outside, through its manifests:
    tables that are full builds vs delta adoptions, data files, bytes and
    the largest file count of one artifact."""
    from bacalhau_spark.sources import versioned

    full = delta = files = nbytes = max_files = 0
    for name in sorted(os.listdir(store)) if os.path.isdir(store) else ():
        root = os.path.join(store, name)
        man = versioned.latest_manifest(root) or {}
        if man.get("props", {}).get("delta_parent"):
            delta += 1
        elif man:
            full += 1
        n = len(man.get("files", ()))
        max_files = max(max_files, n)
        files += tree_bytes(root, files=True)
        nbytes += tree_bytes(root)
    return {"indexstore.full_builds": full, "indexstore.delta_adopts": delta,
            "indexstore.files": files, "indexstore.bytes": nbytes,
            "indexstore.max_files_per_artifact": max_files}


def op_phases(run: Run, ops: list[dict]) -> list[dict]:
    """Attach engine phase times (seconds) to each op from its events."""
    for op in ops:
        if not op.get("run_id"):
            continue
        ev = run.events(op["run_id"])
        op["ev"] = ev
        if "Bid" in ev and "Running" in ev and "terminal" in ev:
            op["queue_s"] = ev["Bid"] - ev["Created"]
            op["prepare_s"] = ev["Running"] - ev["Bid"]
            op["exec_s"] = ev["terminal"] - ev["Running"]
            if "t1" in op:  # submitted through the API
                op["api_s"] = (op["t1"] - op["t0"]) - (ev["terminal"]
                                                       - ev["Created"])
        if run.tracer:
            parent = None
            if "Created" in ev and "terminal" in ev:
                parent = run.tracer.add("engine.run", op.get("opid"),
                                        ev["Created"], ev["terminal"],
                                        parent=op.get("api_span"),
                                        run=op["run_id"])
            for name, a, b in (("engine.queue", "Created", "Bid"),
                               ("engine.prepare", "Bid", "Running"),
                               ("engine.exec", "Running", "terminal")):
                if a in ev and b in ev:
                    run.tracer.add(name, op.get("opid"), ev[a], ev[b],
                                   parent=parent, run=op["run_id"])
    return ops


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


# Counts that are a function of the inputs and the code alone: two runs of
# the same code and seed must repeat them exactly. Byte counts of shuffle
# and store files are not among them: the row order inside a file varies
# between runs and moves the compressed size.
EXACT_COUNTERS = ("plans.scan_files", "plans.scan_rows",
                  "plans.shuffle_records", "spark.jobs", "spark.stages",
                  "spark.tasks", "indexstore.files", "indexstore.full_builds",
                  "indexstore.delta_adopts",
                  "indexstore.max_files_per_artifact", "contentstore.blobs",
                  "contentstore.bytes", "versioned.writes",
                  "counters.unstable_ops")
# the per-operation ones, which every repeat of an operation must repeat
PER_OP_EXACT = tuple(k for k in EXACT_COUNTERS
                     if k.startswith(("plans.", "spark.")))


def plan_counters(run: Run, ops: list[dict]) -> tuple[dict, list]:
    """Per-operation plan and Spark counts, summed over the distinct
    operations (each one's counts taken from its first run); returns the
    sums and the repeats whose PER_OP_EXACT counts differed from their
    first run. Each such repeat is also a failed check of the run."""
    keys = {"plans.scan_files": "scan_files",
            "plans.scan_bytes": "scan_bytes",
            "plans.scan_rows": "scan_rows",
            "plans.shuffle_records": "shuffle_records_written",
            "plans.shuffle_bytes": "shuffle_bytes_written",
            "plans.spill_bytes": "spill_bytes"}
    first: dict[str, dict] = {}
    unstable = []
    for op in ops:
        if not op.get("ok"):
            continue
        m = op.get("ev", {}).get("metrics", {})
        c = {k: int(m.get(v, 0)) for k, v in keys.items()}
        c.update({f"spark.{k}": v for k, v in op.get("spark", {}).items()})
        prev = first.setdefault(op["label"], c)
        diff = {k: (prev.get(k), c.get(k)) for k in PER_OP_EXACT
                if prev.get(k) != c.get(k)}
        if diff:
            unstable.append((op["label"], diff))
            run.fail(f"{op['label']}: counts differ from its first run "
                     f"{diff}")
    sums = {k: 0 for k in (*keys, "spark.jobs", "spark.stages",
                           "spark.tasks")}
    for c in first.values():
        for k, v in c.items():
            sums[k] += v
    return sums, unstable


class StreamListener:
    """Micro-batch phase durations from a StreamingQueryListener."""

    PHASES = {"streaming.batch_s": "triggerExecution",
              "streaming.add_batch_s": "addBatch",
              "streaming.planning_s": "queryPlanning",
              "streaming.wal_s": "walCommit"}

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.batches.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def metrics(self) -> dict:
        return {k: median(b.get(v, 0) / 1000.0 for b in self.batches)
                for k, v in self.PHASES.items()}


def install_tracing(run: Run, kinds: dict) -> None:
    """Wrap the public functions at each module boundary."""
    import bacalhau_spark.engine as engine_mod
    from bacalhau_spark.plans import telemetry
    from bacalhau_spark.sources import versioned

    tr = run.tracer
    cap = run.engine.capacity
    enqueue = cap.enqueue

    def counted_enqueue(item_id, req):
        # jobs already waiting when this one arrives
        run.backlog_max = max(run.backlog_max, cap.backlog_len())
        return enqueue(item_id, req)
    cap.enqueue = counted_enqueue
    for name in list(run.engine.registry):
        fn = run.engine.registry[name]
        layer = module_of(fn)
        run.engine.registry[name] = _traced(tr, f"{layer}.{name}", fn)
    tr.wrap(engine_mod, "result_manifest", "sinks.manifest")
    tr.wrap(engine_mod, "assert_deterministic", "plans.validate")
    tr.wrap(telemetry, "execute_and_measure", "plans.execute")
    tr.wrap(versioned, "write_version", "versioned.write")
    tr.wrap(versioned, "read_version", "versioned.read")
    for kind, (module, attr) in kinds.items():
        tr.wrap(module, attr, f"indexstore.{kind}")


def _traced(tr, name: str, fn):
    import functools

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tr.span(name):
            return fn(*args, **kwargs)
    return traced


def module_of(fn) -> str:
    """Layer name of a registry entry: ``operators.<module>``,
    ``streaming`` or ``stages``."""
    mod = fn.__module__.rsplit(".", 1)[-1]
    if fn.__module__.endswith("stages"):
        return "stages"
    if fn.__module__.startswith("bacalhau_spark.streaming"):
        return "streaming"
    return "operators." + ("functions" if mod == "udfs" else mod)


def index_builders() -> dict:
    """kind -> (module, function name) of the store-backed index builders
    stage_index_build publishes."""
    from bacalhau_spark.operators import dedup, multimodal, similarity, web

    return {
        "sig": (dedup, "minhash_signature_index"),
        "cand": (dedup, "band_candidate_index"),
        "winnow": (dedup, "winnow_posting_index"),
        "phash": (multimodal, "phash_index"),
        "aphash": (multimodal, "audio_phash_index"),
        "vphash": (multimodal, "video_phash_index"),
        "canon": (web, "canon_index"),
        "extract": (web, "html_extract_index"),
        "lshsig": (similarity, "lsh_signature_index"),
        "ivf_coarse": (similarity, "ivf_coarse_index"),
        "ivf_cells": (similarity, "ivf_cells_index"),
        "ivf_vectors": (similarity, "ivf_vectors_index"),
        "pq_assign": (similarity, "pq_code_index"),
        "pq_cent": (similarity, "pq_centroid_index"),
        "ivfpq_codes": (similarity, "ivfpq_code_index"),
        "ivfpq_cent": (similarity, "ivfpq_centroid_index"),
    }


OPERATOR_MODULES = ("tpch", "joins", "aggregates", "windows", "asof", "sort",
                    "dedup", "similarity", "multimodal", "web", "text",
                    "curation", "functions")
SPAN_LAYERS = ("bench", "api", "engine", "operators", "streaming", "stages",
               "plans", "sinks", "indexstore", "versioned")


def trace_metrics(run: Run, spans: list[dict]) -> dict:
    """Per-layer metrics shared by both workloads: engine phases and self
    times over the timed operations, index builds over the whole run."""
    from spans import self_times

    ops = [o for o in run.ops if o.get("timed")]
    out = {"session.start_s": run.session_start_s,
           "api.overhead_s": median(o["api_s"] for o in ops if "api_s" in o),
           "engine.queue_wait_s": median(o["queue_s"] for o in ops
                                         if "queue_s" in o),
           "engine.prepare_s": median(o["prepare_s"] for o in ops
                                      if "prepare_s" in o),
           "engine.exec_s": median(o["exec_s"] for o in ops
                                   if "exec_s" in o)}
    # verify: the manifest passes of a verified run beyond its first one
    by_run: dict[str, list[float]] = {}
    for s in spans:
        if s["name"] == "sinks.manifest" and s["run"]:
            by_run.setdefault(s["run"], []).append(s["end"] - s["start"])
    timed_runs = {o["run_id"] for o in ops}
    out["engine.verify_s"] = median(sum(v[1:]) for r, v in by_run.items()
                                    if r in timed_runs and len(v) > 1)
    for m in OPERATOR_MODULES:
        out[f"operators.{m}.exec_s"] = sum(
            o["ev"]["terminal"] - o["ev"]["Bid"] for o in ops
            if o.get("layer") == f"operators.{m}" and "Bid" in o.get("ev", {})
            and "terminal" in o["ev"])
    build: dict[str, float] = {}
    writes = []
    for s in spans:
        if s["name"].startswith("indexstore."):
            k = s["name"].split(".", 1)[1]
            build[k] = build.get(k, 0.0) + s["end"] - s["start"]
        elif s["name"] == "versioned.write":
            writes.append(s["end"] - s["start"])
    for kind in index_builders():
        out[f"indexstore.build_s.{kind}"] = build.get(kind, 0.0)
    out["versioned.writes"] = len(writes)
    out["versioned.write_s"] = sum(writes)
    timed_ids = {o["opid"] for o in ops if o.get("opid")}
    selfs = self_times([s for s in spans if s["op"] in timed_ids])
    for layer in SPAN_LAYERS:
        out[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    out["trace.spans"] = len(spans)
    return out


def main() -> None:
    cfg = json.loads(sys.argv[1])
    run = Run(cfg)
    if cfg["trace"]:
        from spans import Tracer
        run.tracer = Tracer()
    if cfg["workload"] == "query_mix":
        import mix as workload
    else:
        import crawl as workload
    result = workload.run(run, cfg)
    result["errors"] = run.errors
    if "spans" in result:
        from spans import write_spans
        write_spans(result.pop("spans"), cfg["spans_path"])
    run.close()
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
