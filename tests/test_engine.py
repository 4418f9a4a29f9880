"""Engine lifecycle tests — the reference's control-plane semantics.

Mirrors the reference's test strategy (SURVEY.md §5): scenario-style
end-to-end runs through the engine surface, concurrency/verification
semantics (`pkg/test/devstack/concurrency_test.go:46-106` analog), and the
event fold (`pkg/executor/constants.go:211-250`).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from bacalhau_spark.engine import (EVT_COMPLETED, EVT_CREATED, EVT_ERROR,
                                   EVT_RESULTS_ACCEPTED, Engine, JobSpec)
from bacalhau_spark.registry import queries

from tests.conftest import SF_DIR


@pytest.fixture()
def engine(spark):
    return Engine(spark, queries())


def test_submit_runs_to_completion(engine):
    run_id = engine.submit(JobSpec(query="q01_scan_projection",
                                   inputs={"sf_dir": SF_DIR}))
    assert engine.state(run_id) == EVT_COMPLETED
    names = [e.name for e in engine.events(run_id)]
    assert names[0] == EVT_CREATED
    assert names[-1] == EVT_COMPLETED


def test_extra_inputs_reach_only_declared_parameters(engine):
    """_extra_inputs (multi-input stages, round 14) passes ONLY names
    the callable declares: a stray spec key never reaches an ordinary
    (spark, sf_dir) query — the run completes as if it were absent."""
    run_id = engine.submit(JobSpec(
        query="q01_scan_projection",
        inputs={"sf_dir": SF_DIR, "parent_dir": "/does/not/exist"}))
    assert engine.state(run_id) == EVT_COMPLETED


def test_replicated_verification_accepts_deterministic_plan(engine):
    """Concurrency=2 analog: two replicas of a deterministic plan must agree
    on the content manifest ⇒ ResultsAccepted."""
    run_id = engine.submit(JobSpec(query="q17_hash_agg",
                                   inputs={"sf_dir": SF_DIR},
                                   replicas=2, verified=True))
    assert engine.state(run_id) == EVT_RESULTS_ACCEPTED


def test_state_index_matches_event_log_fold(engine):
    """The read path serves /list and /states from an index maintained
    at emit time (the round-12 read burst measured the scan-the-log
    form at 15 req/s and quadratic in table size) — pin the index to
    the ground truth it replaced: for every run, the indexed state IS
    the max-ordinal event of the run's log, and list_runs() is exactly
    the per-run fold over the full event log."""
    for _ in range(3):
        engine.submit(JobSpec(query="q17_hash_agg",
                              inputs={"sf_dir": SF_DIR}))
    listed = engine.list_runs()
    assert len(listed) >= 3
    folded = {}
    for e in engine.events():
        cur = folded.get(e.run_id)
        if cur is None or e.ordinal > cur[0]:
            folded[e.run_id] = (e.ordinal, e.name)
    assert listed == {rid: name for rid, (_o, name) in folded.items()}
    for rid in listed:
        assert engine.state(rid) == listed[rid]
        evts = engine.events(rid)
        assert [e.run_id for e in evts] == [rid] * len(evts)
        assert max(evts, key=lambda e: e.ordinal).name == listed[rid]
    with pytest.raises(KeyError):
        engine.state("no-such-run")


def test_verified_mode_rejects_nondeterministic_plan(engine, spark):
    def bad_query(spark_, sf_dir):
        from bacalhau_spark.catalog import table
        return table(spark_, sf_dir, "nation").withColumn("r", F.rand())

    engine.registry["bad_rand"] = bad_query
    with pytest.raises(Exception, match="nondeterministic"):
        engine.submit(JobSpec(query="bad_rand", inputs={"sf_dir": SF_DIR},
                              verified=True))
    run_id = next(iter(engine.list_runs()))
    assert engine.state(run_id) == EVT_ERROR


def test_resources_applied_as_job_scoped_conf(engine, spark):
    """A spec with resources observably changes the job-scoped config: the
    job group is set as a local property while the run's Spark jobs
    execute, and submit-time keys are computed from the resources
    (capacitymanager analog)."""
    captured = {}

    def probing_query(spark_, sf_dir):
        sc = spark_.sparkContext
        captured["group"] = sc.getLocalProperty("spark.jobGroup.id")
        from bacalhau_spark.catalog import table
        return table(spark_, sf_dir, "nation")

    engine.registry["probe"] = probing_query
    # cpu=4 fits the session-probed capacity (the test session is
    # local[4]; capacity binds to real parallelism)
    rid = engine.submit(JobSpec(query="probe", inputs={"sf_dir": SF_DIR},
                                resources={"cpu": "4", "memory": "2Gb"}))
    assert captured["group"] == rid
    spec = JobSpec(query="probe", resources={"gpu": 1, "cpu": "500m"})
    assert spec.spark_conf["spark.task.resource.gpu.amount"] == "1"


def test_results_rejected_blocks_publish(engine, tmp_path, monkeypatch):
    """Verify-then-publish: disagreeing replica manifests must abort BEFORE
    the sink write and raise (results acceptance gates publishing in the
    reference controller)."""
    import bacalhau_spark.engine as eng_mod
    seq = iter(["manifest-a", "manifest-b"])
    monkeypatch.setattr(eng_mod, "result_manifest",
                        lambda _df, metrics_out=None: next(seq))
    out = tmp_path / "rejected_out"
    with pytest.raises(eng_mod.ResultsRejectedError):
        engine.submit(JobSpec(query="q01_scan_projection",
                              inputs={"sf_dir": SF_DIR}, replicas=2,
                              outputs={"path": str(out)}))
    (rid,) = list(engine.list_runs())
    assert engine.state(rid) == "ResultsRejected"
    assert not out.exists()


def test_unknown_query_rejected(engine):
    with pytest.raises(KeyError):
        engine.submit(JobSpec(query="nope"))


def test_spec_loader_json(tmp_path):
    doc = {"query": "q01_scan_projection", "replicas": 2, "verified": True,
           "inputs": {"sf_dir": SF_DIR}, "annotations": ["t1"]}
    p = tmp_path / "job.json"
    p.write_text(json.dumps(doc))
    spec = JobSpec.load(str(p))
    assert spec.query == "q01_scan_projection"
    assert spec.replicas == 2 and spec.verified
    with pytest.raises(ValueError):
        JobSpec.from_dict({"replicas": 1})


def test_output_sink(engine, tmp_path, spark):
    out = str(tmp_path / "out")
    engine.submit(JobSpec(query="q01_scan_projection",
                          inputs={"sf_dir": SF_DIR},
                          outputs={"path": out, "format": "parquet"}))
    back = spark.read.parquet(out)
    assert back.count() == 25


def test_events_and_states_df(engine):
    rid = engine.submit(JobSpec(query="q01_scan_projection",
                                inputs={"sf_dir": SF_DIR}))
    evts = engine.events_df().where(f"run_id = '{rid}'").collect()
    assert [e["name"] for e in sorted(evts, key=lambda e: e["ordinal"])][:3] \
        == ["Created", "Bid", "Running"]
    states = {r["run_id"]: r["state"] for r in engine.states_df().collect()}
    assert states[rid] == "Completed"


def test_policy_hooks(spark):
    """Submit-time selection policies — the JobSelectionPolicy analog:
    a declining policy rejects the job before any Spark work."""
    from bacalhau_spark.engine import Engine, JobRejectedError
    from bacalhau_spark import registry as reg

    def no_annotated_jobs(spec):
        return "blocked" not in spec.annotations

    eng = Engine(spark, reg.queries(), policies=[no_annotated_jobs])
    ok = eng.submit(JobSpec(query="q01_scan_projection",
                            inputs={"sf_dir": SF_DIR}))
    assert eng.state(ok) == "Completed"
    with pytest.raises(JobRejectedError):
        eng.submit(JobSpec(query="q01_scan_projection",
                           inputs={"sf_dir": SF_DIR},
                           annotations=["blocked"]))
    assert "Rejected" in {e.name for e in eng.events()}


def test_metrics_event_carries_execution_telemetry(engine):
    """Every run logs a Metrics event with real SQLMetrics from the executed
    plan (the per-job tracing analog): wall clock always; scan/result
    counters whenever the engine controls the execution."""
    rid = engine.submit(JobSpec(query="q01_scan_projection",
                                inputs={"sf_dir": SF_DIR}))
    (metrics_evt,) = [e for e in engine.events(rid) if e.name == "Metrics"]
    m = json.loads(metrics_evt.detail)
    assert m["wall_s"] >= 0
    assert m["result_rows"] == 25
    # >= 25: the global sort's range partitioner samples the scan before
    # shuffling, so the scan's row counter sees two passes
    assert m["scan_rows"] >= 25 and m["scan_bytes"] > 0
    # verified path: telemetry comes from the manifest execution
    rid2 = engine.submit(JobSpec(query="q13_join_agg",
                                 inputs={"sf_dir": SF_DIR},
                                 replicas=2, verified=True))
    (mevt2,) = [e for e in engine.events(rid2) if e.name == "Metrics"]
    m2 = json.loads(mevt2.detail)
    assert m2["result_rows"] == 25 and m2["scan_bytes"] > 0
    # and the run log exposes them as queryable rows
    assert engine.events_df().where("name = 'Metrics'").count() == 2


def test_context_shipped_module_runs_in_udf(spark, tmp_path):
    """Context-upload analog: a module that exists ONLY in the job's context
    dir must be importable inside a UDF executing on workers (the reference
    tars the CWD into the job and mounts it at /job). The module lives
    under the run's content-addressed namespace; the query fn captures the
    namespace string into the executor closure."""
    from bacalhau_spark.engine import Engine, current_context_namespace

    (tmp_path / "ctxmod.py").write_text("def triple(x):\n    return 3 * x\n")
    seen = {}

    def ctx_query(spark_, sf_dir):
        from pyspark.sql.functions import pandas_udf
        from bacalhau_spark.catalog import table

        ns = current_context_namespace()
        seen["ns"] = ns

        @pandas_udf("long")
        def triple_udf(s):
            import importlib
            ctxmod = importlib.import_module(f"{ns}.ctxmod")
            return s.map(ctxmod.triple)

        return (table(spark_, sf_dir, "nation")
                .select(triple_udf(F.col("n_nationkey")).alias("t")))

    eng = Engine(spark, {"ctx": ctx_query})
    rid = eng.submit(JobSpec(query="ctx", inputs={"sf_dir": SF_DIR},
                             context=str(tmp_path)))
    assert eng.state(rid) == EVT_COMPLETED
    assert seen["ns"] and seen["ns"].startswith("ctx_")
    assert eng.describe(rid)["context_namespace"] == seen["ns"]


def test_context_archive_size_cap(tmp_path):
    from bacalhau_spark.engine import build_context_archive
    (tmp_path / "big.bin").write_bytes(b"x" * 4096)
    with pytest.raises(ValueError, match="max"):
        build_context_archive(str(tmp_path), max_bytes=1024)
    # identical content -> identical (content-addressed) archive + namespace
    a1, ns1 = build_context_archive(str(tmp_path))
    a2, ns2 = build_context_archive(str(tmp_path))
    assert (a1, ns1) == (a2, ns2)
    assert ns1.startswith("ctx_")


def test_timeout_cancels_job_group(spark):
    """A run past its timeout_s must be cancelled (its job group killed)
    and surface JobTimeoutError + an Error event — the engine analog of the
    reference's per-operation timeouts (pkg/config/config.go:42-82)."""
    import time as _time

    from bacalhau_spark.engine import Engine, JobTimeoutError

    def slow(spark_, sf_dir):
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def nap(s):
            import time
            time.sleep(30)
            return s

        return spark_.range(8, numPartitions=8).select(nap("id").alias("x"))

    eng = Engine(spark, {"slow": slow})
    t0 = _time.time()
    with pytest.raises(JobTimeoutError, match="timeout_s"):
        eng.submit(JobSpec(query="slow", timeout_s=2.0))
    assert _time.time() - t0 < 25  # cancelled, not run to completion
    (rid,) = list(eng.list_runs())
    assert eng.state(rid) == "Error"
    assert "JobTimeoutError" in eng.events(rid)[-1].detail


def test_timeout_spec_validation():
    """A JSON spec's string/negative timeout must fail at construction —
    a string is truthy but would break the watchdog thread silently."""
    for bad in ("60", -1, 0, True):
        with pytest.raises(ValueError, match="timeout_s"):
            JobSpec(query="q01_scan_projection", timeout_s=bad)
    assert JobSpec(query="q01_scan_projection", timeout_s=5).timeout_s == 5.0


def test_context_same_named_modules_coexist(spark, tmp_path):
    """Two jobs shipping DIFFERENT code under the same module name each see
    their OWN version — the per-job context-mount semantics (the reference
    mounts each job's context at its own /job). Content-addressed
    namespacing makes addPyFile's one-way global registration alias-proof:
    ctx_<h1>.dupmod and ctx_<h2>.dupmod are distinct packages."""
    from bacalhau_spark.engine import Engine, context_module

    ctx1 = tmp_path / "c1"
    ctx1.mkdir()
    (ctx1 / "dupmod.py").write_text("VERSION = 1\n")
    ctx2 = tmp_path / "c2"
    ctx2.mkdir()
    (ctx2 / "dupmod.py").write_text("VERSION = 2\n")

    versions = []

    def versioned(spark_, sf_dir):
        from bacalhau_spark.catalog import table
        versions.append(context_module("dupmod").VERSION)
        return table(spark_, sf_dir, "region")

    eng = Engine(spark, {"versioned": versioned})
    for ctx in (ctx1, ctx1, ctx2):  # identical re-ship stays fine too
        rid = eng.submit(JobSpec(query="versioned",
                                 inputs={"sf_dir": SF_DIR},
                                 context=str(ctx)))
        assert eng.state(rid) == EVT_COMPLETED
    assert versions == [1, 1, 2]


def test_error_event_recorded_on_failure(spark):
    """A failing job must emit Error (with the exception) and re-raise —
    the reference's ErrorJob path (`pkg/computenode/computenode.go:291-319`)."""
    from bacalhau_spark.engine import Engine

    def boom(_spark, _sf):
        raise RuntimeError("executor exploded")

    eng = Engine(spark, {"boom": boom})
    with pytest.raises(RuntimeError, match="executor exploded"):
        eng.submit(JobSpec(query="boom"))
    (rid,) = list(eng.list_runs())
    assert eng.state(rid) == "Error"
    assert "executor exploded" in eng.events(rid)[-1].detail


def test_probe_policies_accept_reject(spark):
    """The shipped probe policies (`pkg/computenode/job_selection.go:50-101`
    analog): an HTTP decider accepts with 2xx / declines otherwise (and an
    unreachable decider fails closed); an exec decider accepts with exit 0.
    Both decline styles surface as the 409-mapped JobRejectedError."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from bacalhau_spark.engine import Engine, JobRejectedError
    from bacalhau_spark.policies import exec_probe_policy, http_probe_policy

    decisions = {"allow": True}
    probes = []

    class Decider(BaseHTTPRequestHandler):
        def log_message(self, *_):
            pass

        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            probes.append(_json.loads(body))
            self.send_response(200 if decisions["allow"] else 403)
            self.end_headers()

    httpd = HTTPServer(("127.0.0.1", 0), Decider)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{httpd.server_address[1]}/select"
    try:
        eng = Engine(spark, queries(), policies=[http_probe_policy(url)])
        spec = JobSpec(query="q01_scan_projection",
                       inputs={"sf_dir": SF_DIR}, annotations=["probe-me"])
        rid = eng.submit(spec)
        assert eng.state(rid) == EVT_COMPLETED
        assert probes[-1]["query"] == "q01_scan_projection"
        assert probes[-1]["annotations"] == ["probe-me"]
        decisions["allow"] = False
        with pytest.raises(JobRejectedError):
            eng.submit(spec)
    finally:
        httpd.shutdown()
        httpd.server_close()
    # unreachable decider fails closed
    dead = Engine(spark, queries(),
                  policies=[http_probe_policy(url, timeout=2.0)])
    with pytest.raises(JobRejectedError):
        dead.submit(spec)

    # exec probe: accept on exit 0, decline on non-zero; the spec JSON is
    # on stdin (grep proves the probe actually read it)
    ok = Engine(spark, queries(),
                policies=[exec_probe_policy(
                    ["grep", "-q", "q01_scan_projection"])])
    assert ok.submit(spec)
    no = Engine(spark, queries(),
                policies=[exec_probe_policy(["grep", "-q", "nope"])])
    with pytest.raises(JobRejectedError):
        no.submit(spec)


def test_policy_raise_maps_to_rejection(spark):
    """A policy that raises its own exception is a decline, uniformly
    wrapped in JobRejectedError (API maps it to 409, not 500)."""
    from bacalhau_spark.engine import Engine, JobRejectedError

    def angry_policy(_spec):
        raise ValueError("no jobs on weekends")

    eng = Engine(spark, queries(), policies=[angry_policy])
    with pytest.raises(JobRejectedError, match="no jobs on weekends"):
        eng.submit(JobSpec(query="q01_scan_projection",
                           inputs={"sf_dir": SF_DIR}))


def test_async_rejection_raises_from_wait(spark):
    """submit_async + wait must have identical semantics to submit for a
    caller holding only the run id: a rejection recorded at submit time
    re-raises from wait() instead of returning the state string."""
    from bacalhau_spark.engine import Engine, JobRejectedError

    eng = Engine(spark, queries(), policies=[lambda _spec: False])
    spec = JobSpec(query="q01_scan_projection", inputs={"sf_dir": SF_DIR})
    try:
        eng.submit_async(spec)
        raise AssertionError("rejection did not raise at submit")
    except JobRejectedError:
        pass
    (rid,) = list(eng.list_runs())
    with pytest.raises(JobRejectedError):
        eng.wait(rid, timeout=5)


def test_capacity_sized_from_session(spark):
    """The default capacity manager binds to the SESSION's parallelism
    (gopsutil-probe analog), not a hardcoded 8: a spec requesting more
    than 8 but within the session's cores is admitted. Its memory axis is
    probed from the machine's physical pages, not the 32 GiB
    DEFAULT_TOTAL fallback."""
    import os

    from bacalhau_spark.capacity import detect_total
    from bacalhau_spark.engine import Engine

    cores = spark.sparkContext.defaultParallelism
    eng = Engine(spark, queries())
    assert eng.capacity.total.cpu == float(cores)
    # probed from the OS page count, not DEFAULT_TOTAL's 32 GiB
    assert eng.capacity.total.memory == (os.sysconf("SC_PAGE_SIZE")
                                         * os.sysconf("SC_PHYS_PAGES"))
    if cores > 8:
        rid = eng.submit(JobSpec(query="q01_scan_projection",
                                 inputs={"sf_dir": SF_DIR},
                                 resources={"cpu": str(cores - 1)}))
        assert eng.state(rid) == EVT_COMPLETED
    probed = detect_total(cpus=4.0, gpu=2)
    assert probed.cpu == 4.0 and probed.gpu == 2 and probed.disk > 0


def test_result_reuse_skips_execution(engine):
    """Content-addressed result reuse (the CID-cache lifted to results):
    a verified completed run's (query, inputs) key lets an identical
    reuse=True submit complete WITHOUT executing — no Running event, a
    ResultsReused event pointing at the prior run, same manifest."""
    first = engine.submit(JobSpec(query="q17_hash_agg",
                                  inputs={"sf_dir": SF_DIR},
                                  verified=True))
    first_manifest = [e.detail for e in engine.events(first)
                      if e.name == "ResultsAccepted"][0]
    second = engine.submit(JobSpec(query="q17_hash_agg",
                                   inputs={"sf_dir": SF_DIR},
                                   reuse=True))
    names = [e.name for e in engine.events(second)]
    assert "Running" not in names
    assert "ResultsReused" in names
    completed = [e.detail for e in engine.events(second)
                 if e.name == "Completed"][0]
    assert completed == first_manifest
    reused = [e.detail for e in engine.events(second)
              if e.name == "ResultsReused"][0]
    assert first in reused


def test_result_reuse_requires_verified_prior(engine):
    """An UNVERIFIED completed run must not populate the result cache:
    without the determinism gate + manifest, same computation does not
    imply same result. The reuse submit falls through to real execution."""
    engine.submit(JobSpec(query="q13_join_agg", inputs={"sf_dir": SF_DIR}))
    second = engine.submit(JobSpec(query="q13_join_agg",
                                   inputs={"sf_dir": SF_DIR}, reuse=True))
    names = [e.name for e in engine.events(second)]
    assert "ResultsReused" not in names
    assert "Running" in names


def test_result_reuse_distinguishes_inputs(engine):
    """Different inputs => different content key => no reuse."""
    engine.submit(JobSpec(query="q25_topk", inputs={"sf_dir": SF_DIR},
                          verified=True))
    other = engine.submit(JobSpec(
        query="q25_topk", inputs={"sf_dir": SF_DIR, "variant": "x"},
        reuse=True))
    assert "ResultsReused" not in [e.name for e in engine.events(other)]


def test_contentstore_inputs_size_disk_admission(spark, tmp_path):
    """GetVolumeSize-based admission: a spec mounting content-addressed
    inputs bigger than the node's disk limit is rejected at submit (the
    SelectJob volume-size probe, `pkg/computenode/computenode.go:348-405`),
    and a fitting mount is admitted; an unknown address rejects too (the
    HasStorageLocally planning-time probe)."""
    from bacalhau_spark.capacity import CapacityManager, ResourceUsage
    from bacalhau_spark.engine import JobRejectedError
    from bacalhau_spark.sources import contentstore as cs

    root = str(tmp_path / "store")
    big = cs.store_put(root, b"x" * 4096)
    small = cs.store_put(root, b"y" * 16)
    cap = CapacityManager(total=ResourceUsage(cpu=8.0, memory=32 << 30,
                                              disk=1024, gpu=0))
    eng = Engine(spark, queries(), capacity=cap)
    with pytest.raises(JobRejectedError, match="exceeds total capacity"):
        eng.submit(JobSpec(query="q01_scan_projection",
                           inputs={"sf_dir": SF_DIR, "store": root,
                                   "addresses": [big]}))
    rid = eng.submit(JobSpec(query="q01_scan_projection",
                             inputs={"sf_dir": SF_DIR, "store": root,
                                     "addresses": [small]}))
    assert eng.state(rid) == EVT_COMPLETED
    with pytest.raises(JobRejectedError, match="not in store"):
        eng.submit(JobSpec(query="q01_scan_projection",
                           inputs={"sf_dir": SF_DIR, "store": root,
                                   "addresses": ["f" * 32]}))


def test_cancel_queued_run(spark):
    """A still-backlogged run cancels immediately: removed before it ever
    bids, terminal state Cancelled, wait() raises JobCancelledError, and
    the slot it never took is unaffected."""
    import time

    from bacalhau_spark.capacity import CapacityManager, ResourceUsage
    from bacalhau_spark.engine import JobCancelledError

    reg = queries()

    def slow(spark_, sf_dir):
        time.sleep(3)
        from bacalhau_spark.catalog import table
        return table(spark_, sf_dir, "nation")

    reg["p_slow"] = slow
    eng = Engine(spark, reg,
                 capacity=CapacityManager(total=ResourceUsage(cpu=1.0)))
    running = eng.submit_async(JobSpec(query="p_slow",
                                       inputs={"sf_dir": SF_DIR},
                                       resources={"cpu": "1"}))
    queued = eng.submit_async(JobSpec(query="q01_scan_projection",
                                      inputs={"sf_dir": SF_DIR},
                                      resources={"cpu": "1"}))
    assert eng.capacity.queue_position(queued) == 0
    assert eng.cancel(queued) == "Cancelled"
    with pytest.raises(JobCancelledError):
        eng.wait(queued, timeout=5)
    eng.wait(running, timeout=60)
    assert eng.state(running) == EVT_COMPLETED
    # cancelling a terminal run is a no-op reporting its real state
    assert eng.cancel(running) == EVT_COMPLETED


def test_cancel_running_run(spark):
    """Cancelling a RUNNING run kills its Spark job group: the run ends
    Cancelled (not Error) and wait() raises JobCancelledError."""
    from bacalhau_spark.engine import JobCancelledError

    reg = queries()

    def heavy(spark_, sf_dir):
        from pyspark.sql import functions as F
        return spark_.range(50_000_000_000).agg(F.sum("id").alias("s"))

    reg["p_heavy"] = heavy
    eng = Engine(spark, reg)
    rid = eng.submit_async(JobSpec(query="p_heavy",
                                   inputs={"sf_dir": SF_DIR}))
    # let the action start so the job group is registered
    deadline = __import__("time").time() + 30
    while eng.state(rid) not in ("Running",) and \
            __import__("time").time() < deadline:
        __import__("time").sleep(0.1)
    eng.cancel(rid)
    with pytest.raises(JobCancelledError):
        eng.wait(rid, timeout=60)
    assert eng.state(rid) == "Cancelled"


def test_result_reuse_bypassed_for_fresh_output_path(engine, spark, tmp_path):
    """A reuse=True submit whose declared outputs.path differs from the
    cached run's must execute for real: short-circuiting would leave the
    declared path unwritten (and a '@parent' pipeline hand-off reading a
    missing — or stale — path)."""
    path_a = str(tmp_path / "a")
    engine.submit(JobSpec(query="q25_topk", inputs={"sf_dir": SF_DIR},
                          outputs={"path": path_a}, verified=True))
    path_b = str(tmp_path / "b")
    second = engine.submit(JobSpec(query="q25_topk",
                                   inputs={"sf_dir": SF_DIR},
                                   outputs={"path": path_b}, reuse=True))
    names = [e.name for e in engine.events(second)]
    assert "ResultsReused" not in names and "Running" in names
    assert spark.read.parquet(path_b).count() > 0
    # …but the SAME declared path is satisfied by the prior artifact:
    third = engine.submit(JobSpec(query="q25_topk",
                                  inputs={"sf_dir": SF_DIR},
                                  outputs={"path": path_a}, reuse=True))
    assert "ResultsReused" in [e.name for e in engine.events(third)]


def test_result_reuse_distinguishes_context(engine, tmp_path):
    """spec.context is part of a computation's identity: query closures
    can import shipped context code, so same (query, inputs) over a
    DIFFERENT context dir must not hit the result cache."""
    ctx1 = tmp_path / "ctx1"
    ctx1.mkdir()
    (ctx1 / "helper.py").write_text("K = 1\n")
    ctx2 = tmp_path / "ctx2"
    ctx2.mkdir()
    (ctx2 / "helper.py").write_text("K = 2\n")
    engine.submit(JobSpec(query="q25_topk", inputs={"sf_dir": SF_DIR},
                          context=str(ctx1), verified=True))
    other = engine.submit(JobSpec(query="q25_topk", inputs={"sf_dir": SF_DIR},
                                  context=str(ctx2), reuse=True))
    assert "ResultsReused" not in [e.name for e in engine.events(other)]
    # identical context content => identical key => reuse
    same = engine.submit(JobSpec(query="q25_topk", inputs={"sf_dir": SF_DIR},
                                 context=str(ctx1), reuse=True))
    assert "ResultsReused" in [e.name for e in engine.events(same)]


def test_round6_operators_run_through_engine_verified(engine):
    """The round-6 queries are served by the same engine plane as
    everything else; spot-run the composite funnel REPLICATED+VERIFIED
    (its plan must be deterministic enough for manifest agreement — the
    Concurrency=2 contract) and the streaming ingest screen unverified
    (streaming queries bypass the Catalyst determinism walk)."""
    run_id = engine.submit(JobSpec(query="nd_curation_funnel",
                                   inputs={"sf_dir": SF_DIR},
                                   replicas=2, verified=True))
    assert engine.state(run_id) == EVT_RESULTS_ACCEPTED
    run_id2 = engine.submit(JobSpec(query="nd_semantic_dedup",
                                    inputs={"sf_dir": SF_DIR},
                                    replicas=2, verified=True))
    assert engine.state(run_id2) == EVT_RESULTS_ACCEPTED


def test_mount_only_spec_stages_inputs_never_default_fixture(spark,
                                                             tmp_path):
    """A spec whose inputs are ONLY a contentstore mount must execute
    over the STAGED (verified) mount contents, never silently over the
    default fixture dir: (a) a mount-reading query sees exactly the
    mounted bytes; (b) a fixture-table query over a mount ERRORS instead
    of completing with fabricated fixture results; (c) a tampered blob
    fails the run at staging."""
    import os
    from bacalhau_spark.sources import contentstore as cs

    root = str(tmp_path / "store")
    a1 = cs.store_put(root, b"alpha\nbeta")
    a2 = cs.store_put(root, b"gamma")

    def mount_reader(spark_, path):
        rows = []
        for name in sorted(os.listdir(path)):
            with open(os.path.join(path, name), "rb") as f:
                rows.append((name, f.read().decode()))
        return spark_.createDataFrame(rows, "addr string, body string")

    eng = Engine(spark, {"mount_reader": mount_reader,
                         **{"q01_scan_projection":
                            queries()["q01_scan_projection"]}})
    rid = eng.submit(JobSpec(query="mount_reader",
                             inputs={"store": root,
                                     "addresses": [a1, a2]},
                             outputs={"path": str(tmp_path / "out")}))
    assert eng.state(rid) == EVT_COMPLETED
    got = {r["addr"]: r["body"] for r in eng.fetch_results(rid)}
    assert got == {a1: "alpha\nbeta", a2: "gamma"}

    # (b) fixture-table query over a mount: fails loudly (PATH_NOT_FOUND
    # on the staged dir), never completes over the default fixture
    before = set(eng.list_runs())
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        eng.submit(JobSpec(query="q01_scan_projection",
                           inputs={"store": root, "addresses": [a1]}))
    (rid2,) = set(eng.list_runs()) - before
    assert eng.state(rid2) == EVT_ERROR

    # (c) tampered blob: staging itself fails the run
    with open(os.path.join(root, a2), "wb") as f:
        f.write(b"evil")
    before = set(eng.list_runs())
    with pytest.raises(Exception, match="integrity"):
        eng.submit(JobSpec(query="mount_reader",
                           inputs={"store": root, "addresses": [a2]}))
    (rid3,) = set(eng.list_runs()) - before
    assert eng.state(rid3) == EVT_ERROR


def test_malformed_mount_address_rejected_before_any_file_op(spark,
                                                             tmp_path):
    """Addresses are untrusted spec input (reachable via HTTP /submit):
    anything that is not a bare 32-char md5-hex blob name — an absolute
    path, a '../' traversal, a separator — must reject at submit
    admission, BEFORE any stat/open. Regression for the staging
    path-traversal hole where open(join(stage, addr), 'wb') with an
    absolute address truncated an arbitrary writable file."""
    import os

    from bacalhau_spark.engine import JobRejectedError

    victim = tmp_path / "victim_secret.txt"
    victim.write_bytes(b"precious")
    root = str(tmp_path / "store")
    os.makedirs(root, exist_ok=True)

    eng = Engine(spark, queries())
    for evil in ([str(victim)],              # absolute path
                 [f"../{victim.name}"],      # traversal
                 ["a" * 31], ["A" * 32],     # wrong length / case
                 f"{'a' * 32},{victim}"):    # comma-string form
        with pytest.raises(JobRejectedError, match="malformed"):
            eng.submit(JobSpec(query="q01_scan_projection",
                               inputs={"store": root, "addresses": evil}))
    assert victim.read_bytes() == b"precious"

    # Defense in depth: _stage_mounts re-validates even when called
    # without going through submit admission — and a verified-read
    # failure (missing blob) must not leave a created/truncated file.
    with pytest.raises(ValueError, match="malformed"):
        eng._stage_mounts("rid-direct",
                          JobSpec(query="q01_scan_projection",
                                  inputs={"store": root,
                                          "addresses": [str(victim)]}))
    assert victim.read_bytes() == b"precious"
    missing = "0" * 32
    with pytest.raises(OSError):
        eng._stage_mounts("rid-missing",
                          JobSpec(query="q01_scan_projection",
                                  inputs={"store": root,
                                          "addresses": [missing]}))
    # nothing staged for the failed fetch anywhere under the scratch root
    from bacalhau_spark.scratch import scratch_root
    leftovers = [p for p, _, files in os.walk(scratch_root())
                 for f in files if f == missing]
    assert leftovers == []
