"""REST API round-trip tests — the reference's publicapi server/client test
analog (`pkg/publicapi/server_test.go:46-95`, `client_test.go:12`): health
probes, submit → poll states → fetch events/results, and error mapping."""

from __future__ import annotations

import time

import pytest

from bacalhau_spark import __version__
from bacalhau_spark.api import ApiClient, ApiError, ApiServer
from bacalhau_spark.engine import Engine
from bacalhau_spark.registry import queries

from tests.conftest import SF_DIR


@pytest.fixture()
def api(spark):
    server = ApiServer(Engine(spark, queries()), port=0).start_background()
    try:
        yield ApiClient(server.url)
    finally:
        server.shutdown()


def test_health_and_version(api):
    assert api.healthz()
    assert api.version() == __version__


def test_submit_states_events_roundtrip(api):
    run_id = api.submit({"query": "q01_scan_projection",
                         "inputs": {"sf_dir": SF_DIR}})
    assert api.states(run_id) == "Completed"
    evts = api.events(run_id)
    assert [e["name"] for e in evts][:3] == ["Created", "Bid", "Running"]
    assert evts[-1]["name"] == "Completed"
    assert api.list_runs()[run_id] == "Completed"


def test_introspection_routes(api):
    """/id /peers /varz /logz /metrics — the reference's node
    introspection plane (server.go:72-85) on the single-driver engine."""
    assert api.node_id()  # spark application id, non-empty
    assert api.peers() == []  # single driver: no peer table
    run_id = api.submit({"query": "q01_scan_projection",
                         "inputs": {"sf_dir": SF_DIR}})
    v = api.varz()
    assert v["capacity"]["total"]["cpu"] > 0
    assert v["spark"]["spark.sql.adaptive.enabled"] is not None
    lines = api.logz()
    assert any(run_id in ln and "Completed" in ln for ln in lines)
    assert api.logz(n=0) == []  # n=0 is an empty tail, not the full log
    assert api.logz(n=-5) == []
    m = api.metrics()
    assert 'bacalhau_runs_total{state="Completed"}' in m
    assert "bacalhau_backlog_len 0" in m


def test_cancel_endpoint(api):
    """POST /cancel: a completed run reports its real state (no-op); an
    unknown run id maps to 404."""
    run_id = api.submit({"query": "q01_scan_projection",
                         "inputs": {"sf_dir": SF_DIR}})
    assert api.cancel(run_id) == "Completed"
    with pytest.raises(ApiError) as ei:
        api.cancel("nope")
    assert ei.value.status == 404


def test_local_events_spans_runs(api):
    r1 = api.submit({"query": "q01_scan_projection",
                     "inputs": {"sf_dir": SF_DIR}})
    r2 = api.submit({"query": "q01_scan_projection",
                     "inputs": {"sf_dir": SF_DIR}})
    evts = api.local_events()
    assert {r1, r2} <= {e["run_id"] for e in evts}


def test_describe_and_get_results(api, tmp_path):
    out = str(tmp_path / "api_out")
    run_id = api.submit({"query": "q01_scan_projection",
                         "inputs": {"sf_dir": SF_DIR},
                         "outputs": {"path": out, "format": "parquet"},
                         "replicas": 2, "verified": True})
    desc = api.describe(run_id)
    assert desc["state"] == "ResultsAccepted"
    assert desc["query"] == "q01_scan_projection"
    assert desc["manifest"]  # replica-compared content manifest published
    rows = api.results(run_id, limit=100)
    assert len(rows) == 25
    assert {"n_nationkey", "n_name", "n_regionkey"} <= set(rows[0])


def test_results_read_a_contentstore_sink(spark, tmp_path):
    """A `format: contentstore` run's rows come back through both the
    engine and the results endpoint: the blobs its last manifest names,
    read by address."""
    from bacalhau_spark.registry import engine_registry
    from bacalhau_spark.sources.contentstore import json_lines
    from bacalhau_spark.stages import stage_gopher_keep

    engine = Engine(spark, engine_registry())
    server = ApiServer(engine, port=0).start_background()
    try:
        api = ApiClient(server.url)
        run_id = api.submit({"query": "stage_gopher_keep",
                             "inputs": {"sf_dir": SF_DIR},
                             "outputs": {"path": str(tmp_path / "cs"),
                                         "format": "contentstore"}})
        assert api.states(run_id) == "Completed"
        want = sorted(r.value for r in json_lines(
            stage_gopher_keep(spark, SF_DIR)).collect())
        assert want
        for rows in (engine.fetch_results(run_id, limit=len(want)),
                     api.results(run_id, limit=len(want))):
            assert sorted(r["value"] for r in rows) == want
    finally:
        server.shutdown()


def test_error_mapping(api):
    with pytest.raises(ApiError) as exc:
        api.states("no-such-run")
    assert exc.value.status == 404
    with pytest.raises(ApiError) as exc:
        api.submit({"query": "no_such_query"})
    assert exc.value.status == 404
    with pytest.raises(ApiError) as exc:
        api.submit({"inputs": {}})  # spec without a query field
    assert exc.value.status == 400
    with pytest.raises(ApiError) as exc:
        api.results("no-such-run")
    assert exc.value.status == 404


def test_results_without_sink_is_400(api):
    run_id = api.submit({"query": "q01_scan_projection",
                         "inputs": {"sf_dir": SF_DIR}})
    with pytest.raises(ApiError) as exc:
        api.results(run_id)
    assert exc.value.status == 400


def test_download_result_files(api, tmp_path, spark):
    """`get --output-dir` analog: the run's published sink files round-trip
    over /resultfiles and are readable parquet on the client side."""
    out = str(tmp_path / "sink")
    run_id = api.submit({"query": "q01_scan_projection",
                         "inputs": {"sf_dir": SF_DIR},
                         "outputs": {"path": out, "format": "parquet"}})
    dest = str(tmp_path / "downloaded")
    written = api.download(run_id, dest)
    assert written and all(p.startswith(dest) for p in written)
    assert spark.read.parquet(dest).count() == 25


def test_async_submit_returns_before_completion_then_polls(api):
    out = api.submit_async({"query": "q01_scan_projection",
                            "inputs": {"sf_dir": SF_DIR}})
    rid = out["run_id"]
    assert out["state"] in ("Created", "Bid", "Running", "Completed")
    deadline = time.time() + 60
    while api.states(rid) != "Completed":
        assert time.time() < deadline, "run did not complete in 60s"
        time.sleep(0.1)
    assert api.list_runs()[rid] == "Completed"


@pytest.fixture()
def authed(spark):
    server = ApiServer(Engine(spark, queries()), port=0,
                       secret="s3kr1t").start_background()
    try:
        yield server
    finally:
        server.shutdown()


def test_submit_auth_good_and_bad_signature(authed):
    """The submit-signature analog (`pkg/publicapi/server.go:329-407`):
    a correctly signed body is accepted; a missing or wrong signature is
    401; GET views stay open (the reference only signs submits)."""
    spec = {"query": "q01_scan_projection", "inputs": {"sf_dir": SF_DIR}}
    good = ApiClient(authed.url, client_id="alice", secret="s3kr1t")
    rid = good.submit(spec)
    assert good.states(rid) == "Completed"

    unsigned = ApiClient(authed.url)
    with pytest.raises(ApiError) as exc:
        unsigned.submit(spec)
    assert exc.value.status == 401

    wrong_key = ApiClient(authed.url, client_id="alice", secret="wrong")
    with pytest.raises(ApiError) as exc:
        wrong_key.submit(spec)
    assert exc.value.status == 401


def _raw_submit(url, body, headers):
    from urllib import request as _rq
    from urllib.error import HTTPError

    req = _rq.Request(url + "/submit", data=body, headers={
        "Content-Type": "application/json", **headers})
    try:
        with _rq.urlopen(req, timeout=30) as resp:
            return resp.status
    except HTTPError as exc:
        return exc.code


def test_submit_auth_rejects_tampered_body(authed):
    """A signature computed over a DIFFERENT body must not authorize this
    one (the integrity half of the submit-signature contract)."""
    import json as _json
    import time as _time

    from bacalhau_spark.api import _sign

    good_body = _json.dumps({"spec": {"query": "q01_scan_projection",
                                      "inputs": {"sf_dir": SF_DIR}}}).encode()
    evil_body = _json.dumps({"spec": {"query": "q01_scan_projection",
                                      "inputs": {"sf_dir": SF_DIR},
                                      "replicas": 3}}).encode()
    ts = str(int(_time.time()))
    sig = _sign("s3kr1t", "alice", good_body, "POST", "/submit", ts)
    assert _raw_submit(authed.url, evil_body, {
        "X-Bacalhau-Client-Id": "alice",
        "X-Bacalhau-Timestamp": ts,
        "X-Bacalhau-Signature": sig}) == 401


def test_submit_auth_binds_path_and_timestamp(authed):
    """The signature covers method+path+query and a fresh timestamp: adding
    ?wait=1 to a signed plain /submit, or replaying a signature from
    outside the freshness window, must both be rejected."""
    import json as _json
    import time as _time
    from urllib import request as _rq
    from urllib.error import HTTPError

    from bacalhau_spark.api import _sign

    body = _json.dumps({"spec": {"query": "q01_scan_projection",
                                 "inputs": {"sf_dir": SF_DIR}}}).encode()
    ts = str(int(_time.time()))
    sig = _sign("s3kr1t", "alice", body, "POST", "/submit", ts)
    # middlebox adds ?wait=1 — path no longer matches the signed one
    req = _rq.Request(authed.url + "/submit?wait=1", data=body, headers={
        "Content-Type": "application/json",
        "X-Bacalhau-Client-Id": "alice",
        "X-Bacalhau-Timestamp": ts,
        "X-Bacalhau-Signature": sig})
    try:
        _rq.urlopen(req, timeout=30)
        raise AssertionError("query-tampered request accepted")
    except HTTPError as exc:
        assert exc.code == 401
    # replay with a stale timestamp (signature itself is consistent)
    old_ts = str(int(_time.time()) - 3600)
    old_sig = _sign("s3kr1t", "alice", body, "POST", "/submit", old_ts)
    assert _raw_submit(authed.url, body, {
        "X-Bacalhau-Client-Id": "alice",
        "X-Bacalhau-Timestamp": old_ts,
        "X-Bacalhau-Signature": old_sig}) == 401


def test_per_client_credentials(spark):
    """Per-client key binding (`pkg/publicapi/server.go:391-407` analog):
    each client signs with its OWN secret; client A's key must not sign
    for client B's id, and an unknown client id is rejected outright."""
    server = ApiServer(Engine(spark, queries()), port=0,
                       credentials={"alice": "akey",
                                    "bob": "bkey"}).start_background()
    try:
        spec = {"query": "q01_scan_projection", "inputs": {"sf_dir": SF_DIR}}
        alice = ApiClient(server.url, client_id="alice", secret="akey")
        rid = alice.submit(spec)
        assert alice.states(rid) == "Completed"
        bob = ApiClient(server.url, client_id="bob", secret="bkey")
        assert bob.submit(spec)
        # alice's key cannot authenticate as bob
        imposter = ApiClient(server.url, client_id="bob", secret="akey")
        with pytest.raises(ApiError) as exc:
            imposter.submit(spec)
        assert exc.value.status == 401
        # unknown client id has no bound key
        stranger = ApiClient(server.url, client_id="mallory", secret="akey")
        with pytest.raises(ApiError) as exc:
            stranger.submit(spec)
        assert exc.value.status == 401
    finally:
        server.shutdown()


def test_submit_reports_queue_position(spark):
    """An async submit into a busy engine reports its backlog position so
    clients can implement queue-aware waiting."""
    import threading

    from bacalhau_spark.capacity import CapacityManager, ResourceUsage

    cm = CapacityManager(total=ResourceUsage(cpu=1.0), max_backlog=4)
    eng = Engine(spark, queries(), capacity=cm)
    gate = threading.Event()
    base = queries()["q01_scan_projection"]
    eng.registry["slow_q01"] = lambda s, d: (gate.wait(30), base(s, d))[1]
    server = ApiServer(eng, port=0).start_background()
    try:
        client = ApiClient(server.url)
        first = client.submit_async({"query": "slow_q01",
                                     "inputs": {"sf_dir": SF_DIR}})
        second = client.submit_async({"query": "q01_scan_projection",
                                      "inputs": {"sf_dir": SF_DIR}})
        assert "queue_position" not in first or first["state"] != "Created"
        assert second["state"] == "Created"
        assert second["queue_position"] == 0
        gate.set()
        eng.wait(second["run_id"], timeout=60)
    finally:
        gate.set()
        server.shutdown()


def test_submit_bad_resources_is_400(api):
    with pytest.raises(ApiError) as exc:
        api.submit({"query": "q01_scan_projection",
                    "resources": {"cpu": "not-a-number"}})
    assert exc.value.status == 400
    with pytest.raises(ApiError) as exc:
        api.submit({"query": "q01_scan_projection",
                    "resources": {"flux_capacitors": 1}})
    assert exc.value.status == 400


def test_results_conflict_while_running(spark, tmp_path):
    """/results on a not-yet-finished run maps RunNotCompleteError to 409
    instead of 500-on-missing-path or stale reads."""
    import threading

    eng = Engine(spark, queries())
    gate = threading.Event()
    base = queries()["q01_scan_projection"]

    def slow_query(s, d):
        gate.wait(30)
        return base(s, d)

    eng.registry["slow_q01"] = slow_query
    server = ApiServer(eng, port=0).start_background()
    try:
        client = ApiClient(server.url)
        out = client.submit_async(
            {"query": "slow_q01", "inputs": {"sf_dir": SF_DIR},
             "outputs": {"path": str(tmp_path / "out")}})
        with pytest.raises(ApiError) as exc:
            client.results(out["run_id"])
        assert exc.value.status == 409
        gate.set()
    finally:
        gate.set()
        server.shutdown()


def test_pipeline_endpoint_success(api, tmp_path):
    out = api.pipeline([
        {"name": "a", "query": "q01_scan_projection",
         "inputs": {"sf_dir": SF_DIR},
         "outputs": {"path": str(tmp_path / "nation.parquet")}},
        {"name": "b", "query": "q01_scan_projection", "after": ["a"],
         "inputs": {"sf_dir": str(tmp_path)}},
    ])
    assert out["failed"] is False
    assert set(out["stages"]) == {"a", "b"}
    assert all(s in ("Completed", "ResultsAccepted")
               for s in out["stages"].values())


def test_pipeline_endpoint_failure_carries_statuses(api):
    out = api.pipeline([
        {"name": "a", "query": "no_such_query",
         "inputs": {"sf_dir": SF_DIR}},
        {"name": "b", "query": "q01_scan_projection", "after": ["a"],
         "inputs": {"sf_dir": SF_DIR}},
    ])
    assert out["failed"] is True
    assert out["stages"]["b"] == "Cancelled"


def test_pipeline_endpoint_rejects_cycle(api):
    with pytest.raises(ApiError) as ei:
        api.pipeline([
            {"name": "a", "query": "q01_scan_projection", "after": ["b"],
             "inputs": {"sf_dir": SF_DIR}},
            {"name": "b", "query": "q01_scan_projection", "after": ["a"],
             "inputs": {"sf_dir": SF_DIR}},
        ])
    assert ei.value.status == 400


def test_list_cache_etag_and_invalidation(api, spark):
    """r13: /list is served from a revision-stamped cache — identical
    state yields an identical ETag and a 304 on If-None-Match, and any
    state change (a new run's emits) bumps the revision so the next
    /list serves fresh content, never a stale table."""
    from urllib import request as urlrequest
    from urllib.error import HTTPError

    run1 = api.submit({"query": "q01_scan_projection",
                       "inputs": {"sf_dir": SF_DIR}})

    def get_list(etag=None):
        req = urlrequest.Request(api.base_url + "/list")
        if etag:
            req.add_header("If-None-Match", etag)
        try:
            with urlrequest.urlopen(req) as resp:
                return resp.status, resp.headers.get("ETag"), resp.read()
        except HTTPError as e:  # urllib raises on 304
            return e.code, e.headers.get("ETag"), b""

    code1, etag1, body1 = get_list()
    assert code1 == 200 and etag1
    code2, etag2, body2 = get_list()
    assert (code2, etag2, body2) == (200, etag1, body1)
    code3, etag3, _ = get_list(etag=etag1)
    assert code3 == 304 and etag3 == etag1

    run2 = api.submit({"query": "q01_scan_projection",
                       "inputs": {"sf_dir": SF_DIR}})
    code4, etag4, body4 = get_list(etag=etag1)
    assert code4 == 200 and etag4 != etag1
    runs = __import__("json").loads(body4)["runs"]
    assert run1 in runs and run2 in runs
