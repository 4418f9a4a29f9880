"""Engine: declarative job specs, an event-log run history, and replicated
verification — the reference's control-plane *semantics* on a single Spark
driver.

Mapping (SURVEY.md §1, §3):
- JobSpec (`pkg/executor/types.go:57-87`, YAML/JSON documents parsed by
  `cmd/bacalhau/apply.go:60-176`) → a declarative pipeline spec: named query
  + inputs + sink, loadable from YAML/JSON.
- Controller submit + event fold (`pkg/controller/controller.go:127-158`,
  state fold `pkg/executor/constants.go:211-250`) → an append-only event log;
  current state = max-ordinal event per run (the Q20 query shape, dogfooded).
- Deal.Concurrency / replicated execution + results acceptance
  (`pkg/executor/types.go:138-142`, `pkg/requesternode/requesternode.go:89-121`,
  `pkg/controller/controller.go:211-241`) → run the same deterministic plan N
  times and compare content manifests; mismatch ⇒ ResultsRejected.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from bacalhau_spark.capacity import (BacklogFullError, CapacityManager,
                                     NeverFitsError)
from bacalhau_spark.plans.validation import assert_deterministic
from bacalhau_spark.sources.sinks import result_manifest

# Event names follow `pkg/executor/constants.go:44-89`.
EVT_CREATED = "Created"
EVT_BID = "Bid"  # admitted from the backlog: the node bid when capacity freed
EVT_RUNNING = "Running"
EVT_METRICS = "Metrics"  # execution telemetry (OTel-span analog)
EVT_COMPLETED = "Completed"
EVT_ERROR = "Error"
EVT_RESULTS_ACCEPTED = "ResultsAccepted"
EVT_RESULTS_REJECTED = "ResultsRejected"
EVT_RESULTS_REUSED = "ResultsReused"  # content-addressed result-cache hit
EVT_REJECTED = "Rejected"
EVT_CANCELLED = "Cancelled"  # requester-side cancel (JobStateCancelled)

# States a run's results may be read back in (fetch_results gate).
TERMINAL_OK_STATES = (EVT_COMPLETED, EVT_RESULTS_ACCEPTED)


def build_context_archive(context_dir: str,
                          max_bytes: int = 10 << 20) -> tuple[str, str]:
    """Package a working directory for shipping to executors — the
    `run python` context-upload analog (`cmd/bacalhau/run_python.go:145-167`
    tars ≤10 MiB of CWD; the server pins it, `pkg/publicapi/server.go:470-535`).

    The zip is named by a hash of its CONTENT (relative paths + bytes), the
    CID-pinning story: identical contexts map to the same artifact, so
    re-submits re-register the same path instead of colliding on Spark's
    one-basename-one-file rule.

    Every file is placed under a content-addressed NAMESPACE package
    (`ctx_<digest16>`) — the per-job context-mount semantics of the
    reference (each job sees its own `/job` mount): two jobs can ship
    DIFFERENT versions of a same-named module and both import cleanly as
    `ctx_<h1>.helper` / `ctx_<h2>.helper`; addPyFile's one-way global
    registration can never alias them. Returns (archive_path, namespace).
    """
    import hashlib
    import os
    import pathlib
    import zipfile

    from bacalhau_spark.scratch import scratch_root

    base = pathlib.Path(context_dir)
    if not base.is_dir():
        raise ValueError(f"context {context_dir!r} is not a directory")
    files = sorted(p for p in base.rglob("*") if p.is_file())
    total = sum(p.stat().st_size for p in files)
    if total > max_bytes:
        raise ValueError(
            f"context {context_dir!r} is {total} bytes; max {max_bytes}")
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(base)).encode())
        digest.update(b"\0")
        digest.update(p.read_bytes())
    ns = f"ctx_{digest.hexdigest()[:16]}"
    out = os.path.join(scratch_root(), f"{ns}.zip")
    if not os.path.exists(out):
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
            names = {str(p.relative_to(base)) for p in files}
            if "__init__.py" not in names:
                zf.writestr(f"{ns}/__init__.py", "")
            for p in files:
                zf.write(p, arcname=f"{ns}/{p.relative_to(base)}")
    return out, ns


# Thread-local handle to the namespace of the context shipped for the run
# executing on this worker thread (set by Engine._execute).
_ctx_local = threading.local()


def current_context_namespace() -> str | None:
    """The namespace package of the context shipped for the run executing
    on this thread (None outside a context-bearing run). Query functions
    capture this INTO executor-side closures — the string pickles by
    value, and the namespaced zip travels to workers via addPyFile, so
    `importlib.import_module(f"{ns}.mymod")` works inside a pandas UDF."""
    return getattr(_ctx_local, "namespace", None)


def context_module(name: str):
    """Import a module from the CURRENT run's shipped context — the `/job`
    mount accessor. Usable from registry query functions executed by the
    engine; raises if the run shipped no context. Executor-side closures
    should capture the imported module's functions by value (pickled) —
    the namespace travels to workers via addPyFile, but the thread-local
    does not."""
    import importlib

    ns = getattr(_ctx_local, "namespace", None)
    if ns is None:
        raise RuntimeError("no context shipped for the current run")
    return importlib.import_module(f"{ns}.{name}")


class JobRejectedError(RuntimeError):
    """A submit-time policy hook declined the job (the SelectJob=false
    path, `pkg/computenode/computenode.go:348-405`)."""


class ResultsRejectedError(RuntimeError):
    """Replica manifests disagreed — the results-rejected path
    (`pkg/controller/controller.go:211-241`). Raised so callers get a hard
    failure signal instead of having to poll state(); nothing is published."""


@dataclass
class JobSpec:
    """Declarative job document (the `testdata/job.yaml` shape, re-typed for
    a query engine): which query, over which inputs, with what guarantees."""
    query: str                      # name in the engine's query registry
    inputs: dict = field(default_factory=dict)   # e.g. {"sf_dir": "..."}
    outputs: dict = field(default_factory=dict)  # e.g. {"path": "...", "format": "parquet"}
    replicas: int = 1               # Deal.Concurrency analog
    verified: bool = False          # enforce deterministic plan + manifest compare
    annotations: list = field(default_factory=list)
    resources: dict = field(default_factory=dict)  # {"cpu": "500m", "memory": "2Gb", ...}
    context: str | None = None      # dir shipped to executors (run-python context analog)
    # Content-addressed result reuse: when True, an identical (query,
    # inputs) computation that already completed VERIFIED in this session
    # is not re-executed — the run completes immediately pointing at the
    # prior result (the reference's CID-cache semantics lifted from inputs
    # to results: immutable inputs + deterministic job => same output,
    # `pkg/storage/ipfs_apicopy/storage.go:116-134`). Only verified runs
    # populate the cache: without the determinism gate + manifest, "same
    # computation" would not imply "same result".
    reuse: bool = False
    # Max execution wall-clock. The reference bounds every job-adjacent
    # operation (volume probe 120 s, CID/URL fetch 300 s,
    # `pkg/config/config.go:42-82`); here the whole run is the unit: on
    # expiry the run's Spark job group is cancelled and the run errors.
    # NOTE: the watchdog cancels SPARK ACTIONS only — a run blocked in
    # pure-Python registry code before any action is not interruptible
    # from outside the GIL; callers that must bound total wall-clock pass
    # a timeout to Engine.wait (the API's ?wait=1 path does, api.py).
    timeout_s: float | None = None

    def __post_init__(self) -> None:
        # Validate + sanitize at construction (the reference validates specs
        # at submit: resources `pkg/capacitymanager/capacitymanager.go:61-179`,
        # labels `pkg/job/util.go:8-23`). Bad resource strings raise here.
        from bacalhau_spark.resources import sanitize_annotation, to_spark_conf
        # executor sizing keys go into session construction (cli.py
        # threads them into the builder)
        self.spark_conf = to_spark_conf(self.resources)
        self.annotations = [sanitize_annotation(str(a))
                            for a in self.annotations]
        if self.timeout_s is not None:
            # A string from a JSON spec would silently break the watchdog
            # (truthy, but Timer/Event.wait would fail in the daemon
            # thread); a non-positive value would cancel every run at start.
            if not isinstance(self.timeout_s, (int, float)) \
                    or isinstance(self.timeout_s, bool) \
                    or not self.timeout_s > 0:
                raise ValueError(
                    f"timeout_s must be a positive number, "
                    f"got {self.timeout_s!r}")
            self.timeout_s = float(self.timeout_s)

    @classmethod
    def from_dict(cls, doc: dict) -> "JobSpec":
        known = {k: doc[k] for k in
                 ("query", "inputs", "outputs", "replicas", "verified",
                  "annotations", "resources", "context", "timeout_s",
                  "reuse")
                 if k in doc}
        if "query" not in known:
            raise ValueError("job spec requires a 'query' field")
        return cls(**known)

    @classmethod
    def load(cls, path: str) -> "JobSpec":
        """Load a YAML or JSON job document (`cmd/bacalhau/apply.go:60-176`
        analog). YAML support is optional (import-gated)."""
        with open(path) as f:
            raw = f.read()
        if path.endswith((".yaml", ".yml")):
            try:
                import yaml  # type: ignore
                return cls.from_dict(yaml.safe_load(raw))
            except ImportError:
                raise RuntimeError("pyyaml not installed; use JSON specs")
        return cls.from_dict(json.loads(raw))


@dataclass
class JobEvent:
    run_id: str
    ordinal: int
    name: str
    ts: float
    detail: str = ""


class JobTimeoutError(RuntimeError):
    """The run exceeded its spec's timeout_s; its Spark job group was
    cancelled (the engine-level analog of the reference's per-operation
    timeouts, `pkg/config/config.go:42-82`)."""


class JobCancelledError(RuntimeError):
    """The run was cancelled by the requester (Engine.cancel) — the
    JobStateCancelled terminal state (`pkg/executor/constants.go:151,223`).
    wait() re-raises this so a caller blocked on the run observes the
    cancellation rather than a generic error."""


class RunNotCompleteError(RuntimeError):
    """fetch_results on a run that has not (successfully) finished — reading
    the sink would 500 on a missing path or, worse, return stale bytes left
    at the same path by an earlier run."""


class PipelineError(RuntimeError):
    """One or more pipeline stages failed or were cancelled. `.statuses`
    maps every stage name to its run id, "Rejected", or "Cancelled" —
    completed stages keep their published results."""

    def __init__(self, msg: str, statuses: dict[str, str]):
        super().__init__(msg)
        self.statuses = dict(statuses)


class Engine:
    """Single-driver engine with the reference's run-lifecycle semantics."""

    def __init__(self, spark: SparkSession,
                 registry: dict[str, Callable[[SparkSession, str], DataFrame]],
                 policies: list[Callable[[JobSpec], bool]] | None = None,
                 capacity: CapacityManager | None = None):
        """`policies` are submit-time selection hooks — the reference's
        JobSelectionPolicy / exec-probe / http-probe plane
        (`pkg/computenode/job_selection.go:23-101`) as plain Python
        callables: each gets the spec; return False (or raise) to decline
        the job before any Spark work starts.

        `capacity` is the admission gate (capacity.py): submits enter a
        bounded FIFO backlog and start only when free capacity covers their
        resource request — the reference's capacitymanager plane. By
        default total capacity is PROBED from the session and machine
        (cores = sc.defaultParallelism, memory/disk from the OS — the
        reference's gopsutil-probe behavior), so a `serve --cpus 32`
        session really admits 32 one-core jobs; pass an explicit manager
        to cap it (the --limit-total-* flags do)."""
        from bacalhau_spark.capacity import detect_total
        self.spark = spark
        self.registry = dict(registry)
        self.policies = list(policies or [])
        self.capacity = capacity or CapacityManager(
            total=detect_total(cpus=spark.sparkContext.defaultParallelism))
        self._lock = threading.RLock()
        self._events: list[JobEvent] = []
        # per-run event index + latest-state map, maintained by _emit:
        # /list and /states are the endpoints clients HAMMER (the
        # quick_read.sh burst), and deriving state by scanning the
        # global log made each /list O(runs x events) — a read burst
        # measured 15 req/s at 200 runs (p50 6.7 s) for what is a
        # dictionary read. With the index: O(runs) per /list.
        self._run_events: dict[str, list[JobEvent]] = {}
        self._latest: dict[str, str] = {}
        # monotone state revision, bumped per emit: the API front's
        # /list response cache key (render the table once per state
        # CHANGE, not once per request)
        self._state_rev = 0
        self._ordinals: dict[str, int] = {}
        self._specs: dict[str, JobSpec] = {}
        self._errors: dict[str, BaseException] = {}
        self._done: dict[str, threading.Event] = {}
        # namespace -> archive path of every context shipped this session
        # (addPyFile has no un-register; namespaces are content-addressed
        # so re-ships of identical content are no-ops).
        self._ctx_modules: dict[str, str] = {}
        # run_id -> its context namespace (the per-job mount identity).
        self._ctx_ns: dict[str, str] = {}
        # content key -> (run_id, manifest) of verified completed runs,
        # consulted by reuse=True submits (result-plane CID cache).
        self._result_index: dict[str, tuple[str, str]] = {}
        # runs cancelled by the requester (Engine.cancel); _execute's
        # error path consults this to classify its failure as Cancelled.
        self._cancel_requested: set[str] = set()

    # -- event log ---------------------------------------------------------
    def _emit(self, run_id: str, name: str, detail: str = "") -> None:
        with self._lock:
            ordinal = self._ordinals.get(run_id, 0) + 1
            self._ordinals[run_id] = ordinal
            evt = JobEvent(run_id, ordinal, name, time.time(), detail)
            self._events.append(evt)
            self._run_events.setdefault(run_id, []).append(evt)
            # ordinals are monotone under the lock, so the event just
            # appended IS the max-ordinal (current-state) event
            self._latest[run_id] = name
            self._state_rev += 1

    def events(self, run_id: str | None = None) -> list[JobEvent]:
        with self._lock:
            if run_id is None:
                return list(self._events)
            return list(self._run_events.get(run_id, ()))

    def state(self, run_id: str) -> str:
        """Current state = max-ordinal event (`pkg/job/job.go:233-259`),
        served from the _emit-maintained index (O(1) — the poll verb)."""
        with self._lock:
            name = self._latest.get(run_id)
        if name is None:
            raise KeyError(f"unknown run {run_id}")
        return name

    def list_runs(self) -> dict[str, str]:
        with self._lock:
            return dict(self._latest)

    def state_rev(self) -> int:
        """The monotone revision of the latest-state map — equal revs
        guarantee an identical list_runs() table (the /list cache key)."""
        with self._lock:
            return self._state_rev

    def events_df(self) -> DataFrame:
        """The run log as a DataFrame — the reference's LocalDB views
        (`pkg/publicapi/server.go:195-312`) as queryable tables."""
        rows = [(e.run_id, e.ordinal, e.name, e.ts, e.detail)
                for e in self._events]
        return self.spark.createDataFrame(
            rows, "run_id string, ordinal int, name string, ts double, "
                  "detail string")

    def states_df(self) -> DataFrame:
        """Current state per run — the engine's own Q20 fold (max-ordinal
        event wins, `pkg/job/job.go:233-259`) run through its own operator
        plane (dogfooding)."""
        from pyspark.sql import functions as F
        return (self.events_df()
                .groupBy("run_id")
                .agg(F.max_by("name", "ordinal").alias("state")))

    def _result_manifest(self, df: DataFrame,
                         metrics_out: dict | None = None) -> str:
        """How THIS node fingerprints a result it is about to publish.
        The hook exists for the devstack's bad-actor nodes
        (`devstack.py`): a dishonest node overrides it to publish a
        corrupted — but internally self-consistent — digest, which
        within-node replica comparison cannot catch and federation-level
        verification must."""
        return result_manifest(df, metrics_out=metrics_out)

    def describe(self, run_id: str) -> dict:
        """Full run description: spec, state, event history, result manifest
        — the `bacalhau describe` view (`cmd/bacalhau/describe.go:73-176`)."""
        evts = sorted(self.events(run_id), key=lambda e: e.ordinal)
        if not evts:
            raise KeyError(f"unknown run {run_id}")
        spec = self._specs.get(run_id)
        manifest = next(
            (e.detail for e in reversed(evts)
             if e.name in (EVT_RESULTS_ACCEPTED, EVT_COMPLETED) and e.detail),
            "")
        return {
            "run_id": run_id,
            "query": spec.query if spec else None,
            "context_namespace": self._ctx_ns.get(run_id),
            "state": evts[-1].name,
            "replicas": spec.replicas if spec else 1,
            "verified": spec.verified if spec else False,
            "outputs": dict(spec.outputs) if spec else {},
            "annotations": list(spec.annotations) if spec else [],
            "manifest": manifest,
            "events": [{"ordinal": e.ordinal, "name": e.name, "ts": e.ts,
                        "detail": e.detail} for e in evts],
        }

    def _readable_sink(self, run_id: str) -> tuple[JobSpec, str]:
        """Shared gate for the two result-read verbs: the run must exist,
        be in a results-readable terminal state (reading the sink of an
        Error/Rejected/still-running run would 500 on a missing path or
        return stale bytes from an earlier run), and have a sink."""
        spec = self._specs.get(run_id)
        if spec is None:
            raise KeyError(f"unknown run {run_id}")
        state = self.state(run_id)
        if state not in TERMINAL_OK_STATES:
            raise RunNotCompleteError(
                f"run {run_id} is {state}; results are readable only after "
                f"{'/'.join(TERMINAL_OK_STATES)}")
        path = spec.outputs.get("path")
        if not path:
            raise ValueError(f"run {run_id} has no output sink to fetch")
        return spec, path

    def fetch_results(self, run_id: str, limit: int = 100) -> list[dict]:
        """Read back a completed run's published output — the
        `bacalhau get` analog (`cmd/bacalhau/get.go:36-129`): results come
        from the run's sink, not from re-executing the plan."""
        spec, path = self._readable_sink(run_id)
        fmt = spec.outputs.get("format", "parquet")
        if fmt == "contentstore":
            from bacalhau_spark.sources.contentstore import read_root
            df = read_root(self.spark, path)
        else:
            df = self.spark.read.format(fmt).load(path)
        return [row.asDict(recursive=True) for row in df.limit(limit).collect()]

    def result_files(self, run_id: str,
                     max_bytes: int = 32 << 20) -> list[dict]:
        """The run's published sink as (relative path, bytes) pairs — the
        file-level `bacalhau get --output-dir` analog
        (`cmd/bacalhau/get.go:36-129` downloads the results folder, not
        rows). Capped so a huge sink can't be memory-loaded whole; fetch
        rows via fetch_results or read the sink directly in that case."""
        import base64
        import os

        _spec, root = self._readable_sink(run_id)
        out, total = [], 0
        for dirpath, _dirs, files in sorted(os.walk(root)):
            for fname in sorted(files):
                if fname.startswith((".", "_")):  # _SUCCESS, .crc
                    continue
                full = os.path.join(dirpath, fname)
                total += os.path.getsize(full)
                if total > max_bytes:
                    raise ValueError(
                        f"run {run_id} results exceed {max_bytes} bytes; "
                        "read the sink path directly")
                with open(full, "rb") as f:
                    out.append({
                        "path": os.path.relpath(full, root),
                        "b64": base64.b64encode(f.read()).decode(),
                    })
        return out

    # -- submit / run ------------------------------------------------------
    def submit_async(self, spec: JobSpec) -> str:
        """Validate, admit to the backlog, and return the run id WITHOUT
        waiting for execution — the reference's submit model (the client
        polls states). Spec validation, policy hooks, and capacity
        rejection all happen synchronously here so the caller gets a hard
        error instead of a doomed run id; execution itself happens on a
        worker thread once the capacity manager admits the run."""
        if spec.query not in self.registry:
            raise KeyError(f"unknown query {spec.query!r}")
        # Recognised input keys: `sf_dir` (the query's data path /
        # pipeline '@parent' hand-off) and the contentstore mount pair
        # `store`/`addresses` (the StorageSpec CID list that
        # _input_volume_bytes sizes — a mount-only spec is valid and costs
        # disk, not sf_dir). Any OTHER key without one of these has almost
        # certainly misspelled `sf_dir` (e.g. `path:`) — silently running
        # over the default fixture dir is wrong-but-plausible output, so
        # reject loudly. A fully-empty inputs dict still means "the
        # default fixture" (the small-job convenience).
        if (spec.inputs and "sf_dir" not in spec.inputs
                and not ("store" in spec.inputs
                         and "addresses" in spec.inputs)):
            raise ValueError(
                f"spec inputs {sorted(spec.inputs)} carry neither 'sf_dir' "
                "(the query's data path/hand-off key) nor a "
                "'store'/'addresses' contentstore mount; did you misspell "
                "'sf_dir'?")
        run_id = uuid.uuid4().hex[:12]
        with self._lock:
            self._specs[run_id] = spec
            self._done[run_id] = threading.Event()
        self._emit(run_id, EVT_CREATED, spec.query)
        try:
            for policy in self.policies:
                name = getattr(policy, "__name__", "policy")
                try:
                    accepted = policy(spec)
                except JobRejectedError:
                    raise
                except Exception as exc:  # noqa: BLE001
                    # Both decline styles (return False / raise) surface
                    # uniformly as JobRejectedError so the API maps them
                    # to the 409 rejection path, not a 500.
                    raise JobRejectedError(
                        f"job declined by policy {name!r}: {exc!r}") from exc
                if not accepted:
                    raise JobRejectedError(f"job declined by policy {name!r}")
            if spec.reuse:
                hit = self._result_index.get(_content_key(spec))
                if hit and self.state(hit[0]) in TERMINAL_OK_STATES:
                    prior_id, manifest = hit
                    prior_path = self._specs[prior_id].outputs.get("path")
                    declared = spec.outputs.get("path")
                    # A hit only short-circuits when this run's declared
                    # sink is satisfied by the prior artifact: either no
                    # sink was declared (the run just points at the prior
                    # result) or it is the SAME path the prior run wrote.
                    # A different declared path must execute for real —
                    # otherwise it is never written and a dependent
                    # pipeline stage reads a missing (or stale) path.
                    if not declared or declared == prior_path:
                        with self._lock:
                            # the run's readable artifact IS the prior
                            # run's sink; describe/fetch_results resolve
                            # through it
                            self._specs[run_id] = self._specs[prior_id]
                        self._emit(run_id, EVT_RESULTS_REUSED,
                                   f"reused {prior_id} manifest={manifest}")
                        self._emit(run_id, EVT_COMPLETED, manifest)
                        self._done[run_id].set()
                        return run_id
            req = self.capacity.requirements(spec.resources)
            vol = _input_volume_bytes(spec)
            if vol > req.disk:
                # GetVolumeSize-based admission: content-addressed inputs
                # size the job's disk requirement the way the reference
                # sums volume sizes at SelectJob before bidding
                # (`pkg/computenode/computenode.go:348-405`). A mount set
                # bigger than the node's disk rejects here, not mid-run.
                from bacalhau_spark.capacity import ResourceUsage
                req = ResourceUsage(cpu=req.cpu, memory=req.memory,
                                    disk=vol, gpu=req.gpu)
            self.capacity.enqueue(run_id, req)
        except BaseException as exc:  # noqa: BLE001 — recorded, re-raised
            self._emit(run_id, EVT_REJECTED, str(exc))
            if isinstance(exc, (BacklogFullError, NeverFitsError)):
                exc = JobRejectedError(str(exc))
            # Record BEFORE setting done: a caller holding only the id
            # (wait/submit_async+wait) must observe identical semantics to
            # the synchronous raise below — wait() re-raises this.
            self._errors[run_id] = exc
            self._done[run_id].set()
            raise exc
        self._drain()
        return run_id

    def wait(self, run_id: str, timeout: float | None = None) -> str:
        """Block until the run reaches a terminal state; returns it.
        Re-raises the run's recorded exception, so `submit_async + wait`
        has identical semantics to the synchronous `submit`."""
        evt = self._done.get(run_id)
        if evt is None:
            raise KeyError(f"unknown run {run_id}")
        if not evt.wait(timeout):
            raise TimeoutError(f"run {run_id} still {self.state(run_id)} "
                               f"after {timeout}s")
        err = self._errors.get(run_id)
        if err is not None:
            raise err
        return self.state(run_id)

    def submit(self, spec: JobSpec) -> str:
        """Run a spec to completion; returns the run id. Replicated,
        verified specs compare content manifests across replicas."""
        run_id = self.submit_async(spec)
        self.wait(run_id)
        return run_id

    def cancel(self, run_id: str) -> str:
        """Requester-side cancel (JobStateCancelled,
        `pkg/executor/constants.go:151,223`). A still-backlogged run is
        removed before it ever bids; a running run has its Spark job
        group cancelled (re-issued until the run ends, same race handling
        as the timeout watchdog — a single cancel can land before the
        next job registers under the group). Terminal runs are left
        untouched. Returns the run's state after the call; like the
        watchdog, a run parked in pure-Python registry code before any
        Spark action cannot be interrupted and ends Cancelled only when
        its next action fails."""
        state = self.state(run_id)  # raises KeyError on unknown
        done = self._done.get(run_id)
        if done is None or done.is_set():
            return state
        if self.capacity.remove_backlogged(run_id):
            # never bid: terminal immediately, nothing is running
            err = JobCancelledError(f"run {run_id} cancelled while queued")
            self._errors[run_id] = err
            self._emit(run_id, EVT_CANCELLED, "cancelled while queued")
            done.set()
            return EVT_CANCELLED
        self._cancel_requested.add(run_id)
        sc = self.spark.sparkContext

        def _reap() -> None:
            while not done.is_set():
                sc.cancelJobGroup(run_id)
                done.wait(1.0)
        threading.Thread(target=_reap, daemon=True,
                         name=f"bacalhau-cancel-{run_id}").start()
        return self.state(run_id)

    # -- pipelines (DAG of jobs) ------------------------------------------
    def submit_pipeline(self, stages: list[dict]) -> dict[str, str]:
        """Run a DAG of jobs — the reference's pipelines roadmap item
        (`ROADMAP.md:39-41`: "DAGs of data pipelines"), restated for a
        single-driver engine.

        Each stage is a JobSpec document plus `name` (unique) and optional
        `after` (list of parent stage names). Any input value or the
        output path may be the token `"@<parent>"`, which resolves to that
        parent's `outputs.path` at submit time — the content-addressed
        hand-off (a parent's published result IS the child's input mount,
        the CID-chaining the reference's design doc sketches). A token may
        only name a stage listed in `after`: an undeclared data dependency
        is a spec bug the engine rejects rather than races.

        Execution is wave-parallel: every stage whose parents completed
        submits through the normal admission path (policies + capacity
        backlog), so sibling stages queue and run exactly like independent
        jobs. A failed/rejected stage CANCELS its transitive dependents —
        they are never submitted (no run id, status "Cancelled", the
        requester-side cancel of `pkg/executor/constants.go:156-160`).

        Returns {stage_name: run_id | "Cancelled"}. Raises PipelineError
        (carrying .statuses) after the DAG settles if any stage failed or
        was cancelled; stages that did complete keep their results."""
        return run_pipeline_dag(
            stages,
            submit_async=self.submit_async,
            wait=self.wait,
            # Resolve the hand-off through the run's EFFECTIVE spec, not
            # the stage document: a reuse cache hit swaps the run's spec
            # to the prior run's, and that prior sink is the artifact the
            # child must read.
            effective_output=lambda rid, declared:
                self._specs[rid].outputs.get("path") or declared,
        )

    def _drain(self) -> None:
        """Start a worker for every backlogged run that fits in free
        capacity (FIFO). Called from submit and from run completion — the
        event-driven restatement of the reference's 10 s bid loop."""
        for run_id in self.capacity.admit_next():
            self._emit(run_id, EVT_BID, "admitted: free capacity")
            threading.Thread(target=self._run_worker, args=(run_id,),
                             name=f"bacalhau-run-{run_id}",
                             daemon=True).start()

    def _run_worker(self, run_id: str) -> None:
        try:
            self._execute(run_id, self._specs[run_id])
        except BaseException as exc:  # noqa: BLE001 — stored for wait()
            self._errors[run_id] = exc
        finally:
            self.capacity.release(run_id)
            self._done[run_id].set()
            self._drain()

    def _register_context(self, archive: str, namespace: str) -> None:
        """Register a (content-addressed, namespaced) context archive.
        Namespacing makes collisions structurally impossible — two archives
        share a namespace only if their content is identical, in which case
        re-registering the same path is a no-op. The bookkeeping map keeps
        the already-shipped check cheap and serializes concurrent ships
        (addPyFile is a one-way global registration)."""
        with self._lock:
            if self._ctx_modules.get(namespace):
                return  # identical content already shipped this session
            self.spark.sparkContext.addPyFile(archive)
            self._ctx_modules[namespace] = archive

    def _stage_mounts(self, run_id: str, spec: JobSpec) -> str:
        """PrepareStorage analog for mount-only specs: copy each
        content-addressed input out of the store into a per-run staging
        directory — through the verified store_get read (a tampered blob
        fails the run before any Spark job launches) — and return the
        staging dir as the query's input path. A query expecting fixture
        tables over an arbitrary mount then fails loudly at read time;
        it can never silently execute over the default fixture (the
        hazard the old sf_dir fallback created). Staging lives under the
        managed scratch root (removed atexit), never raw /tmp."""
        import os

        from bacalhau_spark.scratch import scratch_dir
        from bacalhau_spark.sources.contentstore import store_get

        root = spec.inputs["store"]
        # Re-validate here even though admission already did: staging is
        # the layer that turns an address into a filesystem write, so it
        # must not trust that every caller went through submit admission.
        addrs = _mount_addrs(spec.inputs["addresses"])
        stage = scratch_dir(f"mounts-{run_id}")
        for addr in addrs:
            # Verified fetch FIRST, open the staging destination only
            # after it succeeds — a missing or tampered blob must not
            # create (or worse, truncate) anything on disk.
            content = store_get(root, addr)
            with open(os.path.join(stage, addr), "wb") as f:
                f.write(content)
        return stage

    def _execute(self, run_id: str, spec: JobSpec) -> None:
        # Job-scoped runtime conf: tag every Spark job this run launches
        # (group id + description for the UI/event log). Local properties
        # are per-thread (pinned-thread mode) and restored on exit, so
        # concurrent/subsequent runs don't leak each other's group.
        sc = self.spark.sparkContext
        props = {"spark.jobGroup.id": run_id,
                 "spark.job.description": f"bacalhau-spark:{spec.query}"}
        prev = {k: sc.getLocalProperty(k) for k in props}
        for k, v in props.items():
            sc.setLocalProperty(k, v)
        # Timeout watchdog: on expiry, cancel THIS run's job group — every
        # Spark action the run launched carries the group id set above, so
        # in-flight tasks are killed and the blocked action below raises.
        expired = threading.Event()
        watchdog: threading.Timer | None = None
        if spec.timeout_s:
            done = self._done[run_id]

            def _expire() -> None:
                expired.set()
                # Re-cancel until the run ends: a single cancel can land in
                # the gap before the (next) Spark job registers under the
                # group and silently no-op ("cannot find active jobs").
                while not done.is_set():
                    sc.cancelJobGroup(run_id)
                    done.wait(1.0)
            watchdog = threading.Timer(spec.timeout_s, _expire)
            watchdog.daemon = True
            watchdog.start()
        try:
            ctx_ns = ""
            if spec.context:
                # Ship the job's working-dir modules to driver + executors
                # before the query builds any UDF that imports them; the
                # run sees its own namespaced mount via context_module().
                archive, ns = build_context_archive(spec.context)
                self._register_context(archive, ns)
                with self._lock:
                    self._ctx_ns[run_id] = ns
                _ctx_local.namespace = ns
                ctx_ns = ns
            fn = self.registry[spec.query]
            sf_dir = spec.inputs.get("sf_dir")
            if (sf_dir is None and "store" in spec.inputs
                    and "addresses" in spec.inputs):
                # A mount-only spec's data IS its content-addressed
                # inputs: stage them (verified) and hand the staging dir
                # to the query. Falling back to the default fixture here
                # would fabricate plausible output from data the user
                # never supplied.
                sf_dir = self._stage_mounts(run_id, spec)
            elif sf_dir is None:
                sf_dir = "/root/testdata/sf0.001"
            df = fn(self.spark, sf_dir, **_extra_inputs(fn, spec.inputs))
            if spec.verified:
                assert_deterministic(df)
            self._emit(run_id, EVT_RUNNING)
            out = spec.outputs.get("path")
            t_exec = time.time()
            run_metrics: dict = {}
            # Verify BEFORE publish (the reference gates publishing on
            # results acceptance): replica manifests are compared first and
            # a mismatch aborts the run with nothing written.
            manifests = []
            if spec.verified or spec.replicas > 1:
                manifests = [
                    self._result_manifest(
                        df, metrics_out=run_metrics if i == 0 else None)
                    for i in range(max(1, spec.replicas))]
                if len(set(manifests)) != 1:
                    self._emit(run_id, EVT_RESULTS_REJECTED,
                               ";".join(manifests))
                    raise ResultsRejectedError(
                        f"run {run_id}: replica manifests disagree: "
                        f"{sorted(set(manifests))}")
            elif not out:
                # no sink — execute once, harvesting the plan's SQLMetrics
                from bacalhau_spark.plans.telemetry import execute_and_measure
                run_metrics.update(execute_and_measure(df))
            fmt = spec.outputs.get("format", "parquet")
            if out and fmt == "contentstore":
                from bacalhau_spark.sources.contentstore import (json_lines,
                                                                 publish)
                # one string column is published as its lines; richer
                # rows as canonical JSON lines
                lines = [t for _, t in df.dtypes] == ["string"]
                publish(df if lines else json_lines(df), out)
            elif out:
                df.write.mode("overwrite").format(fmt).save(out)
            run_metrics["wall_s"] = round(time.time() - t_exec, 3)
            self._emit(run_id, EVT_METRICS,
                       json.dumps(run_metrics, sort_keys=True))
            self._emit(run_id, EVT_COMPLETED,
                       manifests[0] if manifests else "")
            if manifests:
                self._emit(run_id, EVT_RESULTS_ACCEPTED, manifests[0])
            if spec.verified and manifests:
                with self._lock:
                    # Key on the context SHIPPED at run start (ctx_ns),
                    # not the live dir: an edit landing mid-run would
                    # otherwise index this (old-code) result under the
                    # NEW content digest, and a later reuse submit with
                    # the new context would be served stale output.
                    self._result_index[_content_key(spec, ctx_ns)] = (
                        run_id, manifests[0])
        except ResultsRejectedError:
            raise  # already recorded as ResultsRejected — terminal state
        except Exception as exc:  # noqa: BLE001 — recorded, then re-raised
            if run_id in self._cancel_requested:
                err = JobCancelledError(
                    f"run {run_id} cancelled by requester; "
                    "job group cancelled")
                self._emit(run_id, EVT_CANCELLED, repr(err))
                raise err from exc
            if expired.is_set():
                err = JobTimeoutError(
                    f"run {run_id} exceeded timeout_s={spec.timeout_s}; "
                    "job group cancelled")
                self._emit(run_id, EVT_ERROR, repr(err))
                raise err from exc
            self._emit(run_id, EVT_ERROR, repr(exc))
            raise
        finally:
            if watchdog is not None:
                watchdog.cancel()
            _ctx_local.namespace = None
            for k, v in prev.items():
                sc.setLocalProperty(k, v)


def _extra_inputs(fn, inputs: dict) -> dict:
    """MULTI-INPUT stages: a registry callable may declare
    parameters beyond the standard (spark, sf_dir) pair — matched BY
    NAME from the spec's inputs dict (e.g. stage_pq_refresh(spark,
    sf_dir, parent_dir) run with inputs {"sf_dir": "@merge",
    "parent_dir": "/epochN"}; '@parent' tokens resolve in every input
    value, so either side of a refresh can be a DAG hand-off). Only
    DECLARED names pass through — ordinary single-input queries never
    see stray spec keys (the store/addresses mount keys keep their
    meaning) — and an extra parameter the spec does not supply fails
    in the call with the standard missing-argument error, recorded
    like any other stage failure."""
    import inspect
    try:
        params = list(inspect.signature(fn).parameters)[2:]
    except (TypeError, ValueError):
        return {}
    return {p: inputs[p] for p in params if p in inputs}


def run_pipeline_dag(stages: list[dict], submit_async, wait,
                     effective_output, handle_str=str) -> dict[str, str]:
    """Generic wave-parallel DAG runner behind `Engine.submit_pipeline`
    and `DevStack.submit_pipeline`: validation (names, deps, '@' tokens,
    cycles), Kahn ordering, per-wave submit-then-wait, transitive
    cancellation. Pluggable scheduling:

    - submit_async(spec: JobSpec) -> handle (a run id, or (node, run_id))
    - wait(handle) — blocks; raises on failure
    - effective_output(handle, declared_path) -> the path a '@stage'
      token must resolve to after the stage completed
    - handle_str(handle) — how a handle renders in the status map

    Returns {stage_name: handle_str | "Cancelled" | "Rejected"}; raises
    PipelineError carrying that map if any stage failed/was cancelled."""
    by_name: dict[str, dict] = {}
    for st in stages:
        name = st.get("name")
        if not name or not isinstance(name, str):
            raise ValueError("every pipeline stage needs a 'name'")
        if name in by_name:
            raise ValueError(f"duplicate stage name {name!r}")
        by_name[name] = st
    deps: dict[str, list[str]] = {}
    for name, st in by_name.items():
        after = st.get("after", [])
        unknown = [p for p in after if p not in by_name]
        if unknown:
            raise ValueError(
                f"stage {name!r}: unknown parent(s) {unknown}")
        deps[name] = list(after)
    # Validate hand-off tokens BEFORE anything runs: a bad reference
    # must fail the whole pipeline up front, not strand it half-run.
    for name, st in by_name.items():
        for v in dict(st.get("inputs", {})).values():
            if isinstance(v, str) and v.startswith("@"):
                parent = v[1:]
                if parent not in deps[name]:
                    raise ValueError(
                        f"stage {name!r} references '@{parent}' but "
                        f"does not list it in 'after' — declare the "
                        f"dependency")
                if not by_name[parent].get("outputs", {}).get("path"):
                    raise ValueError(
                        f"stage {name!r} references '@{parent}' but "
                        f"that stage declares no outputs.path")
    # Kahn: any stage never reaching indegree 0 sits on a cycle.
    order, indeg = [], {n: len(p) for n, p in deps.items()}
    ready = sorted(n for n, d in indeg.items() if d == 0)
    children: dict[str, list[str]] = {n: [] for n in by_name}
    for n, ps in deps.items():
        for p in ps:
            children[p].append(n)
    queue = list(ready)
    while queue:
        n = queue.pop(0)
        order.append(n)
        for c in children[n]:
            indeg[c] -= 1
            if indeg[c] == 0:
                queue.append(c)
    if len(order) != len(by_name):
        cyc = sorted(set(by_name) - set(order))
        raise ValueError(f"pipeline has a dependency cycle through {cyc}")

    statuses: dict[str, str] = {}
    out_paths: dict[str, str] = {}
    failed: dict[str, str] = {}

    def resolve(stage: str, value):
        # tokens were validated up front; parents of a submitting stage
        # have completed, so their paths are recorded
        if isinstance(value, str) and value.startswith("@"):
            return out_paths[value[1:]]
        return value

    remaining = list(order)
    while remaining:
        wave = [n for n in remaining
                if all(p in statuses and p not in failed
                       for p in deps[n])]
        cancelled = [n for n in remaining
                     if any(p in failed for p in deps[n])]
        for n in cancelled:
            # transitive: mark failed so THEIR dependents cancel too
            statuses[n] = "Cancelled"
            failed[n] = "cancelled: upstream failure"
            remaining.remove(n)
        if cancelled:
            continue
        if not wave:
            break  # defensive; topological order makes this unreachable
        handles: dict[str, object] = {}
        for n in wave:
            st = dict(by_name[n])
            st.pop("name", None)
            st.pop("after", None)
            st["inputs"] = {k: resolve(n, v)
                            for k, v in dict(st.get("inputs", {})).items()}
            spec = JobSpec.from_dict(st)
            try:
                handles[n] = submit_async(spec)
            except Exception as exc:  # rejected at submit (policy/fit)
                statuses[n] = "Rejected"
                failed[n] = repr(exc)
        for n in wave:
            remaining.remove(n)
            if n in failed:
                continue
            try:
                wait(handles[n])
                statuses[n] = handle_str(handles[n])
                path = effective_output(
                    handles[n], by_name[n].get("outputs", {}).get("path"))
                if path:
                    out_paths[n] = path
            except Exception as exc:
                statuses[n] = handle_str(handles[n])
                failed[n] = repr(exc)
    if failed:
        raise PipelineError(
            f"pipeline stages failed/cancelled: {sorted(failed)}",
            statuses)
    return statuses


# Contentstore blob names are md5 hex (store_put's format) — nothing else.
_ADDR_RE = re.compile(r"[0-9a-f]{32}")


def _mount_addrs(raw: str | list[str]) -> list[str]:
    """Parse AND validate a spec's contentstore address list (list or
    comma-string; empty segments skipped, matching the declared
    'a,b,'-tolerant form). Every address must be a bare 32-char lowercase
    md5-hex blob name. Anything else — '../x', an absolute path, a
    separator — is rejected before ANY filesystem operation: addresses are
    untrusted spec input reachable via the HTTP /submit API, and a
    traversal address joined into the staging dir would otherwise name an
    arbitrary writable file (the reference's analog: storage volumes are
    stat'ed through the IPFS client by CID before any local path is
    formed from them, `pkg/storage/ipfs_apicopy/storage.go:91-117` — an
    address that isn't a resolvable CID fails at the client, never as a
    filesystem path)."""
    addrs = [a for a in
             (raw.split(",") if isinstance(raw, str) else list(raw))
             if a]
    bad = [a for a in addrs if not _ADDR_RE.fullmatch(a)]
    if bad:
        raise ValueError(
            f"malformed contentstore address(es) {bad!r}: expected "
            "32-char lowercase hex (the store_put blob-name format)")
    return addrs


def _input_volume_bytes(spec: JobSpec) -> int:
    """Sum the on-disk size of a spec's content-addressed input mounts.

    Convention: `inputs.store` names the store root and `inputs.addresses`
    the mounted address list (list or comma-string) — the StorageSpec CID
    list. Each address is probed with store_size (the GetVolumeSize analog,
    `pkg/storage/ipfs_apicopy/storage.go:67-85`); a missing blob raises at
    submit time, the HasStorageLocally planning-time probe. Specs without
    contentstore inputs cost 0."""
    root = spec.inputs.get("store")
    raw = spec.inputs.get("addresses")
    if not root or not raw:
        return 0
    from bacalhau_spark.sources.contentstore import store_size
    try:
        # Submit-time admission is the FIRST gate every mount spec passes,
        # so format validation lives here too: a traversal/absolute-path
        # address is a rejection, not a stat target.
        addrs = _mount_addrs(raw)
    except ValueError as exc:
        raise JobRejectedError(str(exc)) from exc
    total = 0
    for addr in addrs:
        try:
            total += store_size(root, addr)
        except OSError as exc:
            raise JobRejectedError(
                f"input address {addr!r} not in store {root!r}: "
                f"{exc}") from exc
    return total


def _content_key(spec: JobSpec, ctx: str | None = None) -> str:
    """Content-addressed identity of a computation: the query name plus its
    inputs, canonically serialized. Inputs are immutable paths (the CID
    analog), so equal keys mean equal computations; outputs/resources/
    annotations are execution details, not identity.

    A shipped context dir IS identity: query closures can import its code
    via context_module(), so the same (query, inputs) over different
    context contents is a different computation. The archive's content
    digest (the namespace build_context_archive derives) is folded in —
    editing a context file changes the key, so reuse never serves a result
    computed with stale code.

    `ctx` overrides the digest when the caller already knows WHICH
    archive the computation actually used (the execute path passes the
    namespace it shipped at run start — re-walking the live dir at
    completion would key a result under code it was not computed with)."""
    if ctx is None:
        ctx = ""
        if spec.context:
            _, ctx = build_context_archive(spec.context)
    doc = json.dumps({"query": spec.query, "inputs": spec.inputs,
                      "context": ctx},
                     sort_keys=True)
    return hashlib.sha256(doc.encode()).hexdigest()
