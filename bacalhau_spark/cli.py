"""CLI — the reference's client surface restated for a query engine.

Mapping (SURVEY.md §2.5):
- `bacalhau docker run ...` / `run python` (`cmd/bacalhau/docker_run.go:294-517`,
  `run_python.go:83-181`) → `run --query <name>`: build + execute a registered
  query against a fixture dir.
- `bacalhau apply -f job.yaml|json` (`cmd/bacalhau/apply.go:60-176`) →
  `apply -f spec.json`: declarative JobSpec document through Engine.submit
  (replicas / verified semantics included).
- `bacalhau list` / `describe` (`cmd/bacalhau/list.go:79-211`,
  `describe.go:73-176`) → `list-queries` and `explain --query` (the plan is
  the thing worth describing in a single-driver engine).
"""

from __future__ import annotations

import argparse
from functools import partial
import sys

from pyspark.sql import SparkSession


def _get_spark(cpus: int,
               extra_conf: dict[str, str] | None = None) -> SparkSession:
    from bacalhau_spark.session import get_session
    return get_session("bacalhau-spark-cli", master=f"local[{cpus}]",
                       extra_conf=extra_conf)


def cmd_list_queries(_args) -> int:
    from bacalhau_spark import registry
    # classify WITHOUT resolving: a callable oracle provider (the
    # generated-constant PCA oracle) reads fixture parquet when
    # invoked — listing must not require fixtures (r13 review)
    for name, (_fn, sql) in sorted(registry.ALL_QUERIES.items()):
        kind = "oracle" if sql is not None else "rows-only"
        print(f"{name}\t{kind}")
    return 0


def cmd_run(args) -> int:
    from bacalhau_spark import registry
    qs = registry.queries()
    if args.query not in qs:
        print(f"unknown query {args.query!r}; see list-queries", file=sys.stderr)
        return 2
    spark = _get_spark(args.cpus)
    df = qs[args.query](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").format(args.format).save(args.out)
        print(f"wrote {args.out} ({args.format})")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_explain(args) -> int:
    from bacalhau_spark import registry
    qs = registry.queries()
    if args.query not in qs:
        print(f"unknown query {args.query!r}; see list-queries", file=sys.stderr)
        return 2
    spark = _get_spark(args.cpus)
    qs[args.query](spark, args.sf_dir).explain("formatted")
    return 0


def cmd_apply(args) -> int:
    from bacalhau_spark import registry
    from bacalhau_spark.engine import Engine, JobSpec
    spec = JobSpec.load(args.file)
    # Executor-sizing keys from the spec's resources are submit-time-only in
    # Spark, so they go into session construction here.
    spark = _get_spark(args.cpus, extra_conf=spec.spark_conf)
    engine = Engine(spark, registry.engine_registry())
    run_id = engine.submit(spec)
    print(f"run {run_id}: {engine.state(run_id)}")
    for evt in engine.events(run_id):
        print(f"  [{evt.ordinal}] {evt.name} {evt.detail[:60]}")
    return 0


def cmd_pipeline(args) -> int:
    """Run a DAG-of-jobs document (`ROADMAP.md:39-41` analog): a YAML/JSON
    list of stages ({name, after, ...jobspec}) with '@stage' hand-offs."""
    import json as _json

    from bacalhau_spark import registry
    from bacalhau_spark.engine import Engine, PipelineError
    with open(args.file) as f:
        raw = f.read()
    if args.file.endswith((".yaml", ".yml")):
        try:
            import yaml  # type: ignore
            doc = yaml.safe_load(raw)
        except ImportError:
            print("pyyaml not installed; use JSON pipelines",
                  file=sys.stderr)
            return 2
    else:
        doc = _json.loads(raw)
    stages = doc["stages"] if isinstance(doc, dict) else doc
    spark = _get_spark(args.cpus)
    engine = Engine(spark, registry.engine_registry())
    try:
        statuses = engine.submit_pipeline(stages)
        rc = 0
    except PipelineError as exc:
        statuses = exc.statuses
        rc = 1
    for name, st in statuses.items():
        state = st if st in ("Cancelled", "Rejected") else engine.state(st)
        print(f"stage {name}: {state}")
    return rc


def cmd_serve(args) -> int:
    """Daemon mode: engine + REST API on one Spark driver — the
    `bacalhau serve` analog (`cmd/bacalhau/serve.go:108-271`). Capacity
    defaults to the probed session/machine size; the --limit-total-*
    flags cap individual axes (the reference's limit flags)."""
    import json as _json

    from bacalhau_spark import registry
    from bacalhau_spark.api import ApiServer
    from bacalhau_spark.capacity import CapacityManager, detect_total
    from bacalhau_spark.engine import Engine
    from bacalhau_spark.resources import parse_cpu, parse_memory
    spark = _get_spark(args.cpus)
    total = detect_total(
        cpus=(parse_cpu(args.limit_total_cpu) if args.limit_total_cpu
              else spark.sparkContext.defaultParallelism),
        memory=(parse_memory(args.limit_total_memory)
                if args.limit_total_memory else None),
        disk=(parse_memory(args.limit_total_disk)
              if args.limit_total_disk else None),
        gpu=int(args.limit_total_gpu or 0))
    capacity = CapacityManager(total=total, max_backlog=args.max_backlog)
    credentials = None
    if args.credentials:
        with open(args.credentials) as f:
            credentials = _json.load(f)
    server = ApiServer(Engine(spark, registry.engine_registry(), capacity=capacity),
                       host=args.host, port=args.port,
                       secret=args.secret, credentials=credentials)
    print(f"serving on {server.url} (capacity: cpu={total.cpu:g} "
          f"mem={total.memory >> 30}GiB)")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()
    return 0


def cmd_describe(args) -> int:
    """`bacalhau describe` analog: state + event history + manifest of a
    prior run, fetched from a serve daemon."""
    from bacalhau_spark.api import ApiClient
    desc = ApiClient(args.url).describe(args.run_id)
    print(f"run {desc['run_id']}: {desc['state']} (query={desc['query']}, "
          f"replicas={desc['replicas']}, verified={desc['verified']})")
    if desc["manifest"]:
        print(f"manifest: {desc['manifest']}")
    if desc["outputs"]:
        print(f"outputs: {desc['outputs']}")
    for evt in desc["events"]:
        print(f"  [{evt['ordinal']}] {evt['name']} {evt['detail'][:60]}")
    return 0


def cmd_get(args) -> int:
    """`bacalhau get` analog: fetch a run's published results — rows to
    stdout by default, or the result FILES into --output-dir
    (`cmd/bacalhau/get.go:36-129`)."""
    import json as _json
    from bacalhau_spark.api import ApiClient
    client = ApiClient(args.url)
    if args.output_dir:
        for path in client.download(args.run_id, args.output_dir):
            print(path)
        return 0
    for row in client.results(args.run_id, limit=args.limit):
        print(_json.dumps(row, default=str))
    return 0


def cmd_list_runs(args) -> int:
    from bacalhau_spark.api import ApiClient
    for run_id, state in sorted(ApiClient(args.url).list_runs().items()):
        print(f"{run_id}\t{state}")
    return 0


def cmd_cancel(args) -> int:
    """Cancel a run on a serve daemon (the JobStateCancelled verb).
    /cancel is signed like /submit, so a secured daemon needs
    --client-id/--secret here — without them the verb would be unusable
    exactly where cancel authorization matters."""
    from bacalhau_spark.api import ApiClient
    state = ApiClient(args.url, client_id=args.client_id,
                      secret=args.secret).cancel(args.run_id)
    print(f"run {args.run_id}: {state}")
    return 0


def cmd_devstack(args) -> int:
    """N-node local stack (`cmd/bacalhau/devstack.go` analog): one API
    server per logical node, env exports printed, serve until ^C."""
    from bacalhau_spark import registry
    from bacalhau_spark.devstack import DevStack
    spark = _get_spark(args.cpus)
    stack = DevStack(spark, registry.engine_registry(),
                     n_nodes=args.nodes, start_api=True,
                     bad_actors=args.bad_actors)
    for line in stack.env_exports():
        print(line)
    bad = f" ({args.bad_actors} bad)" if args.bad_actors else ""
    print(f"devstack: {args.nodes} nodes up{bad}; ^C to stop", flush=True)
    try:
        import time as _time
        while True:
            _time.sleep(3600)
    except KeyboardInterrupt:
        stack.shutdown()
    return 0


def cmd_viz(args) -> int:
    """Cluster visualizer (`viz/main.go` analog): poll node APIs over
    (address, start_port, end_port) triplets, serve /api/map + a
    dashboard page until ^C."""
    from bacalhau_spark.viz import main_loop
    if len(args.targets) % 3 != 0:
        print("viz: need targets 3 at a time, e.g. "
              "127.0.0.1 10000 10099", flush=True)
        return 2
    specs = [(args.targets[i], int(args.targets[i + 1]),
              int(args.targets[i + 2]))
             for i in range(0, len(args.targets), 3)]
    return main_loop(specs, port=args.listen, interval=args.interval)


def cmd_index(args) -> int:
    """Persisted-index-store operations — build once, every session
    reads:

    - `index list` prints one JSON line per published index table
      (kind, source table, version, file count, rows of the latest
      manifest, fingerprint age) — the store's commit-log view.
    - `index build --sf-dir D [--kind K]` PRE-BUILDS indexes off the
      query path (an ingest job publishes the index; every later
      session adopts instead of rebuilding). Kinds: sig, cand, winnow,
      phash, aphash, vphash, pq, ivfpq, ivf, ivfvec, lshsig, canon,
      extract, or all (canon/extract are the materialized crawl front
      door; aphash/vphash the audio and video near-dup signatures;
      ivfvec the cell-clustered inverted file whose probes file-prune).
    - `index refresh --kind pq|ivfpq --sf-dir MERGED --parent PARENT`
      runs a product-quantizer family's staleness loop: encodes
      MERGED's new vectors against PARENT's published codebooks, and on
      a stale flag retrains over the merged corpus (for ivfpq with a
      fresh coarse quantizer), otherwise publishes the pinned codebooks
      plus codes for only the new rows. Prints one JSON line per
      subspace with the chosen action.
    - `index verify [--kind K]` is the store's FSCK: structural
      integrity of every published table without a SparkSession —
      pointer/manifest/addressing props, every data file's parquet
      footer, the per-file key map's digests (inline or chunked tree),
      and each payload file's publish-time content-window key (flags an
      in-place body flip the footer read passes; manifests that predate
      the key record skip the check). One JSON line per table; exit 1
      when anything fails — scriptable as a cron check or pre-adoption
      gate.
    - `index drop [--kind K] [--stale-days N]` removes published index
      tables (all, or one kind's) — the cache-invalidation big hammer;
      the next consumer rebuilds and republishes. `--stale-days N`
      restricts the sweep to tables neither published NOR ADOPTED for
      N days (liveness = max of manifest age and the _LAST_ADOPTED
      marker every adoption stamps): content addressing leaves a dead
      table behind whenever a source's bytes change, and the age sweep
      reclaims dead content without naming tables — while an active
      table of a stable corpus stays safe at any age because its
      readers keep its marker fresh. In-flight first publishes
      (manifestless) are never age-swept.

    The product-quantizer kinds pq and ivfpq name families
    (similarity.PQ_FAMILIES): build publishes codes and codebook, which
    verify and drop select together with, for ivfpq, the coarse-
    quantizer tables the codes are assigned under. A family's corpus
    baseline is recorded lazily by its first staleness read, and drop
    removes it whenever it removes the codes or codebook it was
    measured under.
    """
    import json as _json
    import os
    import shutil as _shutil

    from bacalhau_spark.operators import dedup
    from bacalhau_spark.operators.similarity import PQ_FAMILIES
    from bacalhau_spark.sources import indexstore
    from bacalhau_spark.sources import versioned as _v

    root = indexstore.index_store_root()

    # CLI kind -> store kinds. The compound verbs publish under several
    # store kinds (pq_assign + pq_cent, ...), so a prefix match on the
    # CLI name would silently select NOTHING — `index verify --kind pq`
    # exiting 0 having checked zero tables is a false-clean fsck. Raw
    # store kinds pass through, so `--kind pq_cent` still narrows to one
    # table. A product-quantizer family selects its codes, its codebook
    # and the coarse-quantizer tables its codes are assigned under:
    # `drop --kind ivfpq` is the documented escape hatch from a pinned
    # refresh publish, and leaving ivf_coarse/ivf_cells behind would
    # make the next "fresh" build silently adopt the pinned quantizer
    # it was escaping.
    families = {fam.name: fam for fam in PQ_FAMILIES}
    _KIND_ALIASES = {**{name: set(fam.kinds)
                        for name, fam in families.items()},
                     "ivfvec": {"ivf_vectors", "ivf_coarse",
                                "ivf_cells"},
                     "ivf": {"ivf_coarse", "ivf_cells"}}

    def _kind_selected(name: str) -> bool:
        if args.kind == "all":
            return True
        store_kind = name.split("__", 1)[0]
        return store_kind in _KIND_ALIASES.get(args.kind, {args.kind})

    def _drop_selected(name: str) -> bool:
        # DROP cascades across the shared coarse quantizer: removing
        # ivf_coarse/ivf_cells while a sibling family's artifacts
        # survive would pair a freshly-retrained quantizer with
        # cells/codes/an inverted file assigned under the dropped one —
        # silently wrong neighbors. So any selection touching the
        # shared tables widens to every kind assigned under them. And a
        # family's corpus baseline is measured under its codebook, so
        # it goes whenever the codes or the codebook go; the next
        # staleness read records a fresh one. verify stays un-cascaded
        # (read-only; checking a subset corrupts nothing).
        if args.kind == "all":
            return True
        sel = _KIND_ALIASES.get(args.kind, {args.kind})
        if sel & {"ivf_coarse", "ivf_cells"}:
            sel = sel.union({"ivf_vectors"}, *(
                fam.kinds for fam in PQ_FAMILIES
                if "ivf_coarse" in fam.carry))
        sel = sel | {fam.base for fam in PQ_FAMILIES
                     if sel & {fam.codes, fam.cent}}
        return name.split("__", 1)[0] in sel

    def _manifest(name):
        # a corrupt manifest.json (crash mid-copy, disk-full) must not
        # abort the whole verb mid-sweep — treat as manifestless
        try:
            return _v.latest_manifest(os.path.join(root, name))
        except Exception:  # noqa: BLE001
            return None

    if args.action == "list":
        names = sorted(os.listdir(root)) if os.path.isdir(root) else []
        for name in names:
            m = _manifest(name)
            if m is None:
                continue
            kind, tbl, digest = (name.split("__") + ["", ""])[:3]
            print(_json.dumps({
                "index": kind, "table": tbl, "source_digest": digest,
                "version": m["version"], "n_files": m["n_files"],
                "created_unix": m.get("created_unix"),
                # which declared rule produced the head: absent =
                # fresh-trained/built; "pinned" = a refresh carried the
                # parent's codebooks (declared-approximate vs retrain)
                "encoding": m.get("props", {}).get("encoding"),
                "fingerprint_files": len(
                    m.get("props", {}).get("fingerprint", []))}))
        return 0
    if args.action == "drop":
        names = sorted(os.listdir(root)) if os.path.isdir(root) else []
        cutoff = None
        if args.stale_days is not None:
            # content addressing leaves a dead table behind whenever a
            # source's bytes change (the fresh content gets a NEW
            # address); the age sweep reclaims dead content without
            # naming tables. LIVENESS is max(manifest age, last-adopted
            # age): adoption never rewrites a content-addressed table,
            # so manifest age alone cannot distinguish an ACTIVE index
            # (stable corpus, adopted daily — its _LAST_ADOPTED marker
            # stays fresh) from a dead one. A manifestless table under
            # --stale-days is an IN-FLIGHT first publish and is never
            # swept (the unconditional drop still takes it).
            import time as _time
            cutoff = _time.time() - args.stale_days * 86400.0
        dropped = []
        for name in names:
            if not _drop_selected(name):
                continue
            if cutoff is not None:
                m = _manifest(name)
                # A manifest without created_unix (older build) gives
                # no age evidence — treat as not-stale and skip, the
                # never-sweep-in-flight rule (round-12 ADVICE: the
                # bare [] raised mid-sweep, aborting the verb
                # half-applied).
                if m is None or m.get("created_unix") is None \
                        or m["created_unix"] >= cutoff:
                    continue
                try:
                    adopted = os.path.getmtime(
                        os.path.join(root, name, "_LAST_ADOPTED"))
                except OSError:
                    adopted = None
                if adopted is not None and adopted >= cutoff:
                    continue
            _shutil.rmtree(os.path.join(root, name),
                           ignore_errors=True)
            dropped.append(name)
        # no session-tier frame may outlive its dropped files: a cached
        # DataFrame still points at the deleted parquet and would fail
        # every later consumer in-process (persisted views are released)
        indexstore.release(indexstore.FRAMES.clear())
        print(_json.dumps({"dropped": dropped}))
        return 0
    if args.action == "verify":
        # fsck for the store: structural integrity of every published
        # table WITHOUT a SparkSession — pointer resolves, manifest
        # parses and carries its addressing props, every named data
        # file opens as parquet (footer read; row totals reported),
        # and the per-file key map digest-verifies (inline or chunked
        # sidecar tree). Exit 1 when anything fails — the verb a cron
        # job or a pre-adoption gate scripts against. A manifestless
        # table is reported not-ok (in-flight first publish or
        # killed-builder debris; `clear_pending`'s age guard decides
        # which, not this read-only verb).
        import pyarrow.parquet as _pqt
        names = sorted(os.listdir(root)) if os.path.isdir(root) else []
        any_bad = False
        for name in names:
            if not _kind_selected(name):
                continue
            troot = os.path.join(root, name)
            issues: list[str] = []
            m = None
            try:
                m = _v.latest_manifest(troot)
            except Exception as exc:  # noqa: BLE001 — report, not raise
                issues.append(f"manifest unreadable: {exc!r}")
            if m is None and not issues:
                issues.append(
                    "no published manifest (in-flight or debris)")
            n_rows = 0
            if m is not None:
                props = m.get("props", {})
                for k in ("content_key", "kind", "table"):
                    if not props.get(k):
                        issues.append(f"manifest missing props.{k}")
                pkeys = m.get("payload_keys", {})
                for p in m.get("files", ()):
                    try:
                        n_rows += _pqt.ParquetFile(
                            os.path.join(troot, p)).metadata.num_rows
                    except Exception as exc:  # noqa: BLE001
                        issues.append(
                            f"{p}: unreadable parquet ({exc!r})")
                        continue
                    # publish-time payload window key (r14): catches an
                    # in-place body flip the footer read passes; absent
                    # on pre-r14 manifests (skipped, not failed)
                    want = pkeys.get(p)
                    if want is not None:
                        try:
                            got = _v.payload_key(
                                os.path.join(troot, p))
                        except OSError as exc:
                            issues.append(
                                f"{p}: unreadable for payload key "
                                f"({exc!r})")
                            continue
                        if got != want:
                            issues.append(
                                f"{p}: payload key mismatch (bytes "
                                "changed since publish)")
                if indexstore.manifest_n_file_keys(m) and \
                        indexstore.manifest_file_keys(troot, m) is None:
                    issues.append(
                        "file_keys map fails digest verification")
            any_bad |= bool(issues)
            print(_json.dumps({
                "index": name.split("__", 1)[0], "table": name,
                "version": (m or {}).get("version"),
                "n_files": len((m or {}).get("files", ())),
                "n_rows": n_rows,
                "encoding": (m or {}).get("props", {}).get("encoding"),
                "ok": not issues, "issues": issues}))
        return 1 if any_bad else 0
    if args.action == "refresh":
        if args.kind not in families:
            print(f"index refresh: only the codebook-bearing kinds "
                  f"{sorted(families)} have a staleness-bounded "
                  f"refresh path (got {args.kind!r}); per-row and "
                  "banding kinds delta-adopt exactly via `index build`",
                  flush=True)
            return 2
        if not args.parent:
            print("index refresh: --parent PARENT_DIR is required "
                  "(the epoch whose codebook is published)", flush=True)
            return 2
        spark = _get_spark(args.cpus)
        fam = families[args.kind]
        for r in fam.refresh(spark, args.sf_dir, args.parent).collect():
            print(_json.dumps({"sub": r["sub"], "n_new": r["n_new"],
                               "stale": r["stale"],
                               "action": r["action"]}))
        return 0
    # build
    spark = _get_spark(args.cpus)
    builders = {
        "sig": lambda: dedup.minhash_signature_index(spark, args.sf_dir),
        "cand": lambda: dedup.band_candidate_index(spark, args.sf_dir),
        "winnow": lambda: dedup.winnow_posting_index(spark, args.sf_dir),
    }

    def _phash():
        from bacalhau_spark.operators.multimodal import phash_index
        return phash_index(spark, args.sf_dir)

    def _aphash():
        from bacalhau_spark.operators.multimodal import audio_phash_index
        return audio_phash_index(spark, args.sf_dir)

    def _vphash():
        from bacalhau_spark.operators.multimodal import video_phash_index
        return video_phash_index(spark, args.sf_dir)

    def _ivf():
        from bacalhau_spark.operators.similarity import (ivf_cells_index,
                                                         ivf_coarse_index)
        ivf_coarse_index(spark, args.sf_dir)
        return ivf_cells_index(spark, args.sf_dir)

    def _ivfvec():
        from bacalhau_spark.operators.similarity import ivf_vectors_index
        return ivf_vectors_index(spark, args.sf_dir)

    def _lshsig():
        from bacalhau_spark.operators.similarity import lsh_signature_index
        return lsh_signature_index(spark, args.sf_dir)

    def _canon():
        from bacalhau_spark.operators.web import canon_index
        return canon_index(spark, args.sf_dir)

    def _extract():
        from bacalhau_spark.operators.web import html_extract_index
        return html_extract_index(spark, args.sf_dir)

    def _pq_family(fam):
        # codes and codebook; the baseline is recorded by the first
        # staleness read, not here
        fam.code_index(spark, args.sf_dir)
        return fam.centroid_index(spark, args.sf_dir)

    builders.update(phash=_phash, aphash=_aphash, vphash=_vphash,
                    **{name: partial(_pq_family, fam)
                       for name, fam in families.items()},
                    ivf=_ivf, ivfvec=_ivfvec, lshsig=_lshsig,
                    canon=_canon, extract=_extract)
    kinds = list(builders) if args.kind == "all" else [args.kind]
    built = {}
    for k in kinds:
        if k not in builders:
            print(f"index: unknown kind {k!r}; one of "
                  f"{sorted(builders)} or all", flush=True)
            return 2
        built[k] = builders[k]().count()
    print(_json.dumps({"built": built, "store": root}))
    return 0


def cmd_version(args) -> int:
    """Client/server version report (`cmd/bacalhau/version.go` analog:
    prints the client version, and the server's when a daemon URL is
    given — mismatches are the operator's upgrade signal)."""
    import json as _json

    import pyspark

    from bacalhau_spark import __version__
    out = {"client": __version__, "pyspark": pyspark.__version__}
    if getattr(args, "url", None):
        from bacalhau_spark.api import ApiClient
        try:
            out["server"] = ApiClient(args.url).version()
        except Exception as exc:  # noqa: BLE001 — daemon may be down
            out["server_error"] = repr(exc)
    print(_json.dumps(out))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="bacalhau_spark",
                                description="PySpark-native analytics engine")
    p.add_argument("--cpus", type=int, default=4, help="local[N] cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list-queries").set_defaults(fn=cmd_list_queries)

    run = sub.add_parser("run", help="run a registered query")
    run.add_argument("--query", required=True)
    run.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    run.add_argument("--limit", type=int, default=20)
    run.add_argument("--out", help="write results here instead of printing")
    run.add_argument("--format", default="parquet")
    run.set_defaults(fn=cmd_run)

    ex = sub.add_parser("explain", help="show a query's physical plan")
    ex.add_argument("--query", required=True)
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.set_defaults(fn=cmd_explain)

    ap = sub.add_parser("apply", help="submit a declarative job spec")
    ap.add_argument("-f", "--file", required=True)
    ap.set_defaults(fn=cmd_apply)

    pl = sub.add_parser("pipeline", help="run a DAG-of-jobs document")
    pl.add_argument("-f", "--file", required=True)
    pl.set_defaults(fn=cmd_pipeline)

    sv = sub.add_parser("serve", help="run the engine REST API daemon")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8338)
    sv.add_argument("--secret", default=None,
                    help="require HMAC-signed submits with this shared key")
    sv.add_argument("--credentials", default=None,
                    help="JSON file of {client_id: secret} per-client keys")
    sv.add_argument("--limit-total-cpu", default=None,
                    help='total CPU the capacity manager admits (e.g. "16")')
    sv.add_argument("--limit-total-memory", default=None,
                    help='total memory admitted (e.g. "64Gb")')
    sv.add_argument("--limit-total-disk", default=None,
                    help='total disk admitted (e.g. "1Tb")')
    sv.add_argument("--limit-total-gpu", default=None,
                    help="total GPUs admitted")
    sv.add_argument("--max-backlog", type=int, default=64,
                    help="bounded FIFO backlog size")
    sv.set_defaults(fn=cmd_serve)

    de = sub.add_parser("describe", help="describe a run on a serve daemon")
    de.add_argument("--url", default="http://127.0.0.1:8338")
    de.add_argument("run_id")
    de.set_defaults(fn=cmd_describe)

    ge = sub.add_parser("get", help="fetch a run's results from a daemon")
    ge.add_argument("--url", default="http://127.0.0.1:8338")
    ge.add_argument("--limit", type=int, default=100)
    ge.add_argument("--output-dir", default=None,
                    help="download result files here instead of printing rows")
    ge.add_argument("run_id")
    ge.set_defaults(fn=cmd_get)

    lr = sub.add_parser("list-runs", help="list runs on a serve daemon")
    lr.add_argument("--url", default="http://127.0.0.1:8338")
    lr.set_defaults(fn=cmd_list_runs)

    ca = sub.add_parser("cancel", help="cancel a run on a serve daemon")
    ca.add_argument("--run-id", required=True)
    ca.add_argument("--url", default="http://127.0.0.1:8338")
    ca.add_argument("--client-id", default=None,
                    help="signing identity for a secured daemon")
    ca.add_argument("--secret", default=None,
                    help="signing secret for a secured daemon")
    ca.set_defaults(fn=cmd_cancel)

    dv = sub.add_parser("devstack",
                        help="N-node local stack with per-node APIs")
    dv.add_argument("--nodes", type=int, default=3)
    dv.add_argument("--bad-actors", type=int, default=0,
                    help="last N nodes publish corrupted result digests "
                         "(the reference devstack's badActors arg)")
    dv.set_defaults(fn=cmd_devstack)

    vz = sub.add_parser("viz", help="cluster topology dashboard over "
                                    "node APIs (viz/main.go analog)")
    vz.add_argument("targets", nargs="+",
                    help="address start_port end_port, 3 at a time")
    vz.add_argument("--listen", type=int, default=31337)
    vz.add_argument("--interval", type=float, default=1.0)
    vz.set_defaults(fn=cmd_viz)

    ix = sub.add_parser("index", help="persisted index store: list / "
                                      "build / drop / refresh / verify")
    ix.add_argument("action", choices=("list", "build", "drop",
                                       "refresh", "verify"))
    ix.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="source fixture dir (build/refresh: the "
                         "current — for refresh, MERGED — epoch)")
    ix.add_argument("--parent", default=None,
                    help="refresh: the prior epoch's fixture dir whose "
                         "published codebook is the pinned baseline")
    ix.add_argument("--kind", default="all",
                    help="sig|cand|winnow|phash|aphash|vphash|lshsig|"
                         "pq|ivfpq|ivf|ivfvec|canon|extract|all "
                         "(compound kinds select their store family for "
                         "drop/verify: pq = assign+cent, ivfpq = "
                         "codes+cent plus the coarse-quantizer tables, "
                         "ivfvec = vectors plus those tables; drop also "
                         "takes a dropped codebook's baseline; raw store "
                         "kinds like pq_cent narrow to one table)")
    ix.add_argument("--stale-days", type=float, default=None,
                    help="drop only tables whose latest manifest is "
                         "older than N days (dead-content reclamation)")
    ix.set_defaults(fn=cmd_index)

    ver = sub.add_parser("version", help="client (and server) version")
    ver.add_argument("--url", default=None,
                     help="daemon URL; omit for client-only")
    ver.set_defaults(fn=cmd_version)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
