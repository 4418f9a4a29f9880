"""CLI surface tests (the reference's CLI test analog,
`cmd/bacalhau/docker_run_test.go`, `apply_test.go`, `list_test.go`)."""

from __future__ import annotations

import json

import pytest

from bacalhau_spark import cli


def test_list_queries(capsys):
    assert cli.main(["list-queries"]) == 0
    out = capsys.readouterr().out
    assert "q17_hash_agg\toracle" in out
    # r14: the whole ANN plane carries oracle grades; the semantic fast
    # twin stays the representative rows-only (numpy-summation,
    # equivalence-gated by design) row
    assert "nd_ann_lsh\toracle" in out
    assert "nd_ann_ivf\toracle" in out
    assert "nd_semantic_dedup_fast\trows-only" in out


def test_version(capsys):
    """`version` prints client + pyspark versions as one JSON line
    (cmd/bacalhau/version.go analog); with a dead --url the server
    error is reported without failing the command."""
    assert cli.main(["version"]) == 0
    doc = json.loads(capsys.readouterr().out)
    assert doc["client"] and doc["pyspark"]
    assert "server" not in doc
    assert cli.main(["version", "--url",
                     "http://127.0.0.1:1"]) == 0
    doc = json.loads(capsys.readouterr().out)
    assert "server_error" in doc


def test_run_unknown_query():
    assert cli.main(["run", "--query", "nope"]) == 2


def test_index_verb_build_list_drop(spark, sf_dir, capsys):
    """The `index` verb drives the persisted store end to end: build
    publishes versioned index tables (row counts reported), list shows
    them with their manifest metadata, drop removes them and the next
    list is silent for that kind. Uses the winnow kind (cheapest
    build)."""
    assert cli.main(["index", "build", "--sf-dir", sf_dir,
                     "--kind", "winnow"]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["built"]["winnow"] > 0

    assert cli.main(["index", "list"]) == 0
    rows = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines() if ln]
    assert any(r["index"] == "winnow" and r["version"] >= 1
               and r["n_files"] >= 1 for r in rows)

    assert cli.main(["index", "drop", "--kind", "winnow"]) == 0
    dropped = json.loads(capsys.readouterr().out)
    assert any(n.startswith("winnow__") for n in dropped["dropped"])
    assert cli.main(["index", "list"]) == 0
    rows = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines() if ln]
    assert not any(r["index"] == "winnow" for r in rows)

    assert cli.main(["index", "build", "--kind", "bogus"]) == 2


def test_index_build_runs_the_ingest_over_the_selected_kinds(
        spark, sf_dir, tmp_path, monkeypatch, capsys):
    """`index build` runs the epoch ingest over the store kinds `--kind`
    selects: a raw store kind publishes itself and the kinds its builder
    builds first, a family publishes its store kinds (for ivfpq the
    codes, the codebook and the coarse-quantizer tables, never a
    baseline), the output is keyed by store kind, and an unknown kind
    exits 2."""
    import os

    from bacalhau_spark.sources.indexstore import clear_session_index

    def build(kind: str) -> tuple[dict, set]:
        store = tmp_path / kind
        monkeypatch.setenv("SPARK_GRAFT_INDEX_STORE", str(store))
        clear_session_index(spark)
        assert cli.main(["index", "build", "--sf-dir", sf_dir,
                         "--kind", kind]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return out["built"], {n.split("__", 1)[0]
                              for n in os.listdir(store)}

    try:
        built, published = build("ivf_cells")
        assert published == {"ivf_coarse", "ivf_cells"}
        assert set(built) == {"ivf_cells"} and built["ivf_cells"] > 0

        built, published = build("ivfpq")
        family = {"ivfpq_codes", "ivfpq_cent", "ivf_coarse", "ivf_cells"}
        assert published == family
        assert set(built) == family and all(n > 0 for n in built.values())
    finally:
        clear_session_index(spark)
    assert cli.main(["index", "build", "--kind", "bogus"]) == 2
    assert cli.main(["index", "build", "--kind", "pq_base"]) == 2


def test_index_drop_releases_persisted_views(spark, sf_dir, capsys):
    """`index drop` clears the session tier so no frame outlives its
    files; the persisted winnow-capped view must be unpersisted on the
    way out, or it stays pinned in executor storage with no handle left
    to release it."""
    from bacalhau_spark.operators.dedup import winnow_capped_postings

    capped = winnow_capped_postings(spark, sf_dir)
    assert capped.is_cached
    assert cli.main(["index", "drop", "--kind", "winnow"]) == 0
    capsys.readouterr()
    assert not capped.is_cached


def test_index_verify_is_the_store_fsck(spark, sf_dir, capsys):
    """`index verify` (round 14): a freshly built table verifies ok
    (exit 0, footer row totals reported); truncating a data file flips
    that table to ok=false with the file named and exit 1; a
    manifestless debris slot reports not-ok without crashing the
    sweep. Read-only: verify never repairs (clear_pending owns that)."""
    import os
    import shutil

    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   index_store_root,
                                                   index_table_root)

    assert cli.main(["index", "build", "--sf-dir", sf_dir,
                     "--kind", "winnow"]) == 0
    capsys.readouterr()
    try:
        assert cli.main(["index", "verify", "--kind", "winnow"]) == 0
        rows = [json.loads(ln) for ln in
                capsys.readouterr().out.strip().splitlines() if ln]
        mine = [r for r in rows if r["index"] == "winnow"]
        assert mine and all(r["ok"] and r["n_rows"] > 0 for r in mine)

        # corrupt one data file: verify must name it and exit 1
        troot = index_table_root(sf_dir, "winnow", "documents", rev=2)
        vdir = os.path.join(troot, "v=000001")
        victim = next(f for f in os.listdir(vdir)
                      if f.endswith(".parquet"))
        with open(os.path.join(vdir, victim), "r+b") as f:
            f.truncate(16)
        assert cli.main(["index", "verify", "--kind", "winnow"]) == 1
        rows = [json.loads(ln) for ln in
                capsys.readouterr().out.strip().splitlines() if ln]
        bad = [r for r in rows if r["table"] == os.path.basename(troot)]
        assert bad and not bad[0]["ok"]
        assert any(victim in i for i in bad[0]["issues"])

        # compound-kind aliasing: `--kind pq` must select the pq_assign
        # AND pq_cent store tables (a prefix match on the CLI name
        # selected NOTHING — a false-clean fsck; r14 review), and the
        # raw store kind still narrows to one table
        from bacalhau_spark.operators.similarity import (pq_centroid_index,
                                                         pq_code_index)
        pq_code_index(spark, sf_dir).count()
        pq_centroid_index(spark, sf_dir).count()
        assert cli.main(["index", "verify", "--kind", "pq"]) in (0, 1)
        rows = [json.loads(ln) for ln in
                capsys.readouterr().out.strip().splitlines() if ln]
        assert {r["index"] for r in rows} == {"pq_assign", "pq_cent"}
        assert cli.main(["index", "verify", "--kind", "pq_cent"]) in (0, 1)
        rows = [json.loads(ln) for ln in
                capsys.readouterr().out.strip().splitlines() if ln]
        assert rows and {r["index"] for r in rows} == {"pq_cent"}

        # manifestless debris: reported not-ok, sweep continues
        debris = os.path.join(index_store_root(),
                              "winnow__documents__deadbeefdeadbeef")
        os.makedirs(os.path.join(debris, "v=000001"), exist_ok=True)
        assert cli.main(["index", "verify", "--kind", "winnow"]) == 1
        rows = [json.loads(ln) for ln in
                capsys.readouterr().out.strip().splitlines() if ln]
        deb = [r for r in rows
               if r["table"].endswith("deadbeefdeadbeef")]
        assert deb and not deb[0]["ok"]
        shutil.rmtree(debris, ignore_errors=True)
    finally:
        clear_session_index(spark)  # the truncated file must not serve
        cli.main(["index", "drop", "--kind", "winnow"])
        capsys.readouterr()


def test_index_drop_takes_each_pq_family_baseline(spark, sf_dir, capsys):
    """A product-quantizer family's corpus baseline is measured under its
    codebook, so `index drop` must remove it with the codebook: after
    `--kind pq` and the coarse-quantizer cascade of `--kind ivf`, no
    pq_base or ivfpq_base table is left for a rebuilt codebook's
    staleness monitor to read."""
    import os

    from bacalhau_spark.operators.similarity import (ivfpq_baseline_index,
                                                     pq_baseline_index)
    from bacalhau_spark.sources.indexstore import index_store_root

    def baselines():
        return sorted(n for n in os.listdir(index_store_root())
                      if n.startswith(("pq_base__", "ivfpq_base__")))

    # the baseline build publishes codes and codebook first
    pq_baseline_index(spark, sf_dir).count()
    ivfpq_baseline_index(spark, sf_dir).count()
    assert {n.split("__", 1)[0] for n in baselines()} == {"pq_base",
                                                          "ivfpq_base"}
    assert cli.main(["index", "drop", "--kind", "pq"]) == 0
    assert cli.main(["index", "drop", "--kind", "ivf"]) == 0
    capsys.readouterr()
    assert baselines() == []


def test_index_refresh_argument_validation(capsys):
    """`index refresh` fails fast — BEFORE any Spark session spins up —
    on a non-codebook kind (per-row/banding kinds delta-adopt via
    `index build`, there is nothing to refresh) and on a missing
    --parent (the pinned epoch is the whole point of the verb)."""
    assert cli.main(["index", "refresh", "--kind", "sig",
                     "--sf-dir", "/tmp/x"]) == 2
    assert "codebook-bearing" in capsys.readouterr().out
    assert cli.main(["index", "refresh", "--kind", "pq",
                     "--sf-dir", "/tmp/x"]) == 2
    assert "--parent" in capsys.readouterr().out


def test_index_drop_stale_days_spares_fresh_tables(spark, sf_dir,
                                                   capsys):
    """`index drop --stale-days N` is the dead-content reclamation
    sweep: a table whose latest manifest is older than N days goes, a
    freshly published one stays — content addressing leaves dead tables
    behind whenever source bytes change, and the age sweep reclaims
    them without naming tables."""
    import json as _json
    import os

    from bacalhau_spark.sources.indexstore import index_store_root

    assert cli.main(["index", "build", "--sf-dir", sf_dir,
                     "--kind", "winnow"]) == 0
    capsys.readouterr()
    # plant a dead-content table with an old manifest
    stale = os.path.join(index_store_root(),
                         "winnow__documents__deadbeefdeadbeef")
    os.makedirs(os.path.join(stale, "v=000001"), exist_ok=True)
    with open(os.path.join(stale, "v=000001", "manifest.json"),
              "w") as f:
        _json.dump({"version": 1, "files": ["v=000001/x.parquet"],
                    "n_files": 1, "columns": [], "dtypes": [],
                    "stats": {}, "created_unix": 1_000_000}, f)
    with open(os.path.join(stale, "_LATEST"), "w") as f:
        f.write("1")
    # an ACTIVE table: manifest as old as the dead one, but a reader
    # adopted it recently (_LAST_ADOPTED marker) — must survive
    active = os.path.join(index_store_root(),
                          "winnow__documents__ac71bef01dabbe01")
    os.makedirs(os.path.join(active, "v=000001"), exist_ok=True)
    with open(os.path.join(active, "v=000001", "manifest.json"),
              "w") as f:
        _json.dump({"version": 1, "files": ["v=000001/x.parquet"],
                    "n_files": 1, "columns": [], "dtypes": [],
                    "stats": {}, "created_unix": 1_000_000}, f)
    with open(os.path.join(active, "_LATEST"), "w") as f:
        f.write("1")
    with open(os.path.join(active, "_LAST_ADOPTED"), "w") as f:
        f.write("now")
    # an IN-FLIGHT first publish (no manifest yet) — never age-swept
    inflight = os.path.join(index_store_root(),
                            "winnow__documents__1f11f11f11f11f11")
    os.makedirs(os.path.join(inflight, "v=000001"), exist_ok=True)
    try:
        assert cli.main(["index", "drop", "--kind", "winnow",
                         "--stale-days", "30"]) == 0
        dropped = json.loads(capsys.readouterr().out)["dropped"]
        assert os.path.basename(stale) in dropped
        assert dropped == [os.path.basename(stale)], (
            "fresh/active/in-flight tables must survive the age sweep")
        assert os.path.isdir(active) and os.path.isdir(inflight)
        assert cli.main(["index", "list"]) == 0
        rows = [json.loads(ln) for ln in
                capsys.readouterr().out.strip().splitlines() if ln]
        assert any(r["index"] == "winnow" for r in rows)
    finally:
        import shutil
        for d in (stale, active, inflight):
            shutil.rmtree(d, ignore_errors=True)
        cli.main(["index", "drop", "--kind", "winnow"])
        capsys.readouterr()


def test_run_and_write(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "q01_out")
    rc = cli.main(["run", "--query", "q01_scan_projection",
                   "--sf-dir", sf_dir, "--out", out])
    assert rc == 0
    assert spark.read.parquet(out).count() == 25


def test_explain(sf_dir, capsys):
    rc = cli.main(["explain", "--query", "q17_hash_agg", "--sf-dir", sf_dir])
    assert rc == 0
    plan = capsys.readouterr().out
    assert "HashAggregate" in plan


def test_apply_spec(sf_dir, tmp_path, capsys):
    spec = {"query": "q13_join_agg", "inputs": {"sf_dir": sf_dir},
            "replicas": 2, "verified": True}
    f = tmp_path / "job.json"
    f.write_text(json.dumps(spec))
    rc = cli.main(["apply", "-f", str(f)])
    assert rc == 0
    out = capsys.readouterr().out
    assert "ResultsAccepted" in out


def test_pipeline_document(sf_dir, tmp_path, spark, capsys):
    """Two-stage DAG document through the CLI: q12-style write stage then a
    stage consuming '@a' (uses registry queries only, so the document works
    against a stock engine)."""
    doc = {"stages": [
        {"name": "a", "query": "q01_scan_projection",
         "inputs": {"sf_dir": sf_dir},
         "outputs": {"path": str(tmp_path / "nation_out")}},
        # q01 reads "{sf_dir}/nation.parquet"; publish stage a's output dir
        # under that name so the hand-off is a real read of stage a's files
        {"name": "b", "query": "q01_scan_projection", "after": ["a"],
         "inputs": {"sf_dir": str(tmp_path)},
         "outputs": {"path": str(tmp_path / "b_out")}},
    ]}
    # stage b's sf_dir must contain nation.parquet -> point stage a there
    doc["stages"][0]["outputs"]["path"] = str(tmp_path / "nation.parquet")
    f = tmp_path / "pipeline.json"
    f.write_text(json.dumps(doc))
    rc = cli.main(["pipeline", "-f", str(f)])
    assert rc == 0
    out = capsys.readouterr().out
    assert "stage a:" in out and "stage b:" in out
    assert "Cancelled" not in out and "Error" not in out
    assert spark.read.parquet(str(tmp_path / "b_out")).count() == 25
