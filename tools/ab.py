"""Interleaved A/B of registered rows between two checkouts.

Runs N pairs of worker processes, one per side, alternating which side
goes first. Each worker imports the package from its own checkout, builds
the engine session with that checkout's ``get_session`` (so both sides
run the engine's own configuration), gives it its own index store, runs
every named row once to build and warm, then times each row
session-cold (after ``clear_session_index``, so the session tier is
rebuilt from the persisted artifacts) and warm. Results are compared
per row: medians, interquartile ranges, how many pairs the change won,
and whether both sides returned the same rows.

    python tools/ab.py --parent ../parent --change . \\
        --rows nd_minhash_lsh,nd_image_phash --sf /data/sf0.1 \\
        --pairs 6 --out experiments/bucket_core_ab.txt

The results file is written even when a worker fails; the failure is in
it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time


def _worker(args) -> None:
    """One process of one side: print {row: {cold, warm, rows}} as JSON."""
    os.environ["SPARK_GRAFT_INDEX_STORE"] = args.store
    sys.path.insert(0, args.repo)
    import hashlib

    from bacalhau_spark.registry import ALL_QUERIES
    from bacalhau_spark.session import get_session
    from bacalhau_spark.sources.indexstore import clear_session_index

    # the heap is sized for sf0.1; every planner setting is the engine's
    spark = get_session("ab", master=args.master,
                        extra_conf={"spark.driver.memory": "3g"})
    spark.sparkContext.setLogLevel("ERROR")
    rows = args.rows.split(",")

    def run(name):
        t0 = time.perf_counter()
        got = ALL_QUERIES[name][0](spark, args.sf).collect()
        return time.perf_counter() - t0, got

    for name in rows:  # build the artifacts, compile the code paths
        run(name)
    out = {}
    for name in rows:
        out[name] = {}
        clear_session_index(spark)
        out[name]["cold"], _ = run(name)
        out[name]["warm"], got = run(name)
        out[name]["rows"] = hashlib.md5("\n".join(sorted(
            map(repr, map(tuple, got)))).encode()).hexdigest()
    print("AB_RESULT " + json.dumps(out), flush=True)
    spark.stop()


def _git_head(repo: str) -> str:
    """The checkout's short HEAD, marked when its tree has changes."""
    def git(*a):
        return subprocess.run(["git", "-C", repo, *a], capture_output=True,
                              text=True, check=True).stdout.strip()
    try:
        dirty = git("status", "--porcelain", "--untracked-files=no")
        return git("rev-parse", "--short", "HEAD") + (
            " + uncommitted changes" if dirty else "")
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def _side(args, repo: str, store: str) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--worker",
           "--repo", repo, "--store", store, "--rows", args.rows,
           "--sf", args.sf, "--master", args.master]
    proc = subprocess.run(cmd, capture_output=True, text=True,
                          timeout=args.timeout, cwd=tempfile.gettempdir())
    for line in proc.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT "):])
    raise RuntimeError(f"worker for {repo} exited {proc.returncode}: "
                       + proc.stderr[-2000:])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _summary(rows: list[str], phases: list[str],
             pairs: list[dict]) -> list[str]:
    lines = ["", "row  phase  parent median [IQR]  change median [IQR]  "
             "change/parent  change faster  rows equal"]
    for name in rows:
        for phase in phases:
            a = [p["parent"][name][phase] for p in pairs]
            b = [p["change"][name][phase] for p in pairs]
            qa, qb = _quartiles(a), _quartiles(b)
            wins = sum(y < x for x, y in zip(a, b))
            same = all(p["parent"][name]["rows"] == p["change"][name]["rows"]
                       for p in pairs)
            lines.append(
                f"{name}  {phase}  {qa[1]:.3f} [{qa[0]:.3f}-{qa[2]:.3f}]  "
                f"{qb[1]:.3f} [{qb[0]:.3f}-{qb[2]:.3f}]  "
                f"{qb[1] / qa[1]:.3f}  {wins}/{len(pairs)}  {same}")
    return lines


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--rows", required=True,
                    help="comma-separated registry row names")
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--timeout", type=int, default=1800,
                    help="seconds one worker may run")
    ap.add_argument("--out", help="results file")
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--repo", help=argparse.SUPPRESS)
    ap.add_argument("--store", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.worker:
        _worker(args)
        return
    if not (args.parent and args.change and args.out):
        ap.error("--parent, --change and --out are required")
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    stores = {s: tempfile.mkdtemp(prefix=f"ab-store-{s}-") for s in sides}
    rows = args.rows.split(",")
    phases = ["cold", "warm"]
    header = [f"# tools/ab.py: {args.pairs} interleaved pairs, {args.master},"
              f" {os.cpu_count()} cpus, {os.path.basename(args.sf)}",
              f"# parent: {_git_head(sides['parent'])}",
              f"# change: {_git_head(sides['change'])}",
              f"# rows: {args.rows}",
              "# session: each checkout's get_session(master="
              f"{args.master!r}), 3g driver heap",
              "# cold = first call after clear_session_index (persisted "
              "artifacts kept); warm = the call after it; seconds"]
    pairs: list[dict] = []
    lines: list[str] = []
    error = None
    try:
        for i in range(args.pairs):
            order = (["parent", "change"] if i % 2 == 0
                     else ["change", "parent"])
            got = {s: _side(args, sides[s], stores[s]) for s in order}
            pairs.append(got)
            for name in rows:
                times = "  ".join(
                    f"{s} " + " ".join(f"{ph}={got[s][name][ph]:.3f}"
                                       for ph in phases)
                    for s in sides)
                lines.append(f"pair {i} first={order[0]} {name}  {times}")
            print(f"pair {i} done", file=sys.stderr, flush=True)
    except Exception as e:  # noqa: BLE001 — record it in the results
        error = f"# ERROR after {len(pairs)} pairs: {e}"
    finally:
        out = header + lines
        if pairs:
            out += _summary(rows, phases, pairs)
        if error:
            out.append(error)
        with open(args.out, "w") as f:
            f.write("\n".join(out) + "\n")
        for store in stores.values():
            shutil.rmtree(store, ignore_errors=True)
    if error:
        sys.exit(error)


if __name__ == "__main__":
    main()
