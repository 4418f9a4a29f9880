"""Kept path vs the parent commit's row and its deleted twin, warm.

Each answer below had two registered implementations; one was kept
under the first row's name. This A/B times, per scale, the kept rows in
the HEAD tree against the same rows and the deleted twins in a PARENT
tree (a `git archive` of the parent commit). Each tree runs in its own
process (`local[N]` from $SPARK_GRAFT_CPUS); processes alternate
parent, head, parent, head, ...; inside a process every row is warmed
twice, then timed round-robin (build + noop write), so the parent's row
and its twin alternate run by run.

    python experiments/twin_collapse_ab.py --parent <tree> --head <tree> \\
        --sf <sf_dir> [--sf <sf_dir> ...] [--rounds 2] [--runs 3] \\
        --out <results.jsonl>

The x10 scale is experiments/scaling_axis_r15.py's build(). Prints one
summary line per (scale, row, side): median, quartiles and run count.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

KEPT = ("nd_dedup_clusters", "nd_dedup_survivors", "nd_leakage_safe_split",
        "nd_bloom_prefilter", "nd_embedding_covariance", "nd_pca_project",
        "nd_ann_pca", "nd_semantic_dedup")
# deleted twin -> the kept row that now computes its answer
TWINS = {"nd_cc_doubling": "nd_dedup_clusters",
         "nd_bloom_prefilter_part": "nd_bloom_prefilter",
         "nd_embedding_covariance_fast": "nd_embedding_covariance",
         "nd_semantic_dedup_fast": "nd_semantic_dedup"}

_CHILD = """
import json, sys, time
from bacalhau_spark.registry import ALL_QUERIES
from bacalhau_spark.session import get_session
sf, n, out, side = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
rows = sys.argv[5:]
spark = get_session("twin-collapse-ab",
                    extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
def run(name):
    t0 = time.perf_counter()
    ALL_QUERIES[name][0](spark, sf).write.mode("overwrite") \\
        .format("noop").save()
    return time.perf_counter() - t0
for name in rows:
    run(name); run(name)
with open(out, "a") as f:
    for i in range(n):
        for name in rows:
            f.write(json.dumps({"side": side, "sf": sf, "row": name,
                                "s": round(run(name), 4)}) + "\\n")
spark.stop()
"""


def _run(tree: str, side: str, sf: str, rows, runs: int, out: str) -> None:
    env = dict(os.environ, PYTHONPATH=tree)
    subprocess.run([sys.executable, "-c", _CHILD, sf, str(runs), out, side,
                    *rows], env=env, cwd=tree, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def _quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[1], q[2]


def summarize(out: str) -> None:
    runs: dict = {}
    for line in open(out):
        r = json.loads(line)
        runs.setdefault((r["sf"], r["row"], r["side"]), []).append(r["s"])
    for (sf, row, side), xs in sorted(runs.items()):
        q1, med, q3 = _quartiles(xs)
        print(f"{os.path.basename(sf.rstrip('/')):>8} {row:30} {side:6} "
              f"median {med:7.3f} s  IQR [{q1:.3f}, {q3:.3f}]  n={len(xs)}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--head", required=True)
    ap.add_argument("--sf", action="append", required=True)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    for sf in args.sf:
        for _ in range(args.rounds):
            _run(args.parent, "parent", sf, KEPT + tuple(TWINS), args.runs,
                 args.out)
            _run(args.head, "head", sf, KEPT, args.runs, args.out)
    summarize(args.out)


if __name__ == "__main__":
    main()
