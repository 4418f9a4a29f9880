"""The benchmark's one command.

    python3 perfbench/run.py --workload query_mix|crawl_epoch \\
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It generates the workload's
inputs from the seed, starts one fresh worker process (``worker.py``) whose
index store, streaming checkpoints, Spark local dirs, temp dir, working
directory and sinks all live in a per-run directory under
``perfbench/_work/``, samples the driver's RSS (worker and JVM), checks the
results, removes the per-run directory and prints:

* a ``{"provenance": ...}`` line: git head (when the checkout is a git
  repository), a digest of the engine's sources, nproc, cores used,
  pyspark version, seed, input digest and the scheduler-floor probe of
  ``bench.py`` at the start and the end of the timed phase;
* with ``--trace 1``, a ``{"counters": ...}`` line with the deterministic
  counts (two runs of the same code and seed must print the same line)
  and the spans in ``perfbench/traces/<workload>-seed<N>.jsonl``. The
  tracing overhead is ``ops_per_s`` of an untraced run over
  ``trace.ops_per_s`` of a traced run on the same seed, minus one;
* last, the result: ``{"correct", "attempted", "failed", "metrics"}``
  with every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
  per-layer metric (``--trace 1``).

It exits 1 when a result check fails, and 2 when the engine's sources are
not next to it.

Parallelism and memory are pinned here, not taken from the machine:
``local[4]``, 4 shuffle partitions and a 1 GiB pre-touched driver heap.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

CPUS = 4
SHUFFLE_PARTITIONS = 4
DRIVER_HEAP = "1g"
# the worker gets set-up and checks time plus twice the timed phase; with
# --seconds 10 it is stopped after 170 s
SETUP_ALLOWANCE_S = 150
# per-run state the program must clean up itself
LEAK_PREFIXES = ("bacalhau-stream-ckpt-", "bacalhau-spark-")


def _driver_rss_kb(pid: int) -> int:
    """Summed VmRSS of the driver: the worker process and its direct
    children (the JVM). The Python workers the JVM forks for UDF tasks are
    executor-side and left out: how many are alive at once varies with
    task scheduling."""
    procs = [pid]
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            procs.append(int(name))
    total = 0
    for p in procs:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak_kb = pid, 0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(0.5):
            self.peak_kb = max(self.peak_kb, _driver_rss_kb(self.pid))


def _git_head() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest() -> str:
    h = hashlib.md5()
    pkg = os.path.join(ROOT, "bacalhau_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _stop_group(child: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait until
    none of it remains."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.communicate()
    for _ in range(100):
        try:
            os.killpg(child.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _leaks(dirs: list[str]) -> list[str]:
    return [os.path.join(d, n) for d in dirs if os.path.isdir(d)
            for n in os.listdir(d) if n.startswith(LEAK_PREFIXES)]


def main() -> int:
    # SIGTERM unwinds like an exception, so the worker group is stopped
    # and the per-run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("query_mix", "crawl_epoch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bacalhau_spark",
                                       "engine.py")):
        print("perfbench: engine sources not found next to the benchmark",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    import gen
    if args.workload == "query_mix":
        import mix as workload
    else:
        import crawl as workload

    work = os.path.join(HERE, "_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    dirs = {k: os.path.join(work, k) for k in
            ("input", "store", "ckpt", "local", "tmp", "sinks", "cwd")}
    shutil.rmtree(work, ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d)
    try:
        cfg = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "cpus": CPUS, "shuffle_partitions": SHUFFLE_PARTITIONS,
               "result": os.path.join(work, "result.json"),
               "spans_path": os.path.join(
                   HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl"),
               **dirs}
        workload.prepare(cfg)
        cfg["input_bytes"] = gen.input_bytes(cfg["input"])
        input_digest = gen.digest(cfg["input"])
        java_opts = (f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
                     f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}")
        cfg["spark_conf"] = {
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": dirs["local"],
            "spark.sql.warehouse.dir": os.path.join(dirs["cwd"],
                                                    "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            os.makedirs(os.path.dirname(cfg["spans_path"]), exist_ok=True)
        env = dict(os.environ,
                   SPARK_GRAFT_INDEX_STORE=dirs["store"],
                   SPARK_GRAFT_STREAM_CKPT_DIR=dirs["ckpt"],
                   SPARK_LOCAL_DIRS=dirs["local"],
                   SPARK_GRAFT_CPUS=str(CPUS),
                   SPARK_SHUFFLE_PARTITIONS=str(SHUFFLE_PARTITIONS),
                   TMPDIR=dirs["tmp"],
                   # python workers import the engine (pickled-by-reference
                   # data sources and UDF helpers)
                   PYTHONPATH=os.pathsep.join(
                       p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
                   PYSPARK_PYTHON=sys.executable,
                   PYSPARK_DRIVER_PYTHON=sys.executable)
        cfg["t_spawn"] = time.time()
        # its own process group, so the JVM and Python workers it starts
        # are stopped with it
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             json.dumps(cfg)], cwd=dirs["cwd"], env=env,
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
            start_new_session=True)
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            _, err = child.communicate(
                timeout=SETUP_ALLOWANCE_S + 2 * args.seconds)
        except subprocess.TimeoutExpired:
            err = "worker timed out"
        finally:
            _stop_group(child)
            sampler.stop.set()
            sampler.join()
        if child.returncode != 0 or not os.path.exists(cfg["result"]):
            print(err[-4000:], file=sys.stderr)
            return 1
        with open(cfg["result"]) as f:
            res = json.load(f)
        leaks = _leaks([dirs["ckpt"], dirs["tmp"]])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    errors = res["errors"] + [f"leaked {p}" for p in leaks]
    import pyspark
    print(json.dumps({"provenance": {
        "git_head": _git_head(), "source_digest": _source_digest(),
        "nproc": os.cpu_count(), "cores_used": CPUS,
        "shuffle_partitions": SHUFFLE_PARTITIONS, "driver_heap": DRIVER_HEAP,
        "pyspark": pyspark.__version__, "workload": args.workload,
        "seed": args.seed, "input_digest": input_digest,
        "input_bytes": cfg["input_bytes"],
        "floor_start": res["floor_start"], "floor_end": res["floor_end"],
        "load_avg": os.getloadavg(), "errors": errors[:20]}}))
    if args.trace:
        values = dict(res["per_layer"])
        from worker import EXACT_COUNTERS
        counters = {k: values.get(k, 0) for k in EXACT_COUNTERS}
        counters["unstable"] = res.get("unstable", [])
        if "addresses" in res:
            counters["contentstore.terminal_addresses"] = res["addresses"]
        print(json.dumps({"counters": counters}))
    else:
        values = dict(res["metrics"], peak_rss_mb=sampler.peak_kb / 1024.0)
    # a per-layer metric of a layer the workload does not reach reads 0
    metrics = {m["name"]: {"value": values[m["name"]] if not args.trace
                           else values.get(m["name"], 0), "unit": m["unit"]}
               for m in wanted}
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
