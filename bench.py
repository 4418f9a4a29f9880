"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Protocol (BASELINE.md §2): AQE on, parquet inputs, warm JVM — a global
warm-up pre-pass over the whole set, then WARMUP_RUNS warm-ups + median of
TIMED_RUNS timed runs per query; results are fully materialized via a
noop-format write (no driver collect, no display cost). The scheduler-floor
probe runs before and after the timed sweep (floor_s / floor_end_s) so any
two runs compare load-adjusted (BASELINE.md §5 reading rules). Prints ONE
JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "floor_s": ..., "sf": ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bacalhau_spark.registry import ALL_QUERIES
from bacalhau_spark.session import get_session

BENCH_QUERIES = (
    "q17_hash_agg",        # scan + hash aggregate (TPC-H Q1 shape)
    "q13_join_agg",        # equi join + group-by
    "q15_multiway_join",   # 5-way join + agg
    "q25_topk",            # order-by + limit (top-k)
    "q28_tumbling_window", # 1-hour tumbling window aggregate
    "q3_shipping_priority",# filtered 3-way join + agg + top-10 (TPC-H Q3)
    "nd_asof_join",        # as-of join (union + running window)
    "tpch_q6_forecast",    # pure pushed-filter scan + 1-row sum (TPC-H Q6)
    "tpch_q7_volume",      # 6-way join, nation in two roles (TPC-H Q7)
    "tpch_q18_large_orders",# grouped-HAVING semi join + re-agg (TPC-H Q18)
    "nd_minhash_lsh",      # near-dup: shingle -> minhash -> band join
    "nd_grouped_python",   # Python plane: repartition + mapInPandas OLS
    # round-4 curation additions (baselines: BASELINE.md round-4 section)
    "nd_gopher_filter",    # quality gates: integer-exact per-row flags
    "nd_bpe_pair_count",   # BPE-training pair counts over weighted vocab
    # round-8 additions: the two operators that cross below DuckDB at the
    # FIRST scale step (BASELINE.md §7 crossover table) — tracked here so
    # the per-round series records them; sf0.1 oracles: kmeans 0.169 s,
    # substr_dedup 0.669 s (registry_crossover_r8.txt)
    "nd_kmeans",           # integer-exact distributed Lloyd's k-means
    "nd_substr_dedup",     # sliding-window repeated-substring detector
    # round-9 addition: editdist verification rebuilt (single-scan
    # gather, agg-computed DP, pinned exchange width, shared band index)
    # — 17.1 s -> 2.7 s cold at x10 (experiments/minhash_index_reuse_r9.txt).
    # NOTE round 9 changed what nd_minhash_lsh measures warm: LSH
    # consumers read a session-cached signature/band index, so the warm
    # loop times the PROBE path (the production read). Round 10 restored
    # series comparability: a dedicated cold pass (index evicted per
    # run) reports nd_minhash_lsh_cold_s, and every r3/r7/r8-comparable
    # subtotal uses the COLD number (round-9 verdict, What's wrong #1).
    "nd_editdist_dedup",   # LSH candidates verified by bounded DP
    # round-10 addition: the learned quality filter — bounded driver-side
    # perceptron training + literal-weight codegen scoring (sf0.1 DuckDB
    # baseline 0.42-0.43 s, registry_crossover_r10.txt; crosses to
    # 0.93x/0.87x at x10/x30 — training cost is scale-invariant)
    "nd_quality_model",
    # round-11 additions: the crawl-extraction mapper (pure regexp chain)
    # and the image near-dup modality (dHash bands + bucketed verify) —
    # sf0.1 DuckDB baselines in registry_crossover_r11.txt
    "nd_html_extract",
    "nd_image_phash",
    # round-12 additions: the audio and video near-dup modalities (the
    # phash recipe on envelope bands / frame-sampled 16-band signatures;
    # warm = persisted-index probe, same basis as nd_image_phash).
    # sf0.1 DuckDB baselines, median of 3: aphash 1.116 s, vphash
    # 3.929 s (BASELINE.md round-12 section)
    "nd_audio_phash",
    "nd_video_phash",
)

# 2 warm-ups (first run pays codegen+JIT, second still sees JIT tail) and
# median of 5: local timings vary ±20-40% run-to-run; a 3-run median at
# this scale regularly moved totals by 15% between invocations.
# A GLOBAL pre-pass over the whole set runs first: the earliest queries
# otherwise pay the JVM's C2-compile ramp for the shared scan/agg/shuffle
# code paths that later queries inherit for free (q17, first in the list,
# measured 2.1x its steady-state median without it) — the pre-pass makes
# per-query numbers position-independent.
WARMUP_RUNS = 2
TIMED_RUNS = 5


def materialize(df) -> None:
    """Force full execution of every operator without collecting to the
    driver: write to the no-op sink (row-by-row consumption, zero IO)."""
    df.write.mode("overwrite").format("noop").save()


def scheduler_floor(spark) -> dict[str, float]:
    """The load-normalizing probe (experiments/q6_floor.py): ONE action on
    a ONE-ROW dataframe through the DAGScheduler + noop sink — zero query
    work, pure job-launch machinery. Idle-machine reference: ~0.09-0.11 s.
    Any two bench runs can be compared load-adjusted by their floors, and
    sub-second per-query numbers should be judged as floor-adjusted
    ratios ((t - floor) / oracle), since the floor alone already exceeds
    2x the DuckDB total for the fastest queries."""
    from pyspark.sql import functions as F
    trivial = spark.range(1).agg(F.sum("id").alias("s"))
    for _ in range(2):
        materialize(trivial)
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        materialize(trivial)
        runs.append(time.perf_counter() - t0)
    return {"median": round(statistics.median(runs), 4),
            "min": round(min(runs), 4)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_session("bacalhau-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import pyspark

    for name in BENCH_QUERIES:
        fn, _ = ALL_QUERIES[name]
        materialize(fn(spark, sf_dir))

    floor_start = scheduler_floor(spark)
    timings: dict[str, float] = {}
    spreads: dict[str, dict[str, float]] = {}
    for name in BENCH_QUERIES:
        fn, _ = ALL_QUERIES[name]
        for _ in range(WARMUP_RUNS):
            materialize(fn(spark, sf_dir))
        runs = []
        for _ in range(TIMED_RUNS):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(runs), 3)
        # Per-query spread makes a loaded run self-identifying: ambient load
        # inflates max (and usually min) uniformly across queries, so a
        # reader can separate environment noise from a real regression
        # without re-running on an idle machine.
        spreads[name] = {
            "min": round(min(runs), 3),
            "median": timings[name],
            "max": round(max(runs), 3),
        }

    # COLD minhash pass (round-9 verdict, "Restore bench-series
    # comparability"): the session-shared signature/band index makes the
    # warm loop above time the PROBE path — the production read, kept in
    # `queries` — but the r3/r7/r8-comparable subtotals predate the
    # index and must stay on the one-shot BUILD+probe number to remain
    # apples-to-apples with the r8-and-earlier series (and with the
    # 0.525 s DuckDB baseline, which re-derives signatures per run).
    # Each timed run evicts the session index first, so every run pays
    # the full signature+band build.
    # Round 11 moved the shared indexes into a PERSISTED parquet store
    # (cross-session reuse), so cold now evicts BOTH tiers
    # (persisted=True) and the cold number includes the index PUBLISH
    # (parquet write + read-back) — the honest production build cost.
    # The r8-and-earlier series measured build+probe without a publish;
    # the step is the write cost (decomposed in
    # experiments/index_persist_r11.txt).
    from bacalhau_spark.sources.indexstore import clear_session_index
    mh_fn, _ = ALL_QUERIES["nd_minhash_lsh"]
    cold_runs = []
    for _ in range(3):
        clear_session_index(spark, persisted=True)
        t0 = time.perf_counter()
        materialize(mh_fn(spark, sf_dir))
        cold_runs.append(time.perf_counter() - t0)
    minhash_cold = round(statistics.median(cold_runs), 3)

    # COLD html_extract pass (round 12): the crawl front door is now a
    # materialized artifact (web.html_extract_index), so the warm row
    # above measures the production ARTIFACT READ; the r11 series
    # measured the inline extraction chain per run, whose like-for-like
    # partner is this cold number (build + publish + read, both tiers
    # evicted per run) — r11_comparable_total swaps it in.
    he_fn, _ = ALL_QUERIES["nd_html_extract"]
    he_runs = []
    for _ in range(3):
        clear_session_index(spark, persisted=True)
        t0 = time.perf_counter()
        materialize(he_fn(spark, sf_dir))
        he_runs.append(time.perf_counter() - t0)
    html_extract_cold = round(statistics.median(he_runs), 3)

    # COLD phash passes (video round 12; image/audio round 15 — the
    # round-14 verdict's What's-wrong #4: the candidate tier moved pair
    # generation out of the warm probe for all three modalities, so the
    # warm rows alone no longer carry the one-shot ingest cost for
    # image/audio). Each is the heaviest per-doc hash build of its
    # modality — the warm row measures the persisted-index probe; cold
    # is the one-shot build+publish+read an ingest epoch pays (both
    # tiers evicted per run, additions-only: no existing key changes).
    phash_cold: dict[str, float] = {}
    for cold_name in ("nd_video_phash", "nd_image_phash",
                      "nd_audio_phash"):
        ph_fn, _ = ALL_QUERIES[cold_name]
        ph_runs = []
        for _ in range(3):
            clear_session_index(spark, persisted=True)
            t0 = time.perf_counter()
            materialize(ph_fn(spark, sf_dir))
            ph_runs.append(time.perf_counter() - t0)
        phash_cold[cold_name] = round(statistics.median(ph_runs), 3)
    video_phash_cold = phash_cold["nd_video_phash"]

    def total(names, cold_minhash: bool = True) -> float:
        # r8-and-earlier comparable subtotals swap in the COLD minhash
        # number (those series predate the session index); the r9 series
        # was PUBLISHED with the warm probe (BENCH_r09 measured the
        # session-index read), so r9_comparable_total keeps the warm
        # basis — computing it cold showed a spurious step vs BENCH_r09
        # (round-10 ADVICE).
        return round(sum(minhash_cold
                         if cold_minhash and n == "nd_minhash_lsh"
                         else timings[n] for n in names), 3)

    # The headline set grew 12 -> 14 in round 4, 14 -> 16 in round 8,
    # 16 -> 17 in round 9 and 17 -> 18 in round 10; the r3/r7/r8/r9-set
    # subtotals keep the BENCH_r{N} total series directly comparable
    # across the boundaries.
    r12_added = ("nd_audio_phash", "nd_video_phash")
    r11_added = ("nd_html_extract", "nd_image_phash") + r12_added
    r10_added = ("nd_quality_model",)
    r9_added = ("nd_editdist_dedup",)
    r8_added = ("nd_kmeans", "nd_substr_dedup")
    post_r7_added = r8_added + r9_added + r10_added + r11_added
    r3_set = [n for n in BENCH_QUERIES
              if n not in ("nd_gopher_filter", "nd_bpe_pair_count")
              and n not in post_r7_added]
    r7_set = [n for n in BENCH_QUERIES if n not in post_r7_added]
    r8_set = [n for n in BENCH_QUERIES
              if n not in r9_added + r10_added + r11_added]
    r9_set = [n for n in BENCH_QUERIES
              if n not in r10_added + r11_added]
    r10_set = [n for n in BENCH_QUERIES if n not in r11_added]
    floor_end = scheduler_floor(spark)

    # SIDECAR (round 15, r14 verdict What's-wrong #2): the one-line
    # contract JSON had grown past the driver's tail capture (BENCH_r13
    # stored truncated -> parsed: null -> PERF lost the whole
    # round-over-round table), so everything that is diagnostics rather
    # than contract — per-query spreads, the r3..r11 comparable
    # subtotals, floor-adjusted values — moves to BENCH_sidecar.json
    # next to this file. The printed line keeps exactly the driver
    # contract (metric/value/unit/queries/sf) plus the floor probes and
    # the per-round cold keys (small scalars the per-round series
    # quotes). No `queries` entry is removed or renamed.
    sidecar = {
        "spreads": spreads,
        # floor-adjusted medians (t - floor_s, clamped at 0): the
        # load-normalized per-query view — at sf0.1 the scheduler floor
        # alone exceeds 2x the DuckDB total for the fastest queries, so
        # cross-run and cross-core-count comparisons should use these
        # (r14 verdict #3: the 8-core ratios read ~1 only because the
        # raw medians are floor-bound).
        "queries_floor_adj": {
            n: round(max(t - floor_start["median"], 0.0), 3)
            for n, t in timings.items()},
        "r3_comparable_total": total(r3_set),
        "r7_comparable_total": total(r7_set),
        "r8_comparable_total": total(r8_set),
        "r9_comparable_total": total(r9_set, cold_minhash=False),
        # r10's series measured COLD minhash (the restored basis) but
        # WITHOUT the round-11 index-store publish in the cold path;
        # the publish measured at par with the old localCheckpoint
        # materialize (experiments/index_persist_r11.txt), so the
        # subtotal remains comparable.
        "r10_comparable_total": total(r10_set),
        # r11's series measured nd_html_extract as the inline chain per
        # run (no artifact existed) and nd_minhash_lsh warm in `value`;
        # the comparable total therefore swaps ONLY html_extract to the
        # cold (build+publish+read) number. The r11 series is the
        # 20-row set (pre the r12 audio/video additions).
        "r11_comparable_total": round(
            sum(html_extract_cold if n == "nd_html_extract"
                else timings[n] for n in BENCH_QUERIES
                if n not in ("nd_audio_phash", "nd_video_phash")), 3),
        "floor_s": floor_start["median"],
        "floor_min_s": floor_start["min"],
        "floor_end_s": floor_end["median"],
        "sf": sf,
    }
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_sidecar.json"), "w") as f:
            json.dump(sidecar, f, indent=1)
    except OSError:
        pass  # a read-only checkout never blocks the contract line

    print(json.dumps({
        "metric": "bench_headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # Scheduler-floor probe bracketing the timed sweep (median/min of
        # 5 runs of one action on a 1-row frame): makes every run
        # load-self-identifying — compare runs by (t - floor) for
        # sub-second queries, and distrust a run whose start/end floors
        # disagree by >30% (load changed mid-sweep). Idle ref: ~0.09-0.11 s.
        "floor_s": floor_start["median"],
        "floor_min_s": floor_start["min"],
        "floor_end_s": floor_end["median"],
        # Warm (queries.nd_minhash_lsh) = session-index PROBE, the
        # production read path; cold = per-run index BUILD+probe, the
        # r8-and-earlier measurement and the like-for-like partner of
        # the 0.525 s re-deriving DuckDB baseline. The sidecar's
        # comparable subtotals use COLD.
        "nd_minhash_lsh_cold_s": minhash_cold,
        "nd_html_extract_cold_s": html_extract_cold,
        "nd_video_phash_cold_s": video_phash_cold,
        "nd_image_phash_cold_s": phash_cold["nd_image_phash"],
        "nd_audio_phash_cold_s": phash_cold["nd_audio_phash"],
        "pyspark_version": pyspark.__version__,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
