"""Round-8 crossover sweep: the six round-7 operators (plus the two
round-8 dedup additions) measured EXACTLY as registered — Spark fn vs
the registry's own DuckDB oracle SQL — at sf0.1 and 10x/30x, closing
the round-7 verdict's missing-measurement item (round 6 measured every
new operator; round 7 did not).

Fixtures (all deterministic, production ~64k-row groups):
- documents: build_scaled_perturbed (replica i suffixes every word with
  'r{i}' — replicas are not near-dups, candidate growth linear).
- events: build_scaled_events (NEW here) — replicas shift event_id AND
  user_id, so the corpus grows by USERS with per-user history length
  constant; ts is kept, which is the recurring-telemetry shape (more
  devices, same window). SCD2/MAD group cardinality grows linearly,
  group SIZE stays fixed.
- embeddings: build_scaled_embeddings (sign-perturbed replicas, each in
  its own LSH bucket) — for k-means the perturbation is irrelevant
  (no bucketing); N grows, K and dims fixed.

Also runs the bloom admission A/B the r7 verdict asked for: the same
audit computed with NO bloom (every batch row left-joins the corpus
fingerprint index) vs the bloom prefilter (bloom_admit_frame),
interleaved in one session —
quantifying the "only bloom hits reach the exact join" claim.

Run: python experiments/registry_crossover_r8.py [--mult 10]
Prints one JSON line per measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from experiments.scale_crossover import (ROW_GROUP_ROWS, SF_DIR,
                                         build_scaled_embeddings,
                                         build_scaled_perturbed)

DOC_QUERIES = ("nd_dataset_card", "nd_bloom_prefilter", "nd_substr_dedup")
EVENT_QUERIES = ("nd_scd2_history", "nd_mad_outlier", "nd_stream_topk")
EMB_QUERIES = ("nd_kmeans",)


def build_scaled_events(scratch: str, mult: int) -> str:
    """events replicated mult* with shifted event_id and user_id (more
    users, constant per-user history — the honest telemetry growth
    axis); ts untouched."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out_dir = os.path.join(scratch, f"x{mult}_events")
    marker = os.path.join(out_dir, "_READY")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    src = pq.read_table(f"{SF_DIR}/events.parquet")
    shifts = {k: pc.max(src[k]).as_py() + 1 for k in ("event_id", "user_id")}
    parts = []
    for i in range(mult):
        t = src
        for k, base in shifts.items():
            t = t.set_column(t.schema.get_field_index(k), k,
                             pc.add(t[k], i * base))
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/events.parquet",
                   row_group_size=ROW_GROUP_ROWS)
    open(marker, "w").close()
    return out_dir


def median_runs(fn, n=3):
    fn()  # warm
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3)


def _measure(spark, con, names, d, label):
    from bacalhau_spark.registry import ALL_QUERIES

    for name in names:
        fn, sql = ALL_QUERIES[name]
        s = median_runs(lambda: fn(spark, d)
                        .write.mode("overwrite").format("noop").save())
        dd = median_runs(lambda: con.execute(sql).fetchall())
        print(json.dumps({"query": name, "scale": label,
                          "spark_s": s, "duckdb_s": dd,
                          "ratio": round(s / dd, 2)}), flush=True)


def _bloom_ab(spark, d, label):
    """Plain anti-join admission vs the bloom prefilter, same audit
    frame, interleaved round-robin (JIT-ramp rule)."""
    from pyspark.sql import functions as F

    from bacalhau_spark.catalog import table
    from bacalhau_spark.operators.dedup import bloom_admit_frame

    def inputs():
        docs = table(spark, d, "documents")
        fp60 = (F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
                .cast("long"))
        corpus = (docs.where(F.col("doc_id") % 7 != 0)
                  .select(fp60.alias("cfp")).distinct())
        batch = (docs.where(F.col("doc_id") % 7 == 0)
                 .select("lang", fp60.alias("fp"))
                 .unionByName(
                     docs.where((F.col("doc_id") % 7 != 0)
                                & (F.col("doc_id") % 9 == 1))
                     .select("lang", fp60.alias("fp"))))
        return corpus, batch

    def plain():
        corpus, batch = inputs()
        j = batch.join(corpus, F.col("fp") == F.col("cfp"), "left")
        return (j.groupBy("lang")
                .agg(F.count("*").alias("n_batch"),
                     F.sum(F.col("cfp").isNotNull().cast("long"))
                     .alias("n_dup"))
                .orderBy("lang"))

    variants = {
        "plain_antijoin": plain,
        "bloom": lambda: bloom_admit_frame(*inputs()),
    }
    timings = {k: [] for k in variants}
    for k, v in variants.items():  # warm all
        v().write.mode("overwrite").format("noop").save()
    for _ in range(3):  # interleaved
        for k, v in variants.items():
            t0 = time.perf_counter()
            v().write.mode("overwrite").format("noop").save()
            timings[k].append(time.perf_counter() - t0)
    print(json.dumps({"ab": "bloom_admission", "scale": label,
                      **{k: round(statistics.median(ts), 3)
                         for k, ts in timings.items()}}), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--scratch", default="/tmp/bacalhau_spark_scale")
    ap.add_argument("--skip-base", action="store_true")
    ap.add_argument("--groups", default="docs,events,emb,ab")
    args = ap.parse_args()
    groups = set(args.groups.split(","))

    import duckdb

    from bacalhau_spark.session import get_session

    spark = get_session("registry-crossover-r8")
    spark.sparkContext.setLogLevel("ERROR")

    scales = [] if args.skip_base else [("sf0.1", 1)]
    scales.append((f"sf0.1x{args.mult}", args.mult))
    for label, mult in scales:
        if "docs" in groups or "ab" in groups:
            d = (SF_DIR if mult == 1
                 else build_scaled_perturbed(args.scratch, mult))
            con = duckdb.connect()
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{d}/documents.parquet')")
            if "docs" in groups:
                _measure(spark, con, DOC_QUERIES, d, label + "p")
            con.close()
            if "ab" in groups:
                _bloom_ab(spark, d, label + "p")
        if "events" in groups:
            d = (SF_DIR if mult == 1
                 else build_scaled_events(args.scratch, mult))
            con = duckdb.connect()
            con.execute("CREATE VIEW events AS SELECT * FROM "
                        f"read_parquet('{d}/events.parquet')")
            _measure(spark, con, EVENT_QUERIES, d, label)
            con.close()
        if "emb" in groups:
            d = (SF_DIR if mult == 1
                 else build_scaled_embeddings(args.scratch, mult))
            con = duckdb.connect()
            con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                        f"read_parquet('{d}/embeddings.parquet')")
            _measure(spark, con, EMB_QUERIES, d, label)
            con.close()


if __name__ == "__main__":
    main()
