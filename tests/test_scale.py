"""Scale-mechanics evidence tests: the physical-plan properties the 100 TB
design relies on (SURVEY.md §4) — bucketed co-located joins eliminate the
shuffle, salting spreads hot keys, watermarks actually drop late data.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bacalhau_spark.catalog import table


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted_plan(df) -> str:
    """Formatted explain — unlike executedPlan().toString(), scan node
    detail (full PushedFilters list) is not width-truncated."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return qe.explainString(mode)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Two tables bucketed+sorted on the join key must sort-merge join with
    ZERO exchanges — the co-located join that makes repeated fact-fact joins
    affordable at 100 TB (bucket once, join many times)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .option("path", str(tmp_path / "b_li")).saveAsTable("b_li"))
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .option("path", str(tmp_path / "b_ord")).saveAsTable("b_ord"))
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_li").join(
                spark.table("b_ord"),
                F.col("l_orderkey") == F.col("o_orderkey"))
            n = joined.count()
            plan = _executed_plan(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert n == table(spark, sf_dir, "lineitem").count()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, \
            "bucketed join still shuffles:\n" + plan
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_ord")


def test_salted_join_spreads_hot_keys(spark, sf_dir):
    """The salted join's fact side must distribute each hot key over
    SALT_BUCKETS distinct composite keys (the whole point of salting)."""
    from bacalhau_spark.operators.joins import SALT_BUCKETS
    events = table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.hash("event_id"), F.lit(SALT_BUCKETS)))
    spread = (events.groupBy("user_id")
              .agg(F.countDistinct("salt").alias("n_salts"),
                   F.count("*").alias("n"))
              .where(F.col("n") >= SALT_BUCKETS))
    rows = spread.collect()
    assert rows, "fixture has no key with >= SALT_BUCKETS rows"
    avg_salts = sum(r["n_salts"] for r in rows) / len(rows)
    assert avg_salts >= SALT_BUCKETS * 0.75


def test_q15_dim_chain_broadcasts(spark, sf_dir):
    """The 5-way join must broadcast its dimension chain — the fact side
    (lineitem) must never hash-shuffle into a sort-merge join."""
    from bacalhau_spark.operators.joins import q15_multiway_join
    df = q15_multiway_join(spark, sf_dir)
    df.collect()
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_q15_scan_is_column_pruned(spark, sf_dir):
    """The lineitem scan must read exactly the three needed columns —
    column pruning reaching the parquet reader is the difference between
    reading 3 and 16 columns of 100 TB."""
    from bacalhau_spark.operators.joins import q15_multiway_join
    plan = _executed_plan(q15_multiway_join(spark, sf_dir))
    import re
    li_reads = re.findall(r"ReadSchema: struct<([^>]*)>",
                          plan.split("lineitem.parquet")[1])
    assert li_reads, "no lineitem ReadSchema found"
    cols = {c.split(":")[0] for c in li_reads[0].split(",")}
    assert cols == {"l_orderkey", "l_extendedprice", "l_discount"}, cols


def test_q3_filters_are_pushed(spark, sf_dir):
    """Q3's date/segment filters must reach the parquet scans as
    PushedFilters (row-group skipping at 100 TB)."""
    from bacalhau_spark.operators.joins import q3_shipping_priority
    plan = _executed_plan(q3_shipping_priority(spark, sf_dir))
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_q6_whole_predicate_is_pushed(spark, sf_dir):
    """Q6 is a pure filter+sum: every conjunct (date range, discount band,
    quantity cap) must reach the parquet reader as a PushedFilter — at
    100 TB this query is row-group skipping or it is nothing."""
    from bacalhau_spark.operators.tpch import tpch_q6_forecast
    plan = _formatted_plan(tpch_q6_forecast(spark, sf_dir))
    for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                 "GreaterThanOrEqual(l_discount,0.05)",
                 "LessThanOrEqual(l_discount,0.07)",
                 "LessThan(l_quantity,24.0)"):
        assert frag in plan, frag


def test_q7_nation_joins_broadcast(spark, sf_dir):
    """Q7 joins nation twice (supplier role, customer role); both dim joins
    must be broadcasts — no shuffle for 25-row tables."""
    from bacalhau_spark.operators.tpch import tpch_q7_volume
    plan = _executed_plan(tpch_q7_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2


def test_q5_dims_broadcast_and_date_pushed(spark, sf_dir):
    """Q5's supplier/nation/region joins must broadcast (only the two
    fact-fact joins shuffle) and the order-date range must reach the
    orders scan as pushed filters."""
    from bacalhau_spark.operators.tpch import tpch_q5_local_volume
    df = tpch_q5_local_volume(spark, sf_dir)
    plan = _formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q11_q15_single_fact_aggregation(spark, sf_dir):
    """Q11/Q15: the scalar threshold (total / max) must fold off the
    per-group aggregate, not re-scan lineitem — exactly one scan of the
    fact table in each plan."""
    from bacalhau_spark.operators.tpch import (tpch_q11_important_parts,
                                               tpch_q15_top_supplier)
    for fn in (tpch_q11_important_parts, tpch_q15_top_supplier):
        plan = _formatted_plan(fn(spark, sf_dir))
        # the per-group aggregate is localCheckpoint'ed (its single fact
        # scan runs at build), so the consumer plan re-reads the
        # checkpoint for BOTH branches and must not touch the fact again
        assert plan.count("lineitem.parquet") == 0, \
            f"{fn.__name__} re-scans the fact side past the checkpoint"


def test_q21_self_correlation_is_semi_and_anti(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS double correlation must plan as one semi
    and one anti join (no row-exploding inner self join)."""
    from bacalhau_spark.operators.tpch import tpch_q21_waiting_supplier
    plan = _formatted_plan(tpch_q21_waiting_supplier(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_chunk_dedup_shuffles_hashes_not_text(spark, sf_dir):
    """Every ENSURE_REQUIREMENTS exchange (the real shuffles: chunk
    frequency, doc re-aggregation, output sort) must carry only long
    keys/counters — the document text never shuffles. (The one
    REPARTITION_BY_NUM exchange is spread_compute's fixture-scale scan
    spreading, a no-op on a production multi-split layout.)"""
    import re

    from bacalhau_spark.operators.dedup import nd_chunk_dedup
    plan = _formatted_plan(nd_chunk_dedup(spark, sf_dir))
    shuffles = re.findall(
        r"\(\d+\) Exchange\nInput.*\nArguments:.*ENSURE_REQUIREMENTS.*",
        plan)
    assert shuffles, "expected at least one shuffle in the plan"
    for s in shuffles:
        assert "text#" not in s, f"text column crosses a shuffle: {s}"


def test_zipf_key_queries_have_no_skewed_window(spark, sf_dir):
    """nd_word_rarity and nd_chunk_dedup both need a corpus-wide frequency
    per Zipf-distributed key (words / boilerplate chunks). A window count
    partitioned by the raw key would funnel every occurrence of each head
    key into one partition — a constant fraction of a 100 TB token stream.
    The de-skewed shape must show in the plan: NO Window exec anywhere,
    and a partial_count keyed aggregation (map-side combine collapses the
    head keys before the shuffle)."""
    from bacalhau_spark.operators.dedup import nd_chunk_dedup
    from bacalhau_spark.operators.text import nd_word_rarity

    for fn in (nd_word_rarity, nd_chunk_dedup):
        df = fn(spark, sf_dir)
        plan = _formatted_plan(df)
        assert ") Window" not in plan, (
            f"{fn.__name__} still windows over a Zipf-skewed key")
        # r14: the reduced (doc, key) count frame is a per-call
        # localCheckpoint (the PMI convention) — the map-side partial
        # aggregation lives inside the checkpoint fill, and every
        # branch (frequency rollup + join probe + the rarity total)
        # scans the reduced counts: a stronger one-corpus-pass
        # guarantee than the old ReusedExchange assert. The visible
        # rollups still partial-aggregate map-side over the counts.
        assert "partial_sum" in plan, (
            f"{fn.__name__} lost its map-side partial rollup")
        assert "ExistingRDD" in plan, (
            f"{fn.__name__} must serve all branches from the once-"
            "materialized count checkpoint")
        assert "parquet" not in plan, (
            f"{fn.__name__} re-scans the corpus past the checkpoint")
        df.collect()
        final = _executed_plan(df)
        assert "ExistingRDD" in final and "parquet" not in final


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout + a partition-key filter must prune at
    planning time (PartitionFilters in the scan, non-matching dirs never
    listed into the plan) — the layout contract for time/type-partitioned
    100 TB event logs."""
    out = str(tmp_path / "events_by_type")
    (table(spark, sf_dir, "events")
     .write.partitionBy("event_type").parquet(out))
    df = (spark.read.parquet(out)
          .where(F.col("event_type") == "purchase")
          .select("event_id"))
    df.collect()
    plan = _executed_plan(df)
    assert "PartitionFilters" in plan and "purchase" in plan
    n_purchase = (table(spark, sf_dir, "events")
                  .where("event_type = 'purchase'").count())
    assert df.count() == n_purchase


def _write_events(spark, path: str, rows: list[tuple[int, str]]) -> None:
    (spark.createDataFrame(rows, "id bigint, ts_s string")
     .select("id", F.to_timestamp("ts_s").alias("ts"))
     .coalesce(1).write.mode("append").parquet(path))


def _run_stream(spark, src: str, out: str, ckpt: str) -> None:
    q = (spark.readStream.schema("id bigint, ts timestamp").parquet(src)
         .withWatermark("ts", "1 hour")
         .groupBy(F.window("ts", "1 hour").alias("w"))
         .agg(F.count("*").alias("n"))
         .select(F.col("w.start").alias("ws"), "n")
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data policy end-to-end (SURVEY.md §7 hard part d): a row arriving
    behind the watermark is dropped, not resurrected into a closed window.
    Three availableNow runs over one checkpoint simulate arrival order."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # run 1: on-time rows; max ts 12:00 -> watermark 11:00, closes [10,11).
    _write_events(spark, src, [(1, "2024-01-01 10:00:00"),
                               (2, "2024-01-01 10:30:00"),
                               (3, "2024-01-01 12:00:00")])
    _run_stream(spark, src, out, ckpt)

    # run 2: one late row (08:15, far behind watermark) + one on-time row.
    _write_events(spark, src, [(4, "2024-01-01 08:15:00"),
                               (5, "2024-01-01 13:00:00")])
    _run_stream(spark, src, out, ckpt)

    # run 3: advance watermark past every pending window so they all emit.
    _write_events(spark, src, [(6, "2024-01-01 16:00:00")])
    _run_stream(spark, src, out, ckpt)

    got = {r["ws"].strftime("%H:%M"): r["n"]
           for r in spark.read.parquet(out).collect()}
    assert got.get("10:00") == 2          # both on-time rows
    assert "08:00" not in got             # late row dropped
    assert got.get("12:00") == 1 and got.get("13:00") == 1


def test_cross_dedup_broadcasts_benchmark_side(spark, sf_dir):
    """Decontamination must probe a BROADCAST fingerprint set — the corpus
    side (100 TB at scale) is never shuffled for the anti-join."""
    from bacalhau_spark.operators.dedup import nd_cross_dedup

    df = nd_cross_dedup(spark, sf_dir)
    df.collect()
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_bm25_stats_broadcast_no_wide_shuffle(spark, sf_dir):
    """BM25's corpus stats (1 row) must reach the per-doc scorer via a
    broadcast nested-loop/cross join — the fact side stays unshuffled; the
    only exchange in the plan belongs to the final top-k."""
    from bacalhau_spark.operators.text import nd_bm25

    df = nd_bm25(spark, sf_dir)
    df.collect()
    plan = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, \
        plan


def test_stratified_sample_exact_quotas(spark, sf_dir):
    """Every stratum receives exactly ceil(n_lang * frac) rows — the quota
    guarantee that distinguishes this from probabilistic sampling."""
    import math

    from pyspark.sql import functions as F

    from bacalhau_spark.operators.pipeline import (STRATUM_FRAC,
                                                   nd_stratified_sample)

    totals = {r["lang"]: r["n"] for r in
              table(spark, sf_dir, "documents")
              .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in
           nd_stratified_sample(spark, sf_dir)
           .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {lang: math.ceil(n * STRATUM_FRAC)
                   for lang, n in totals.items()}


def test_queries_run_on_directory_layout(spark, sf_dir, tmp_path):
    """Production inputs are DIRECTORIES of parquet parts, not single
    files. The catalog's `{sf_dir}/{table}.parquet` path convention must
    work when that path is a multi-part directory — same results as the
    single-file fixture."""
    import shutil

    from bacalhau_spark.operators.aggregates import q17_hash_agg
    from bacalhau_spark.operators.curation import nd_gopher_filter
    from bacalhau_spark.operators.dedup import nd_chunk_dedup

    d = tmp_path / "dirsf"
    d.mkdir()
    for t in ("lineitem", "documents"):
        (spark.read.parquet(f"{sf_dir}/{t}.parquet").repartition(4)
         .write.parquet(str(d / f"{t}.parquet")))
    for fn in (q17_hash_agg,):
        assert (fn(spark, str(d)).collect()
                == fn(spark, sf_dir).collect())
    for fn in (nd_gopher_filter, nd_chunk_dedup):
        assert (fn(spark, str(d)).collect()
                == fn(spark, sf_dir).collect())


def test_chunk_dedup_counts_duplicated_spans(spark, sf_dir, tmp_path):
    """Semantics, not just oracle parity: appending an exact copy of a
    document (fresh doc_id) must mark ALL of both copies' chunks as
    duplicated, and leave other documents' counts unchanged."""
    from bacalhau_spark.operators.dedup import nd_chunk_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    first = docs.orderBy("doc_id").limit(1).collect()[0]
    clone_id = docs.agg(F.max("doc_id")).first()[0] + 1
    clone = spark.createDataFrame(
        [(clone_id, first["text"])], "doc_id bigint, text string")
    aug = tmp_path / "aug"
    aug.mkdir()
    (docs.select("doc_id", "text").unionByName(clone)
     .write.parquet(str(aug / "documents.parquet")))
    base = {r["doc_id"]: (r["n_chunks"], r["dup_chunks"])
            for r in nd_chunk_dedup(spark, sf_dir).collect()}
    got = {r["doc_id"]: (r["n_chunks"], r["dup_chunks"])
           for r in nd_chunk_dedup(spark, str(aug)).collect()}
    n0 = base[first["doc_id"]][0]
    assert got[first["doc_id"]] == (n0, n0)   # every chunk now recurs
    assert got[clone_id] == (n0, n0)
    unchanged = [d for d in base if d != first["doc_id"]]
    assert all(got[d] == base[d] for d in unchanged)


def test_spread_compute_is_noop_when_scan_is_parallel(spark, sf_dir):
    """spread_compute must NOT add an exchange when the input already has
    >= defaultParallelism partitions — at corpus scale it is a no-op, never
    a corpus-wide shuffle."""
    from bacalhau_spark.catalog import spread_compute

    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism + 4)
    out = spread_compute(spark, docs, "doc_id")
    assert out is docs  # unchanged plan object: no exchange appended


def test_spread_compute_probes_a_query_shape_once(spark, sf_dir,
                                                  monkeypatch):
    """The partition probe (`df.rdd`, a full plan + RDD conversion) runs
    once per query shape and session; a repeat of the shape reads the
    cached count and never touches `.rdd`."""
    from pyspark.sql import DataFrame

    from bacalhau_spark.catalog import spread_compute

    def shape():
        return table(spark, sf_dir, "documents").select("doc_id", "text")

    spread_compute(spark, shape(), "doc_id")
    again = shape()
    probes = []
    real = type(again).rdd
    monkeypatch.setattr(type(again), "rdd", property(
        lambda df: probes.append(df) or real.func(df)))
    assert isinstance(spread_compute(spark, again, "doc_id"), DataFrame)
    assert probes == []


def test_round6_operators_scale_shapes(spark, sf_dir):
    """The four round-6 operators' 100 TB plan claims, asserted:

    - nd_vocab_coverage: the coverage pass probes the top-K vocab through a
      BROADCAST hash join (the token stream never shuffles for the audit),
      and the vocab build aggregates with a map-side partial_count.
    - nd_boilerplate_strip: keep-first is exactly ONE min-struct window
      over the 60-bit chunk hash (the r14 single-lineage form — the r6
      groupBy+join twin evaluated the tokenize+md5 chunk derivation
      twice; Zipf-hot chunk keys are bounded by WindowExec's spill path,
      the same rule `_band_candidates` relies on), never a ROW_NUMBER
      rank, and chunk text never shuffles — only 60-bit hashes.
    - nd_epoch_shuffle: the operator body is pure per-row codegen — the
      only exchange below the final presentation orderBy is... none; the
      single rangepartitioning exchange belongs to the deterministic
      output order, not the permutation itself.
    - nd_incremental_minhash: the corpus index side reduces to DISTINCT
      band keys BEFORE the probe join (a keyed HashAggregate under the
      join — the persisted LSH index, not a re-expansion per probe). The
      join strategy itself is left to stats/AQE: the fixture-sized index
      broadcasts (correct at kB scale), a 100 TB corpus band set exceeds
      every broadcast threshold and degrades to the shuffle form without
      code changes — which is exactly why the operator carries no
      broadcast hint (asserted).
    """
    from bacalhau_spark.operators.dedup import (nd_boilerplate_strip,
                                                nd_incremental_minhash)
    from bacalhau_spark.operators.pipeline import nd_epoch_shuffle
    from bacalhau_spark.operators.text import nd_vocab_coverage

    vocab_plan = _formatted_plan(nd_vocab_coverage(spark, sf_dir))
    assert "BroadcastHashJoin" in vocab_plan
    assert "partial_count" in vocab_plan

    import re

    boiler_plan = _formatted_plan(nd_boilerplate_strip(spark, sf_dir))
    # r14 single-lineage keep-first: exactly ONE window, a min-struct
    # (never row_number) partitioned by the 60-bit chunk hash
    assert boiler_plan.count(") Window") == 1, (
        "boilerplate keep-first must be the single min-struct window")
    assert re.search(r"\) Window\nInput[^\n]*\nArguments: \[min\(",
                     boiler_plan)
    assert "windowspecdefinition(ch#" in boiler_plan
    assert "row_number" not in boiler_plan
    # the chunk exchange carries (doc_id, idx, ch) longs, never chunk text
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)",
                         boiler_plan):
        assert "chunk" not in m.group(1)

    epoch_plan = _formatted_plan(nd_epoch_shuffle(spark, sf_dir))
    # every Exchange detail block must be the presentation sort's range
    # partitioning — the permutation itself is per-row codegen, shuffle-free
    for m in re.finditer(r"\(\d+\) Exchange\nInput.*\nArguments: (\w+)",
                         epoch_plan):
        assert m.group(1) == "rangepartitioning", (
            "epoch shuffle must not shuffle beyond the presentation sort")
    assert " Window" not in epoch_plan

    inc = nd_incremental_minhash(spark, sf_dir)
    inc_plan = _formatted_plan(inc)
    # DISTINCT band keys under the probe join: a keys=[bkey...] aggregate
    assert re.search(r"HashAggregate.*\n.*\n?Keys \[1\]: \[bkey", inc_plan
                     ) or "keys=[bkey" in inc_plan.replace(" ", ""), (
        "corpus side must reduce to its distinct band-key index")
    # no broadcast HINT in the logical plan: strategy stays stats-driven
    logical = inc._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical and "hint" not in logical.lower()
    # the hot-bucket cap is a groupBy-count (map-side partial agg), never
    # a count-over-window on the Zipf-hot band key — capped LSH buckets
    # ARE the hot keys that would serialize one window partition
    assert " Window" not in inc_plan, (
        "incremental minhash must not window over the skewed bucket key")


def test_semantic_dedup_and_mix_scale_shapes(spark, sf_dir):
    """nd_semantic_dedup must screen within sign buckets via ONE equi
    join on the bucket key — no cartesian/broadcast-nested-loop anywhere
    (the all-pairs shape it exists to avoid). nd_mix_temperature must
    scan the corpus once: the max attaches through a window over the
    per-source aggregate, not a second scan or a driver collect."""
    from bacalhau_spark.operators.curation import nd_mix_temperature
    from bacalhau_spark.operators.similarity import nd_semantic_dedup

    sd_plan = _formatted_plan(nd_semantic_dedup(spark, sf_dir))
    assert "CartesianProduct" not in sd_plan
    assert "BroadcastNestedLoopJoin" not in sd_plan
    assert "bucket" in sd_plan
    # the hot-bucket cap is a groupBy-count broadcast back — never a
    # window over the (potentially sign-skewed) bucket key, which would
    # sort the entire hot orthant inside one task (r13: the capped
    # bucket-and-expand rewrite)
    assert " Window" not in sd_plan
    assert "collect_list" in sd_plan, (
        "pair generation must be bucket-and-expand, not a pair self-join")

    mix_plan = _formatted_plan(nd_mix_temperature(spark, sf_dir))
    # formatted explain names the file once per scan NODE (in its
    # Location detail) — exactly one documents scan in the whole plan
    assert mix_plan.count("documents.parquet") == 1, (
        "mix temperature must not re-scan the corpus for the max")
    assert "partial_count" in mix_plan or "partial" in mix_plan


def test_curation_funnel_single_pass(spark, sf_dir):
    """The funnel's claims: exactly TWO document scans in the whole plan
    (the corpus slice and the benchmark slice — stage counts fold off the
    per-fp aggregate, never a per-stage rescan), the benchmark side joins
    as a broadcast, and the only real shuffle carries the 16-byte
    fingerprint key."""
    from bacalhau_spark.operators.curation import nd_curation_funnel
    plan = _formatted_plan(nd_curation_funnel(spark, sf_dir))
    assert plan.count("documents.parquet") == 2, (
        "funnel must not rescan the corpus per stage")
    assert "BroadcastHashJoin" in plan
    import re
    hash_parts = re.findall(r"hashpartitioning\((\w+)", plan)
    assert all(c.startswith(("fp", "bfp")) for c in hash_parts), hash_parts


def test_quality_gate_two_pass_broadcast(spark, sf_dir):
    """The percentile gate's shape: exactly two document scans (threshold
    build + gate pass), thresholds attach via broadcast, and every real
    exchange carries (lang, score) — never text."""
    from bacalhau_spark.operators.text import nd_quality_percentile_gate
    plan = _formatted_plan(nd_quality_percentile_gate(spark, sf_dir))
    assert plan.count("documents.parquet") == 2
    assert "BroadcastHashJoin" in plan
    import re
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_round7_operators_scale_shapes(spark, sf_dir):
    """The round-7 operators' 100 TB plan claims, asserted:

    - nd_kmeans: the E-step probes the K×dims centroid table through a
      BROADCAST hash join (the exploded matrix never shuffles to meet
      centroids), and nothing in the plan is a cartesian product.
    - nd_bloom_prefilter: the bitmap probe is pure codegen (element_at
      over a literal array — no join anywhere on the probe path), and no
      exchange ever carries document text, only fingerprints.
    - nd_scd2_history: both window passes share ONE user_id exchange —
      the event stream moves exactly once.
    - nd_mad_outlier: the per-group median/MAD scalars return to the
      stream via broadcast joins, never a sort-merge join (the fact
      side would re-shuffle twice).
    - nd_dataset_card: both grains come from the one ROLLUP pass — a
      single documents scan, no window, no cartesian product.
    """
    import re

    from bacalhau_spark.operators.aggregates import nd_mad_outlier
    from bacalhau_spark.operators.curation import nd_dataset_card
    from bacalhau_spark.operators.dedup import nd_bloom_prefilter
    from bacalhau_spark.operators.similarity import nd_kmeans
    from bacalhau_spark.operators.windows import nd_scd2_history

    # assert on the LAZY pipeline: nd_kmeans eagerly checkpoints its
    # k-row audit (to release the staging matrix), which hides the
    # joins behind an ExistingRDD scan
    from bacalhau_spark.operators.similarity import _kmeans_lazy
    km_lazy, km_e = _kmeans_lazy(table(spark, sf_dir, "embeddings"))
    km_plan = _formatted_plan(km_lazy)
    km_e.unpersist()
    assert "BroadcastHashJoin" in km_plan
    assert "CartesianProduct" not in km_plan

    bloom_plan = _formatted_plan(nd_bloom_prefilter(spark, sf_dir))
    assert "element_at" in bloom_plan  # the literal-bitmap codegen probe
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)",
                         bloom_plan):
        assert "text" not in m.group(1)
    assert "CartesianProduct" not in bloom_plan

    scd_plan = _formatted_plan(nd_scd2_history(spark, sf_dir))
    hash_exchanges = re.findall(
        r"Arguments: hashpartitioning\(([^)]*)\)", scd_plan)
    assert len(hash_exchanges) == 1 and "user_id" in hash_exchanges[0], (
        "both SCD2 windows must reuse one user_id exchange")

    mad_plan = _formatted_plan(nd_mad_outlier(spark, sf_dir))
    assert "BroadcastHashJoin" in mad_plan
    assert "SortMergeJoin" not in mad_plan

    card_plan = _formatted_plan(nd_dataset_card(spark, sf_dir))
    # r8 rewrite: three single-pass branches (counters / distinct langs /
    # distinct fps), both grains via the map-side explode-mirror — so up
    # to three scan NODES (formatted explain names each twice), but NO
    # Expand multiplying the document stream, no window, no cartesian.
    assert card_plan.count("documents.parquet") <= 6, (
        "dataset card must stay at <=3 column-pruned scans")
    assert " Window" not in card_plan
    assert "CartesianProduct" not in card_plan


def test_curation_family_never_expands_document_stream(spark, sf_dir):
    """The round-4 profiling rule, promoted to a standing family-wide
    assert (round-7 verdict: nd_dataset_card's double-distinct ROLLUP
    planned as 2 Expand nodes and shipped the document stream
    multiplied by grains × distinct branches): NO curation query may
    contain an Expand node. Multi-grain / multi-distinct statistics
    must be unioned single-distinct branches or explode-mirrored keys
    that partial aggregation collapses map-side — shapes whose
    exchanges carry distinct pairs or counter partials, never the
    expanded stream."""
    from bacalhau_spark.operators import curation

    for name, (fn, _) in curation.QUERIES.items():
        plan = _formatted_plan(fn(spark, sf_dir))
        assert "Expand" not in plan, (
            f"{name} plans an Expand over the document stream")


def test_round8_operators_scale_shapes(spark, sf_dir):
    """Round-8 operators' 100 TB plan claims, asserted:

    - nd_bloom_prefilter_part: the bitmap is built DISTRIBUTED (bit_or
      aggregate in-plan) and probed via a join — there is no element_at
      literal probe anywhere, i.e. nothing was collected to the driver
      and re-broadcast as a plan literal (the 8 MB ceiling the variant
      exists to remove); no exchange carries document text; no
      cartesian product.
    """
    import re

    from bacalhau_spark.operators.dedup import nd_bloom_prefilter_part

    part_plan = _formatted_plan(nd_bloom_prefilter_part(spark, sf_dir))
    assert "bit_or" in part_plan
    assert "element_at" not in part_plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)",
                         part_plan):
        assert "text" not in m.group(1)
    assert "CartesianProduct" not in part_plan

    # nd_substr_dedup: the sliding-window repeated-substring detector
    # must never shuffle document text (exchanges carry doc_id/window
    # hashes/counters only), its run detection is a per-doc window (no
    # global sort of the token stream), and there is no cartesian.
    from bacalhau_spark.operators.dedup import nd_substr_dedup

    ss_plan = _formatted_plan(nd_substr_dedup(spark, sf_dir))
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)",
                         ss_plan):
        assert "text" not in m.group(1)
    assert " Window" in ss_plan
    assert "CartesianProduct" not in ss_plan

    # nd_neardup_decontam: the benchmark band index must BROADCAST (the
    # 100 TB train side is never shuffled to meet it — the opposite join
    # form of nd_incremental_minhash's corpus-sized shuffle index), and
    # no exchange may carry document text.
    from bacalhau_spark.operators.dedup import nd_neardup_decontam

    dec_plan = _formatted_plan(nd_neardup_decontam(spark, sf_dir))
    assert "BroadcastHashJoin" in dec_plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)",
                         dec_plan):
        assert "text" not in m.group(1)
    assert "CartesianProduct" not in dec_plan

    # nd_heavy_hitters_cms: the probe joins the constant-size sketch
    # via BROADCAST (the sketch side is <= CMS_D*CMS_W rows at any
    # corpus size); no exchange carries document text; no cartesian
    # (the depth fan-out is an explode, not a VALUES join).
    from bacalhau_spark.operators.text import nd_heavy_hitters_cms

    cms_plan = _formatted_plan(nd_heavy_hitters_cms(spark, sf_dir))
    assert "BroadcastHashJoin" in cms_plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)",
                         cms_plan):
        assert "text" not in m.group(1)
    assert "CartesianProduct" not in cms_plan

    # nd_embedding_covariance: pair generation must be a Generate in the
    # scan stage (no self-join of the exploded matrix — the x-join-x
    # formulation would shuffle it twice), the per-dim sums return via
    # BROADCAST, and no exchange carries the embedding array.
    from bacalhau_spark.operators.similarity import nd_embedding_covariance

    cov_plan = _formatted_plan(nd_embedding_covariance(spark, sf_dir))
    assert "Generate" in cov_plan
    assert "BroadcastHashJoin" in cov_plan
    assert "SortMergeJoin" not in cov_plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)",
                         cov_plan):
        assert "embedding" not in m.group(1)
    assert "CartesianProduct" not in cov_plan


def test_bigram_family_scale_shapes(spark, sf_dir):
    """The two bigram-LM operators' 100 TB plan claims, asserted:

    - nd_bigram_surprisal: same Zipf de-skew contract as nd_word_rarity
      — no Window over a raw token key, the raw text column never
      crosses an exchange, and (r14) the shared (doc, bigram) reduction
      is materialized ONCE per call via localCheckpoint: the frequency
      rollup, the context rollup and the join probe all scan the
      reduced count frame, no parquet scan downstream (the same
      stronger one-corpus-pass pin as nd_pmi_collocations below).
    - nd_pmi_collocations: same de-skew + the grand-total attaches by
      BROADCAST (a 1-row aggregate, never a shuffle of the candidate
      set) and there is exactly the one deliberate broadcast nested
      loop for it — no cartesian of data-sized frames. r14: the shared
      bigram-count reduction is materialized ONCE per call via
      localCheckpoint — a stronger one-corpus-pass guarantee than the
      old ReusedExchange assert: every branch reads the reduced count
      frame (Scan ExistingRDD) and NO parquet scan remains downstream
      of the checkpoint.
    """
    import re

    from bacalhau_spark.operators.text import (nd_bigram_surprisal,
                                               nd_pmi_collocations)

    df = nd_bigram_surprisal(spark, sf_dir)
    plan = _formatted_plan(df)
    assert ") Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1)
    assert "ExistingRDD" in plan, (
        "nd_bigram_surprisal must serve all three branches from the "
        "once-materialized (doc, bigram) count checkpoint")
    assert "parquet" not in plan, (
        "no branch may re-scan the corpus past the count checkpoint")
    df.collect()
    dexec = _executed_plan(df)
    assert "ExistingRDD" in dexec and "parquet" not in dexec

    pmi = nd_pmi_collocations(spark, sf_dir)
    pplan = _formatted_plan(pmi)
    assert ") Window" not in pplan
    assert "partial_count" in pplan or "partial_sum" in pplan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", pplan):
        assert "text#" not in m.group(1)
    assert "CartesianProduct" not in pplan
    assert "BroadcastNestedLoopJoin" in pplan  # the 1-row total attach
    # r14: the shared bigram-count lineage is a per-call localCheckpoint —
    # every branch scans the reduced count frame, the corpus parquet is
    # read exactly once (at checkpoint fill), so nothing is left to reuse
    assert "ExistingRDD" in pplan, (
        "nd_pmi_collocations must serve all branches from the once-"
        "materialized bigram-count checkpoint")
    assert "parquet" not in pplan, (
        "no branch may re-scan the corpus past the count checkpoint")
    pmi.collect()
    pexec = _executed_plan(pmi)
    assert "ExistingRDD" in pexec and "parquet" not in pexec


def test_ks_drift_scale_shape(spark, sf_dir):
    """nd_ks_drift's 100 TB claims: the document stream reduces to
    per-(source, n_chars) counts in ONE map-side-combined pass that is
    explicitly persisted before fanning out to the five branches —
    ReuseExchange alone is planner-mood-dependent (broadcast-side
    branches break the exchange match under AQE), so the guarantee is
    the materialization: the EXECUTED plan must read documents.parquet
    exactly once (the cached build) and serve every other branch from
    the cache. No cartesian of data-sized frames (the
    BroadcastNestedLoopJoins are the 1-row total and the bounded value
    list), no Expand (curation-family ban)."""
    from bacalhau_spark.operators.curation import nd_ks_drift

    df = nd_ks_drift(spark, sf_dir)
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    # the curation-family Expand ban applies here too
    assert "Expand" not in plan
    df.collect()
    final = _executed_plan(df)
    # every consumer of the reduced frame must read the CACHE (the
    # executed-plan text reprints the cached build subtree inside each
    # consumer, so counting FileScan lines overcounts; the contract is
    # that all five branches are TableCacheQueryStages over the one
    # materialization)
    assert final.count("TableCacheQueryStage") >= 5, (
        "a ks_drift branch bypassed the persisted (source, n_chars) frame")


def test_round8b_batch_scale_shapes(spark, sf_dir):
    """The five newest operators' 100 TB plan claims:

    - nd_skipgram_pairs / nd_zipf_octaves: the token stream reduces
      map-side in ONE pass (partial aggregation present), no Window
      over a raw token key, text never crosses an exchange, no Expand.
    - nd_lang_outliers: the document stream reduces to (source, lang)
      counts before anything else; the only window runs over that
      reduced frame.
    - nd_pagerank: rank/deg joins resolve as broadcasts at fixture
      scale, no CartesianProduct, no Expand; the per-iteration persist
      keeps the plan flat (exactly one edge-build subtree in the final
      executed plan, served from cache thereafter).
    """
    import re

    from bacalhau_spark.operators.curation import nd_lang_outliers
    from bacalhau_spark.operators.graph import nd_pagerank
    from bacalhau_spark.operators.text import (nd_skipgram_pairs,
                                               nd_zipf_octaves)

    for fn in (nd_skipgram_pairs, nd_zipf_octaves):
        df = fn(spark, sf_dir)
        plan = _formatted_plan(df)
        assert ") Window" not in plan, fn.__name__
        assert "partial_count" in plan, fn.__name__
        assert "Expand" not in plan, fn.__name__
        for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)",
                             plan):
            assert "text#" not in m.group(1), fn.__name__

    df = nd_lang_outliers(spark, sf_dir)
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "Expand" not in plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1)

    df = nd_pagerank(spark, sf_dir)
    df.collect()
    final = _executed_plan(df)
    assert "CartesianProduct" not in final
    assert "Expand" not in final


def test_round8c_batch_scale_shapes(spark, sf_dir):
    """The k-anonymity / target-encode / EWMA plan claims:

    - nd_k_anonymity: one map-side-combined aggregate; the exchange
      never carries the document stream (no text column), no Expand.
    - nd_target_encode: the per-category stats attach by BROADCAST —
      the orders stream itself is never hash-partitioned (the only
      exchanges are the category-partial shuffle, whose partials are a
      handful of rows, and the final rangepartitioning sort).
    - nd_ewma_smooth: the stateful-fold class — exactly ONE
      hash-partitioned exchange (user_id), the fold itself runs inside
      the aggregation.
    """
    import re

    from bacalhau_spark.operators.curation import nd_k_anonymity
    from bacalhau_spark.operators.pipeline import (nd_ewma_smooth,
                                                   nd_target_encode)

    plan = _formatted_plan(nd_k_anonymity(spark, sf_dir))
    assert "partial_count" in plan
    assert "Expand" not in plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1)

    plan = _formatted_plan(nd_target_encode(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "o_orderkey#" not in m.group(1), (
            "the orders stream shuffled — the category stats should "
            "broadcast instead:\n" + plan)

    plan = _formatted_plan(nd_ewma_smooth(spark, sf_dir))
    keys = {m.group(1).split(",")[0].split("#")[0]
            for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)",
                                 plan)}
    assert keys == {"user_id"}, keys


def test_shingle_postings_checkpoint_keeps_parallelism(spark, sf_dir):
    """Regression guard for the r8 pair-family cliff: AQE's size-based
    coalescing (parallelismFirst=false) collapses the byte-small
    posting-list aggregate to a couple of partitions and localCheckpoint
    FREEZES that — the pair explode then amplifies ~1000x out of 2
    partitions (measured 2.4x the whole operator at x10). The explicit
    pre-checkpoint repartition must hold the checkpointed frame at full
    width."""
    from bacalhau_spark.operators.dedup import (_shingle_pair_stats,
                                                _shingle_postings)

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    width = spark.sparkContext.defaultParallelism
    postings = _shingle_postings(docs, 3, 50)
    assert postings.rdd.getNumPartitions() == width, (
        "the checkpointed posting lists froze at a coalesced width — "
        "the pair explode downstream will starve")
    # and the pair stream actually consumes the checkpoint (ExistingRDD)
    shared, _sizes = _shingle_pair_stats(docs, 3, 50)
    assert "Scan ExistingRDD" in _executed_plan(shared)


def test_round8d_batch_scale_shapes(spark, sf_dir):
    """The editdist / secret-scan / snapshot-diff plan claims:

    - nd_editdist_dedup: raw text NEVER crosses an exchange — the
      candidate set broadcasts into the two text joins, so the
      verification is a map-stage over the documents scan.
    - nd_secret_scan: a pure mapper — no hash-partitioned exchange at
      all (only spread_compute's round-robin and the final sort).
    - nd_snapshot_diff: one map-side-combined pass to (source, fp)
      presence flags; text never shuffles, no Expand.
    """
    import re

    from bacalhau_spark.operators.curation import (nd_secret_scan,
                                                   nd_snapshot_diff)
    from bacalhau_spark.operators.dedup import nd_editdist_dedup

    plan = _formatted_plan(nd_editdist_dedup(spark, sf_dir))
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), (
            "document text shuffled in the editdist verification:\n"
            + m.group(1))
    assert "BroadcastHashJoin" in plan

    plan = _formatted_plan(nd_secret_scan(spark, sf_dir))
    # the one allowed hash exchange is spread_compute's fixture-scale
    # REPARTITION_BY_NUM scan spread; no ENSURE_REQUIREMENTS shuffle
    for m in re.finditer(r"hashpartitioning\([^)]*\), (\w+)", plan):
        assert m.group(1) == "REPARTITION_BY_NUM", (
            "the secret scan mapper hash-shuffled:\n" + plan)

    plan = _formatted_plan(nd_snapshot_diff(spark, sf_dir))
    assert "partial_max" in plan or "partial_sum" in plan
    assert "Expand" not in plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1)


def test_event_analytics_scale_shapes(spark, sf_dir):
    """nd_event_funnel / nd_retention_cohorts plan claims: every hash
    exchange carries user-keyed aggregates or the bounded week matrix —
    never raw event payloads (no ts/event_type in partitioning keys
    beyond user_id/cw); the funnel's three step frames and the cohort
    matrix join by user_id partitioning or broadcast; no Expand, no
    cartesian of data-sized frames."""
    import re

    from bacalhau_spark.operators.windows import (nd_event_funnel,
                                                  nd_retention_cohorts)

    for fn in (nd_event_funnel, nd_retention_cohorts):
        df = fn(spark, sf_dir)
        plan = _formatted_plan(df)
        assert "Expand" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        keys = {k.strip().split("#")[0]
                for m in re.finditer(
                    r"Arguments: hashpartitioning\(([^)]*)\)", plan)
                for k in m.group(1).split(",")[:-1]}
        # user_id (step/first-week aggregates), (user_id, w) distinct,
        # (cw, offset) matrix — offset appears as a _groupingexpression
        assert keys <= {"user_id", "cw", "w", "week_offset",
                        "_groupingexpression"}, (fn.__name__, keys)


def test_minhash_index_is_built_once_per_session(spark, sf_dir):
    """The shared-index rule (r9, persisted r11): every LSH consumer
    reads the signature/candidate index instead of re-deriving the
    shingle→minhash lineage (nd_editdist_dedup's x10 cost was ~90%
    signature rebuild before this). Claims: (a) repeated index calls
    return the SAME frame object (session tier), (b) a consumer's
    physical plan scans the PERSISTED index store's parquet with ZERO
    re-scans of the documents table for signatures, (c) two different
    consumers share the identical candidate frame."""
    import os

    from bacalhau_spark.operators.dedup import (band_candidate_index,
                                                minhash_signature_index,
                                                nd_editdist_dedup,
                                                nd_minhash_estimate)
    from bacalhau_spark.sources.indexstore import index_store_root

    sig1 = minhash_signature_index(spark, sf_dir)
    sig2 = minhash_signature_index(spark, sf_dir)
    assert sig1 is sig2
    cand1 = band_candidate_index(spark, sf_dir)
    assert cand1 is band_candidate_index(spark, sf_dir)

    marker = os.path.basename(index_store_root())
    for fn in (nd_editdist_dedup, nd_minhash_estimate):
        plan = _formatted_plan(fn(spark, sf_dir))
        assert marker in plan, fn.__name__
    # editdist still reads documents.parquet for the TEXT of candidate
    # pairs (2 scan nodes, a/b sides) but never for signatures; estimate
    # reads no fixture parquet at all — its whole lineage is the indexes
    est_plan = _formatted_plan(nd_minhash_estimate(spark, sf_dir))
    assert "documents.parquet" not in est_plan


def test_round9_operators_scale_shapes(spark, sf_dir):
    """Round-9 plan claims, asserted:

    - nd_editdist_dedup: ONE documents scan (the one-scan gather — the
      r8 form scanned text twice), the candidate side is the broadcast
      BUILD (the r8 plan reversed it and hashed the corpus), the
      Levenshtein DP appears in exactly one plan node (the aggregate's
      result expression — the r8 project-then-filter form re-evaluated
      it ~3x via filter inlining), and the DP stage's exchange width is
      pinned to defaultParallelism (AQE would coalesce the kilobyte
      pair exchange to ~1 partition and serialize the DP).
    - nd_ann_pca: candidate generation joins by broadcast only — no
      sort-merge join, no cartesian; the corpus side is a map-stage
      over the projections.
    """
    from bacalhau_spark.operators.dedup import nd_editdist_dedup
    from bacalhau_spark.operators.similarity import nd_ann_pca

    plan = _formatted_plan(nd_editdist_dedup(spark, sf_dir))
    assert plan.count("documents.parquet") == 1, "gather must scan once"
    assert "CartesianProduct" not in plan
    lev_lines = [l for l in plan.splitlines() if "levenshtein" in l]
    assert len(lev_lines) == 1, (
        "DP must be computed once, in the aggregate result expression; "
        f"found {len(lev_lines)} plan nodes referencing it")
    width = spark.sparkContext.defaultParallelism
    assert f"hashpartitioning(a_id#" in plan and f", {width})" in plan, (
        "pair exchange width must be pinned (frozen-coalesce rule)")

    ann_plan = _formatted_plan(nd_ann_pca(spark, sf_dir))
    assert "SortMergeJoin" not in ann_plan
    assert "CartesianProduct" not in ann_plan
    assert "BroadcastHashJoin" in ann_plan


def test_winnow_index_is_built_once_per_session(spark, sf_dir):
    """Round-10 extension of the shared-index rule to winnowing: (a)
    repeated index calls return the SAME posting frame object, (b) the
    consumer's plan scans the persisted index store's parquet with zero
    re-derivation of the fingerprint lineage, (c) the cached path
    returns the identical rows as the direct (uncached) pipeline — the
    drift guard."""
    import os

    from bacalhau_spark.catalog import table
    from bacalhau_spark.operators.dedup import (nd_winnowing,
                                                winnow_posting_index,
                                                winnowing_pairs)
    from bacalhau_spark.sources.indexstore import index_store_root

    idx1 = winnow_posting_index(spark, sf_dir)
    assert idx1 is winnow_posting_index(spark, sf_dir)
    plan = _formatted_plan(nd_winnowing(spark, sf_dir))
    assert os.path.basename(index_store_root()) in plan
    assert "documents.parquet" not in plan
    direct = winnowing_pairs(
        table(spark, sf_dir, "documents").select("doc_id", "text"))
    assert sorted(map(tuple, nd_winnowing(spark, sf_dir).collect())) == \
        sorted(map(tuple, direct.collect()))


def test_winnow_capped_frame_is_session_cached(spark, sf_dir):
    """Round-14 (r13 verdict #4): the read-time df cap amortizes at the
    SESSION tier — repeated winnow_capped_postings calls return the
    SAME persist-backed frame (the window guard runs once per table
    content, not once per read), clear_session_index evicts it with
    the index tier (bench cold-path comparability), and the cached
    read equals the direct guard-per-read path exactly."""
    from bacalhau_spark.operators.dedup import (winnow_capped_postings,
                                                winnow_pairs_from_postings,
                                                winnow_posting_index,
                                                nd_winnowing)
    from bacalhau_spark.sources.indexstore import clear_session_index

    capped1 = winnow_capped_postings(spark, sf_dir)
    assert capped1 is winnow_capped_postings(spark, sf_dir)
    assert capped1.storageLevel.useMemory or capped1.storageLevel.useDisk
    cached_rows = sorted(map(tuple, nd_winnowing(spark, sf_dir).collect()))
    direct_rows = sorted(map(tuple, winnow_pairs_from_postings(
        winnow_posting_index(spark, sf_dir)).collect()))
    assert cached_rows == direct_rows
    clear_session_index(spark)
    capped2 = winnow_capped_postings(spark, sf_dir)
    assert capped2 is not capped1, "cold path must rebuild the view"


def test_pq_index_is_built_once_per_session(spark, sf_dir):
    """The PQ code/centroid indexes follow the shared-index rule: same
    frame object on repeat calls, consumers scan the persisted index
    store's parquet with no embeddings re-derivation in the quantize
    audit's plan."""
    import os

    from bacalhau_spark.sources.indexstore import index_store_root
    from bacalhau_spark.operators.similarity import (nd_pq_quantize,
                                                     pq_centroid_index,
                                                     pq_code_index)

    idx = pq_code_index(spark, sf_dir)
    assert idx is pq_code_index(spark, sf_dir)
    assert pq_centroid_index(spark, sf_dir) is \
        pq_centroid_index(spark, sf_dir)
    plan = _formatted_plan(nd_pq_quantize(spark, sf_dir))
    assert os.path.basename(index_store_root()) in plan
    assert "embeddings.parquet" not in plan


def test_index_store_persists_across_sessions(spark, sf_dir, tmp_path):
    """Round-11 headline claim: the shared indexes live in a PERSISTED
    versioned parquet store keyed by source-content fingerprint —
    (a) the store holds a published version whose manifest records the
    CONTENT KEY (r12: the table root itself is content-addressed),
    (b) a COLD SESSION (tier-1 cache dropped, store kept) ADOPTS the
    artifact instead of rebuilding: the store version does not advance
    and the consumer rows are identical, (c) a CHANGED source content
    gets a FRESH content-addressed table (the old table is immutable —
    never republished under, so a pinned concurrent reader can never
    lose files to a writer's retention pass). Fault tolerance is
    parquet's — no localCheckpoint blocks anywhere in the index
    lifecycle."""
    import os
    import shutil

    from bacalhau_spark.catalog import table
    from bacalhau_spark.operators.dedup import (minhash_signature_index,
                                                nd_minhash_lsh)
    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   content_key,
                                                   index_table_root)
    from bacalhau_spark.sources.versioned import (latest_manifest,
                                                  latest_version)

    minhash_signature_index(spark, sf_dir)
    root = index_table_root(sf_dir, "sig", "documents")
    m = latest_manifest(root)
    assert m is not None and m["files"]
    assert m["props"]["content_key"] == content_key(sf_dir, "documents")
    v_before = latest_version(root)
    rows_before = sorted(map(tuple, nd_minhash_lsh(spark, sf_dir).collect()))

    # cold session: session tier evicted, persisted store kept
    assert clear_session_index(spark) > 0
    rows_after = sorted(map(tuple, nd_minhash_lsh(spark, sf_dir).collect()))
    assert latest_version(root) == v_before, "cold session must ADOPT"
    assert rows_after == rows_before

    # changed content: a NEW content-addressed table, old one untouched
    alt = str(tmp_path / "idxstore_alt_fixture")
    os.makedirs(alt)
    docs = table(spark, sf_dir, "documents").limit(40)
    docs.coalesce(1).write.parquet(os.path.join(alt, "documents.parquet"))
    minhash_signature_index(spark, alt)
    alt_root = index_table_root(alt, "sig", "documents")
    assert latest_version(alt_root) == 1
    # rewrite the fixture in place -> new content key -> fresh table
    clear_session_index(spark)
    shutil.rmtree(os.path.join(alt, "documents.parquet"))
    docs.limit(20).coalesce(1).write.parquet(
        os.path.join(alt, "documents.parquet"))
    # any in-place rewrite needs Spark's file-listing cache refreshed and
    # the catalog's lazy-handle cache dropped (standard REFRESH TABLE
    # semantics, orthogonal to the index store)
    spark.catalog.refreshByPath(os.path.join(alt, "documents.parquet"))
    from bacalhau_spark import catalog as _catalog
    _catalog.HANDLES.clear()
    n20 = minhash_signature_index(spark, alt).count()
    assert n20 == 20
    new_root = index_table_root(alt, "sig", "documents")
    assert new_root != alt_root, "changed bytes must change the address"
    assert latest_version(new_root) == 1
    assert latest_version(alt_root) == 1, "old content table is immutable"


def test_index_store_is_content_addressed_across_paths(spark, sf_dir,
                                                       tmp_path):
    """Round-12 re-keying (r11 verdict #3): the index table identity is
    the source CONTENT, not the path — a COPY of the fixture (new path,
    new mtimes, same bytes) adopts the already-published index with
    ZERO rebuild: same table root, store version unchanged, and the
    builder is never invoked for the copy."""
    import os
    import shutil

    from bacalhau_spark.operators import dedup
    from bacalhau_spark.operators.dedup import minhash_signature_index
    from bacalhau_spark.sources.indexstore import (cached_index,
                                                   index_table_root)
    from bacalhau_spark.sources.versioned import latest_version

    minhash_signature_index(spark, sf_dir)
    root = index_table_root(sf_dir, "sig", "documents")
    v = latest_version(root)
    assert v >= 1

    copy = str(tmp_path / "fixture_copy")
    os.makedirs(copy)
    src = os.path.join(sf_dir, "documents.parquet")
    dst = os.path.join(copy, "documents.parquet")
    if os.path.isdir(src):
        os.makedirs(dst)
        for f in os.listdir(src):
            # copyfile, not copy2: fresh mtimes prove the key is content
            shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))
    else:
        shutil.copyfile(src, dst)
    assert index_table_root(copy, "sig", "documents") == root

    calls = []

    def build():
        calls.append(1)
        return dedup._minhash_signatures(
            spark, table(spark, copy, "documents"))

    adopted = cached_index(spark, copy, "sig", build)
    assert calls == [], "copy of same bytes must adopt, never rebuild"
    assert latest_version(root) == v
    assert adopted.count() == minhash_signature_index(
        spark, sf_dir).count()


def _shifted_docs_corpus(spark, sf_dir, dest_dir, shift,
                         limit=None, part_name=None) -> str:
    """A content-UNIQUE documents corpus (fixture rows, doc_id + shift)
    as one part file under dest_dir/documents.parquet. The persisted
    index store is CONTENT-addressed and shared across tests AND
    pytest runs — a test publishing manifests under the plain fixture's
    address would poison every later same-content test, so each store
    test works on its own shifted content."""
    import os

    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if limit is not None:
        df = df.limit(limit)
    df = df.withColumn("doc_id", F.col("doc_id") + shift).coalesce(1)
    staging = f"{dest_dir}__staging"
    df.write.parquet(staging)
    tbl = os.path.join(dest_dir, "documents.parquet")
    os.makedirs(tbl, exist_ok=True)
    (part,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    dst = os.path.join(tbl, part_name or part)
    os.rename(os.path.join(staging, part), dst)
    return dst


def _copy_docs_parts(sf_dir, dest_dir) -> list[str]:
    """Stage the fixture documents table's part files into
    dest_dir/documents.parquet; returns the staged paths."""
    import os
    import shutil

    src = os.path.join(sf_dir, "documents.parquet")
    dst = os.path.join(dest_dir, "documents.parquet")
    os.makedirs(dst)
    staged = []
    if os.path.isdir(src):
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                shutil.copyfile(os.path.join(src, f),
                                os.path.join(dst, f))
                staged.append(os.path.join(dst, f))
    else:
        shutil.copyfile(src, os.path.join(dst, "part-00000.parquet"))
        staged.append(os.path.join(dst, "part-00000.parquet"))
    return staged


def test_index_delta_adoption_hashes_only_appended_files(spark, sf_dir,
                                                         tmp_path):
    """Round-12 delta adoption: an appended corpus (epoch N's part files
    + new shards) publishes its index as the PARENT's hardlinked files
    plus a delta built over ONLY the new shards — the full builder never
    runs, the delta builder sees exactly the appended paths, the unified
    read equals a from-scratch build, and dropping the parent table
    never breaks the child (hardlinks, not references)."""
    import os
    import shutil

    from bacalhau_spark.sources.indexstore import (cached_index,
                                                   index_table_root)
    from bacalhau_spark.operators.multimodal import (phash_frame,
                                                     phash_index)
    from bacalhau_spark.sources.versioned import (latest_manifest,
                                                  read_version)

    epoch1 = str(tmp_path / "epoch1")
    _shifted_docs_corpus(spark, sf_dir, epoch1, 7_000_000)
    phash_index(spark, epoch1)  # full build + publish for epoch 1
    parent_root = index_table_root(epoch1, "phash", "documents")
    assert latest_manifest(parent_root)["props"].get("file_keys")

    # epoch 2 = epoch 1's files + one appended shard of NEW doc_ids
    epoch2 = str(tmp_path / "epoch2")
    os.makedirs(epoch2)
    _copy_docs_parts(epoch1, epoch2)
    staging = str(tmp_path / "staging")
    (spark.read.parquet(os.path.join(epoch1, "documents.parquet"))
     .limit(50).withColumn("doc_id", F.col("doc_id") + 1_000_000)
     .coalesce(1).write.parquet(staging))
    (new_part,) = [f for f in os.listdir(staging)
                   if f.endswith(".parquet")]
    appended = os.path.join(epoch2, "documents.parquet",
                            f"part-appended-{new_part}")
    shutil.copyfile(os.path.join(staging, new_part), appended)

    full_calls, delta_paths = [], []

    def build():
        full_calls.append(1)
        return phash_frame(
            spark.read.parquet(os.path.join(epoch2, "documents.parquet"))
            .select("doc_id"))

    def build_delta(paths):
        delta_paths.extend(paths)
        return phash_frame(
            spark.read.parquet(*paths).select("doc_id"))

    adopted = cached_index(spark, epoch2, "phash", build,
                           delta=build_delta)
    assert full_calls == [], "append must never trigger a full rebuild"
    assert delta_paths == [appended]
    child_root = index_table_root(epoch2, "phash", "documents")
    man = latest_manifest(child_root)
    assert man["props"]["delta_parent"] == os.path.basename(parent_root)

    expect = sorted(map(tuple, phash_frame(
        spark.read.parquet(os.path.join(epoch2, "documents.parquet"))
        .select("doc_id")).collect()))
    assert sorted(map(tuple, adopted.collect())) == expect

    # hardlinks make the child self-contained: drop the parent table
    shutil.rmtree(parent_root)
    again = read_version(spark, child_root, version=man["version"])
    assert sorted(map(tuple, again.collect())) == expect


def test_sig_delta_rejects_recarried_doc_ids(spark, sf_dir, tmp_path):
    """Minhash signatures AGGREGATE per doc, so an appended shard that
    RE-CARRIES an existing doc_id (the recurring re-crawl shape) makes
    union(parent, delta) != full rebuild — the rebuild minimizes over
    the merged shingle set, the union would hold two rows. The
    delta_key disjointness guard must force the full rebuild; a
    disjoint append on the same corpus still delta-adopts."""
    import os

    from bacalhau_spark.operators.dedup import (_mh_sig_frame,
                                                minhash_signature_index)
    from bacalhau_spark.sources.indexstore import (cached_index,
                                                   clear_session_index,
                                                   index_table_root)
    from bacalhau_spark.catalog import spread_compute
    from bacalhau_spark.sources.versioned import latest_manifest

    epoch1 = str(tmp_path / "epoch1")
    _shifted_docs_corpus(spark, sf_dir, epoch1, 12_000_000)
    minhash_signature_index(spark, epoch1)

    def corpus_with_append(name, shift):
        d = str(tmp_path / name)
        os.makedirs(d)
        _copy_docs_parts(epoch1, d)
        _shifted_docs_corpus(spark, sf_dir, d, shift, limit=10,
                             part_name="part-appended.parquet")
        return d

    def harness(d):
        full_calls, delta_calls = [], []

        def build():
            full_calls.append(1)
            return _mh_sig_frame(spread_compute(
                spark, spark.read
                .parquet(os.path.join(d, "documents.parquet"))
                .select("doc_id", "text"), "doc_id"))

        def build_delta(paths):
            delta_calls.append(paths)
            return _mh_sig_frame(spread_compute(
                spark, spark.read.parquet(*paths)
                .select("doc_id", "text"), "doc_id"))

        out = cached_index(spark, d, "sig", build,
                           delta=build_delta,
                           delta_key="doc_id")
        return out, full_calls, delta_calls

    # re-carried ids: the appended shard repeats epoch-1 doc_ids
    # (shift 12M = the same id space) with DIFFERENT text bytes
    recarry = corpus_with_append("recarry", 12_000_000)
    appended = os.path.join(recarry, "documents.parquet",
                            "part-appended.parquet")
    import pyarrow.parquet as pq
    t = pq.read_table(appended)
    t = t.set_column(t.schema.get_field_index("text"), "text",
                     __import__("pyarrow").array(
                         [x + " recrawled" for x in
                          t["text"].to_pylist()]))
    pq.write_table(t, appended)
    out, full_calls, delta_calls = harness(recarry)
    assert full_calls == [1], "re-carried doc_ids must force a rebuild"
    assert delta_calls == []
    man = latest_manifest(index_table_root(recarry, "sig", "documents"))
    assert "delta_parent" not in man["props"]
    n_docs = (spark.read
              .parquet(os.path.join(recarry, "documents.parquet"))
              .select("doc_id").distinct().count())
    assert out.count() == n_docs, "one signature row per distinct doc"

    # control: a DISJOINT append on the same parent still delta-adopts
    disjoint = corpus_with_append("disjoint", 12_500_000)
    _out, full_calls, delta_calls = harness(disjoint)
    assert full_calls == [] and len(delta_calls) == 1
    clear_session_index(spark)


def test_builder_rev_misses_old_rule_artifacts(spark, sf_dir, tmp_path):
    """The artifact is a function of (source content, transform rule):
    a builder that changes its rule bumps its rev, which must MISS the
    old rule's published artifact (fresh address, fresh build) and
    never delta-adopt across revisions — addressing by content alone
    would serve stale derived columns forever after a rule change
    (round-12 review #4)."""
    import os

    from bacalhau_spark.sources.indexstore import (cached_index,
                                                   clear_session_index,
                                                   index_table_root)
    from bacalhau_spark.operators.multimodal import phash_frame
    from bacalhau_spark.sources.versioned import latest_manifest

    corpus = str(tmp_path / "rev_corpus")
    _shifted_docs_corpus(spark, sf_dir, corpus, 11_000_000)
    docs = (spark.read
            .parquet(os.path.join(corpus, "documents.parquet"))
            .select("doc_id"))

    r1_calls, r2_calls = [], []

    def build_r1():
        r1_calls.append(1)
        return phash_frame(docs)

    def build_r2():
        r2_calls.append(1)
        return phash_frame(docs)  # stand-in for a changed rule

    cached_index(spark, corpus, "phash", build_r1)
    root1 = index_table_root(corpus, "phash", "documents")
    assert r1_calls == [1]
    assert latest_manifest(root1)["props"]["builder_rev"] == 1

    out2 = cached_index(spark, corpus, "phash", build_r2, rev=2)
    root2 = index_table_root(corpus, "phash", "documents", rev=2)
    assert r2_calls == [1], "rev 2 must MISS the rev-1 artifact"
    assert root2 != root1
    assert latest_manifest(root2)["props"]["builder_rev"] == 2
    assert out2.count() == docs.count()

    # a third session of rev 2 adopts rev 2's artifact, not rev 1's
    clear_session_index(spark)
    r2_calls.clear()
    cached_index(spark, corpus, "phash", build_r2, rev=2)
    assert r2_calls == []
    clear_session_index(spark)


def test_file_key_boundary_inline_vs_tree(tmp_path, monkeypatch):
    """The DELTA_FILE_KEYS_MAX boundary (r13: keys are never omitted —
    the pre-r13 silent degradation to full rebuild is gone): at or
    below the cap the map inlines into the manifest props; above it
    the chunked sidecar tree carries it, chunk size == the cap, and
    the round trip through manifest_file_keys is exact."""
    from bacalhau_spark.sources import indexstore
    from bacalhau_spark.sources.indexstore import (_file_keys_props,
                                                   manifest_file_keys)

    monkeypatch.setattr(indexstore, "DELTA_FILE_KEYS_MAX", 3)
    root = str(tmp_path / "t")
    small = {f"part-{i}.parquet": f"k{i}" for i in range(3)}
    assert _file_keys_props(root, "c" * 32, small) == {"file_keys": small}

    big = {f"part-{i:03d}.parquet": f"k{i}" for i in range(8)}
    props = _file_keys_props(root, "c" * 32, big)
    tree = props["file_keys_tree"]
    assert "file_keys" not in props
    assert tree["n_files"] == 8 and len(tree["chunks"]) == 3
    assert tree["chunk_size"] == 3
    got = manifest_file_keys(root, {"props": props})
    assert got == big


def test_delta_adopted_table_compacts(spark, sf_dir, tmp_path):
    """After epochs of delta adoption a table's head names many small
    files (the parent's hardlinks + each delta) — compact() (the
    OPTIMIZE analog) must rewrite it as one coalesced version with
    identical rows, and the pre-compaction version must stay pinned-
    readable (immutability)."""
    import os

    from bacalhau_spark.sources.indexstore import (cached_index,
                                                   clear_session_index,
                                                   index_table_root)
    from bacalhau_spark.operators.multimodal import (phash_frame,
                                                     phash_index)
    from bacalhau_spark.sources.versioned import (compact,
                                                  latest_manifest,
                                                  read_version)

    epoch1 = str(tmp_path / "epoch1")
    _shifted_docs_corpus(spark, sf_dir, epoch1, 9_000_000)
    phash_index(spark, epoch1)
    epoch2 = str(tmp_path / "epoch2")
    os.makedirs(epoch2)
    _copy_docs_parts(epoch1, epoch2)
    _shifted_docs_corpus(spark, sf_dir, epoch2, 9_500_000, limit=30,
                         part_name="part-appended.parquet")

    adopted = cached_index(
        spark, epoch2, "phash",
        lambda: phash_frame(
            spark.read.parquet(os.path.join(epoch2, "documents.parquet"))
            .select("doc_id")),
        delta=lambda paths: phash_frame(
            spark.read.parquet(*paths).select("doc_id")))
    expect = sorted(map(tuple, adopted.collect()))
    root = index_table_root(epoch2, "phash", "documents")
    v1 = latest_manifest(root)
    assert v1["props"].get("delta_parent") and v1["n_files"] >= 2

    v2 = compact(spark, root, target_files=1)
    man2 = latest_manifest(root)
    assert man2["version"] == v2 and man2["n_files"] == 1
    assert sorted(map(tuple,
                      read_version(spark, root).collect())) == expect
    # the delta version stays pinned-readable after compaction
    assert sorted(map(tuple, read_version(
        spark, root, version=v1["version"]).collect())) == expect
    # compaction carries the PROPS forward — they are the adoption
    # contract, and dropping them would wedge the table into permanent
    # session-local rebuild (round-12 review #1)
    assert man2["props"]["content_key"] == v1["props"]["content_key"]
    assert man2["props"]["file_keys"] == v1["props"]["file_keys"]
    clear_session_index(spark)
    calls = []

    def never(*_a, **_k):
        calls.append(1)
        raise AssertionError("compacted table must re-adopt")

    readopted = cached_index(spark, epoch2, "phash", never,
                             delta=never)
    assert calls == []
    assert sorted(map(tuple, readopted.collect())) == expect
    clear_session_index(spark)


def test_lost_publish_race_adopts_winners_artifact(spark, sf_dir,
                                                   tmp_path, monkeypatch):
    """Two sessions racing to publish the same content's index: the
    loser's write fails on the occupied version slot, but the winner's
    artifact is byte-equivalent by content addressing — the loser must
    ADOPT it (scan the store) instead of degrading to a session-local
    checkpoint. Simulated by a write_version that first lets 'the other
    process' publish, then raises."""
    import os

    from bacalhau_spark.sources.indexstore import (cached_index,
                                                   clear_session_index,
                                                   index_table_root)
    from bacalhau_spark.operators.multimodal import phash_frame
    from bacalhau_spark.sources import versioned

    corpus = str(tmp_path / "race_corpus")
    _shifted_docs_corpus(spark, sf_dir, corpus, 10_000_000)
    real_write = versioned.write_version

    def racing_write(df, root, **kw):
        real_write(phash_frame(
            spark.read.parquet(os.path.join(corpus, "documents.parquet"))
            .select("doc_id")), root, **kw)  # the winner lands first
        raise OSError("version slot already occupied")

    monkeypatch.setattr(versioned, "write_version", racing_write)
    docs = (spark.read
            .parquet(os.path.join(corpus, "documents.parquet"))
            .select("doc_id"))
    out = cached_index(spark, corpus, "phash",
                       lambda: phash_frame(docs))
    root = index_table_root(corpus, "phash", "documents")
    store_files = {os.path.realpath(os.path.join(root, f))
                   for f in versioned.latest_manifest(root)["files"]}
    got = {os.path.realpath(p.removeprefix("file:"))
           for p in out.inputFiles()}
    assert got and got <= store_files, (
        "the loser must read the winner's published artifact, not a "
        "session-local checkpoint")
    clear_session_index(spark)


def test_index_delta_adoption_rejects_modified_files(spark, sf_dir,
                                                     tmp_path):
    """A corpus whose EXISTING part file changed (not a pure append) must
    full-rebuild: delta adoption is append-only by construction."""
    import os

    from bacalhau_spark.sources.indexstore import (cached_index,
                                                   index_table_root)
    from bacalhau_spark.operators.multimodal import (phash_frame,
                                                     phash_index)
    from bacalhau_spark.sources.versioned import latest_manifest

    epoch1 = str(tmp_path / "epoch1")
    staged = [_shifted_docs_corpus(spark, sf_dir, epoch1, 8_000_000)]
    phash_index(spark, epoch1)

    mutated = str(tmp_path / "mutated")
    os.makedirs(mutated)
    staged2 = _copy_docs_parts(epoch1, mutated)
    # rewrite the first part in place (same name, different bytes)
    staging = str(tmp_path / "staging2")
    (spark.read.parquet(staged[0]).limit(20)
     .withColumn("doc_id", F.col("doc_id") + 2_000_000)
     .coalesce(1).write.parquet(staging))
    (part,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    os.replace(os.path.join(staging, part), staged2[0])

    full_calls, delta_calls = [], []

    def build():
        full_calls.append(1)
        return phash_frame(
            spark.read.parquet(os.path.join(mutated, "documents.parquet"))
            .select("doc_id"))

    def build_delta(paths):
        delta_calls.append(paths)
        return phash_frame(
            spark.read.parquet(*paths).select("doc_id"))

    cached_index(spark, mutated, "phash", build,
                 delta=build_delta)
    assert full_calls == [1], "a mutated part must force the full build"
    assert delta_calls == []
    man = latest_manifest(index_table_root(mutated, "phash", "documents"))
    assert "delta_parent" not in man["props"]


def test_clear_session_index_is_scoped(spark, sf_dir):
    """clear_session_index(persisted=True) removes only THIS session's
    source tables' indexes (r11 verdict, What's wrong #3): a foreign
    index table planted in the shared store survives the bench's cold
    eviction; the session's own tables are removed."""
    import json
    import os

    from bacalhau_spark.operators.dedup import minhash_signature_index
    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   index_store_root,
                                                   index_table_root)

    minhash_signature_index(spark, sf_dir)
    own_root = index_table_root(sf_dir, "sig", "documents")
    assert os.path.isdir(own_root)

    foreign = os.path.join(index_store_root(),
                           "sig__documents__ffffffffffffffff")
    os.makedirs(os.path.join(foreign, "v=000001"), exist_ok=True)
    with open(os.path.join(foreign, "v=000001", "manifest.json"),
              "w") as f:
        json.dump({"version": 1, "files": [], "n_files": 0,
                   "columns": [], "dtypes": [], "stats": {},
                   "created_unix": 0}, f)
    try:
        clear_session_index(spark, persisted=True)
        assert not os.path.isdir(own_root), "own index must be evicted"
        assert os.path.isdir(foreign), (
            "a foreign table must survive the scoped eviction")
    finally:
        import shutil
        shutil.rmtree(foreign, ignore_errors=True)


def test_empty_index_never_crash_loops(spark, sf_dir):
    """Round-11 ADVICE (high): a legitimately EMPTY index frame must
    never wedge the store — no manifest is adopted without data files,
    so every session (including a cold one facing a pre-published empty
    manifest) falls back to a session-local frame and returns correct
    (zero) rows instead of raising from read_version."""
    from bacalhau_spark.operators.dedup import minhash_signature_index
    from bacalhau_spark.sources.indexstore import (cached_index,
                                                   clear_session_index)

    def build_empty():
        return minhash_signature_index(spark, sf_dir).where("doc_id < 0")

    first = cached_index(spark, sf_dir, "empty_test", build_empty)
    assert first.count() == 0
    # cold session: tier-1 dropped, store kept — whatever the store now
    # holds for this kind, the consumer must still return zero rows
    clear_session_index(spark)
    again = cached_index(spark, sf_dir, "empty_test", build_empty)
    assert again.count() == 0


def test_cand_delta_adopts_appended_corpus(spark, sf_dir, tmp_path,
                                           monkeypatch):
    """Round-13: the band-candidate index — a GLOBAL function of the
    corpus — delta-adopts appended corpora exactly: the child publishes
    the parent's hardlinked pair files plus only the pairs involving a
    new doc (probed against the full signature index), and the unified
    read equals _band_candidates over the full corpus from scratch. A
    crawl epoch stops re-paying the full candidate-generation cost.
    (The r14 width gate is lowered to 0 here — this test pins delta
    EXACTNESS on a tiny corpus; the gate itself is pinned by
    test_cand_delta_width_gate_takes_the_cheaper_path.)"""
    import os

    from bacalhau_spark.operators import dedup
    from bacalhau_spark.catalog import spread_compute
    from bacalhau_spark.operators.dedup import (_band_candidates,
                                                _mh_sig_frame,
                                                band_candidate_index)
    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   index_table_root)

    monkeypatch.setattr(dedup, "CAND_DELTA_MIN_PARENT_SHARDS", 0)
    from bacalhau_spark.sources.versioned import latest_manifest

    epoch1 = str(tmp_path / "epoch1")
    _shifted_docs_corpus(spark, sf_dir, epoch1, 21_000_000)
    band_candidate_index(spark, epoch1)  # full build + publish
    parent_root = index_table_root(epoch1, "cand", "documents")
    parent_pairs = latest_manifest(parent_root)
    assert parent_pairs and parent_pairs["files"]

    # epoch 2 = epoch 1 + 40 appended docs whose text DUPLICATES the
    # first 40 parent docs (disjoint new ids): every appended doc must
    # surface as a probe pair against its parent twin
    epoch2 = str(tmp_path / "epoch2")
    os.makedirs(epoch2)
    _copy_docs_parts(epoch1, epoch2)
    _shifted_docs_corpus(spark, sf_dir, epoch2, 21_500_000, limit=40,
                         part_name="part-appended.parquet")

    got = band_candidate_index(spark, epoch2)
    man = latest_manifest(index_table_root(epoch2, "cand", "documents"))
    assert man["props"]["delta_parent"] == os.path.basename(parent_root)
    full = _band_candidates(_mh_sig_frame(spread_compute(
        spark,
        spark.read.parquet(os.path.join(epoch2, "documents.parquet"))
        .select("doc_id", "text"), "doc_id")))
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(map(tuple, full.collect()))
    # the probe really found cross-epoch pairs (new id vs parent twin)
    assert any(b >= 21_500_000 for _, b in got_rows)
    clear_session_index(spark)


def test_cand_delta_declines_crossed_bucket(spark, tmp_path, monkeypatch):
    """The exactness guard: an append that pushes a previously-capped
    bucket OVER the hot-bucket cap makes union(parent, probe) !=
    rebuild (the rebuild drops the bucket's parent pairs) — _cand_delta
    must DECLINE and fall back to the full build. 30 identical parent
    docs (every band bucket at 30 <= cap, 435 pairs) + 25 identical
    appends (bucket 55 > cap): the child index must be a fresh full
    build with ZERO pairs, never the parent's 435 hardlinked ones.
    (Width gate lowered to 0 — the crossed-cap guard must fire even
    when the width gate alone would already have declined.)"""
    import os

    from bacalhau_spark.operators import dedup
    from bacalhau_spark.operators.dedup import band_candidate_index
    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   index_table_root)

    monkeypatch.setattr(dedup, "CAND_DELTA_MIN_PARENT_SHARDS", 0)
    from bacalhau_spark.sources.versioned import latest_manifest

    text = ("the quick brown fox jumps over the lazy dog and keeps "
            "jumping over that same lazy dog forever more r13cross")

    def corpus(d, rows):
        path = os.path.join(d, "documents.parquet")
        os.makedirs(path, exist_ok=True)
        return path

    parent_dir = str(tmp_path / "parent")
    ppath = corpus(parent_dir, None)
    (spark.createDataFrame([(i, text) for i in range(30)],
                           "doc_id long, text string")
     .coalesce(1).write.mode("overwrite").parquet(ppath + "__st"))
    (part,) = [f for f in os.listdir(ppath + "__st")
               if f.endswith(".parquet")]
    os.rename(os.path.join(ppath + "__st", part),
              os.path.join(ppath, "part-0.parquet"))
    assert band_candidate_index(spark, parent_dir).count() == 435

    child_dir = str(tmp_path / "child")
    cpath = corpus(child_dir, None)
    import shutil
    shutil.copyfile(os.path.join(ppath, "part-0.parquet"),
                    os.path.join(cpath, "part-0.parquet"))
    (spark.createDataFrame([(100 + i, text) for i in range(25)],
                           "doc_id long, text string")
     .coalesce(1).write.mode("overwrite").parquet(cpath + "__st"))
    (part,) = [f for f in os.listdir(cpath + "__st")
               if f.endswith(".parquet")]
    os.rename(os.path.join(cpath + "__st", part),
              os.path.join(cpath, "part-appended.parquet"))

    got = band_candidate_index(spark, child_dir)
    man = latest_manifest(index_table_root(child_dir, "cand",
                                           "documents"))
    assert "delta_parent" not in man.get("props", {}), \
        "crossed-cap append must decline delta adoption"
    assert got.count() == 0, \
        "rebuild drops the now-hot bucket: no pairs survive"
    clear_session_index(spark)


def test_cand_delta_width_gate_takes_the_cheaper_path(spark, sf_dir,
                                                      tmp_path,
                                                      monkeypatch):
    """Round-14 (r13 verdict #2): below the calibrated parent width the
    cand delta's fixed guard cost exceeds its savings (0.93x at x30 in
    index_delta_r13.txt), so _cand_delta must DECLINE on a narrow
    parent — the store takes the full rebuild — while the identical
    append shape above the gate still delta-adopts. Width is read from
    the parent's own shard count (already in hand from the manifest's
    per-file keys): choosing the cheaper path costs nothing."""
    import os

    from bacalhau_spark.operators import dedup
    from bacalhau_spark.operators.dedup import band_candidate_index
    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   index_table_root)
    from bacalhau_spark.sources.versioned import latest_manifest

    def epoch_pair(tag, shift):
        e1 = str(tmp_path / f"{tag}_e1")
        _shifted_docs_corpus(spark, sf_dir, e1, shift, limit=60)
        e2 = str(tmp_path / f"{tag}_e2")
        os.makedirs(e2)
        _copy_docs_parts(e1, e2)
        _shifted_docs_corpus(spark, sf_dir, e2, shift + 400_000,
                             limit=20, part_name="part-appended.parquet")
        return e1, e2

    # narrow parent (1 shard << gate): the clean append must REBUILD
    e1, e2 = epoch_pair("narrow", 31_000_000)
    band_candidate_index(spark, e1)
    assert latest_manifest(
        index_table_root(e1, "cand", "documents"))["files"]
    band_candidate_index(spark, e2)
    man = latest_manifest(index_table_root(e2, "cand", "documents"))
    assert "delta_parent" not in man.get("props", {}), \
        "below the width gate the rebuild is the cheaper path"

    # same shape with the gate at 1 (parent has 1 shard): delta engages
    monkeypatch.setattr(dedup, "CAND_DELTA_MIN_PARENT_SHARDS", 1)
    e1b, e2b = epoch_pair("wide", 32_000_000)
    band_candidate_index(spark, e1b)
    parent_root = index_table_root(e1b, "cand", "documents")
    band_candidate_index(spark, e2b)
    man_b = latest_manifest(index_table_root(e2b, "cand", "documents"))
    assert man_b["props"].get("delta_parent") \
        == os.path.basename(parent_root), \
        "at/above the width gate the delta path engages"
    clear_session_index(spark)


def test_keychunk_tree_enables_delta_above_4096_parts(spark, tmp_path):
    """Round-13: above DELTA_FILE_KEYS_MAX part files the per-file key
    map moves into the chunked sidecar tree — manifests stay small, and
    delta adoption now ENGAGES at real corpus widths instead of
    silently degrading to the full rebuild (>4096 parts is day one at
    100 TB). A 4104-part corpus publishes a 2-chunk digest-verified
    tree; the appended epoch adopts a delta (full builder never runs);
    a corrupted chunk makes the manifest keyless (tamper-evident) and
    can never be adopted on."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bacalhau_spark.sources.indexstore import (cached_index,
                                                   clear_session_index,
                                                   DELTA_FILE_KEYS_MAX,
                                                   index_table_root,
                                                   manifest_file_keys)
    from bacalhau_spark.operators.multimodal import phash_frame
    from bacalhau_spark.sources.versioned import latest_manifest

    # per-run-unique content: the store is content-addressed and
    # persists across pytest runs (the r12 gotcha) — a deterministic
    # corpus would be ADOPTED on the second run and the full-build
    # assertion would see zero builder calls
    import uuid
    salt = uuid.uuid4().int % 1_000_000_000

    n_parts = DELTA_FILE_KEYS_MAX + 8
    e1 = str(tmp_path / "wide1")
    p1 = os.path.join(e1, "documents.parquet")
    os.makedirs(p1)
    for i in range(n_parts):
        pq.write_table(
            pa.table({"doc_id": pa.array([31_000_000 + salt + 2 * i,
                                          31_000_000 + salt + 2 * i + 1],
                                         type=pa.int64())}),
            os.path.join(p1, f"part-{i:06d}.parquet"))

    def builders(d):
        full_calls, delta_paths = [], []

        def build():
            full_calls.append(1)
            return phash_frame(spark.read.parquet(
                os.path.join(d, "documents.parquet")).select("doc_id"))

        def build_delta(paths):
            delta_paths.extend(paths)
            return phash_frame(
                spark.read.parquet(*paths).select("doc_id"))

        return build, build_delta, full_calls, delta_paths

    b, bd, fc, dp = builders(e1)
    cached_index(spark, e1, "phash", b, delta=bd)
    assert fc == [1]
    man1 = latest_manifest(index_table_root(e1, "phash", "documents"))
    assert "file_keys" not in man1["props"], \
        "wide manifests must not inline the key map"
    tree = man1["props"]["file_keys_tree"]
    assert tree["n_files"] == n_parts and len(tree["chunks"]) == 2
    proot = index_table_root(e1, "phash", "documents")
    keys = manifest_file_keys(proot, man1)
    assert keys is not None and len(keys) == n_parts

    # epoch 2 = the same 4104 parts (hardlinked) + one appended shard
    e2 = str(tmp_path / "wide2")
    p2 = os.path.join(e2, "documents.parquet")
    os.makedirs(p2)
    for f in sorted(os.listdir(p1)):
        os.link(os.path.join(p1, f), os.path.join(p2, f))
    pq.write_table(
        pa.table({"doc_id": pa.array([31_900_001 + salt,
                                      31_900_002 + salt],
                                     type=pa.int64())}),
        os.path.join(p2, "part-appended.parquet"))
    b2, bd2, fc2, dp2 = builders(e2)
    got = cached_index(spark, e2, "phash", b2, delta=bd2)
    assert fc2 == [], ">4096-part append must adopt a delta now"
    assert dp2 == [os.path.join(p2, "part-appended.parquet")]
    man2 = latest_manifest(index_table_root(e2, "phash", "documents"))
    assert man2["props"]["delta_parent"] == os.path.basename(proot)
    expect = sorted(map(tuple, phash_frame(
        spark.read.parquet(p2).select("doc_id")).collect()))
    assert sorted(map(tuple, got.collect())) == expect

    # tamper-evidence: a flipped byte in one chunk voids the key map
    cpath = os.path.join(proot, "keychunks", tree["chunks"][0]["name"])
    raw = bytearray(open(cpath, "rb").read())
    raw[10] ^= 0xFF
    open(cpath, "wb").write(bytes(raw))
    assert manifest_file_keys(proot, man1) is None
    # remove the salted one-off tables from the shared store
    import shutil
    shutil.rmtree(proot, ignore_errors=True)
    shutil.rmtree(index_table_root(e2, "phash", "documents"),
                  ignore_errors=True)
    clear_session_index(spark)


def test_winnow_delta_adopts_and_caps_at_read(spark, sf_dir, tmp_path):
    """r13: the winnow posting artifact is per-doc-pure (df cap moved
    to read time), so an appended epoch delta-adopts — parent postings
    hardlinked, only new shards fingerprinted — and the read-side cap
    computes the same full-corpus df a rebuild would: pairs equal the
    from-scratch pipeline exactly, including cross-epoch duplicates."""
    import os

    from bacalhau_spark.catalog import spread_compute
    from bacalhau_spark.operators.dedup import (nd_winnowing,
                                                winnow_posting_index,
                                                winnowing_pairs)
    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   index_table_root)
    from bacalhau_spark.sources.versioned import latest_manifest

    epoch1 = str(tmp_path / "epoch1")
    _shifted_docs_corpus(spark, sf_dir, epoch1, 23_000_000)
    winnow_posting_index(spark, epoch1)
    parent_root = index_table_root(epoch1, "winnow", "documents", rev=2)
    assert latest_manifest(parent_root)

    epoch2 = str(tmp_path / "epoch2")
    os.makedirs(epoch2)
    _copy_docs_parts(epoch1, epoch2)
    # 40 appended docs duplicating the first parent docs' text: the
    # cross-epoch winnow pairs only exist if the merged index is read
    _shifted_docs_corpus(spark, sf_dir, epoch2, 23_500_000, limit=40,
                         part_name="part-appended.parquet")

    got = nd_winnowing(spark, epoch2)
    man = latest_manifest(index_table_root(epoch2, "winnow",
                                           "documents", rev=2))
    assert man["props"]["delta_parent"] == os.path.basename(parent_root)
    full = winnowing_pairs(spread_compute(
        spark,
        spark.read.parquet(os.path.join(epoch2, "documents.parquet"))
        .select("doc_id", "text"), "doc_id"))
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(map(tuple, full.collect()))
    assert any(b >= 23_500_000 for _a, b, _n in got_rows), \
        "cross-epoch winnow dups must surface through the delta index"
    clear_session_index(spark)


def test_shingle_posting_delta_adopts_and_caps_at_read(spark, sf_dir,
                                                       tmp_path):
    """r15: the jaccard posting artifact is per-doc-pure — the
    persisted payload is the UNCAPPED (doc_id, shingle) rows
    (shingle_doc_postings; df cap applied when the grouped view is
    derived) — so an appended epoch delta-adopts: parent rows
    hardlinked, only the new shards tokenized/hashed, and the grouped
    df-capped view over the merged artifact computes the same
    full-corpus df a rebuild would. The registered row's pairs equal
    the from-scratch pipeline exactly, including cross-epoch
    duplicates that only exist if the merged index is read."""
    import os

    from bacalhau_spark.catalog import spread_compute
    from bacalhau_spark.operators.dedup import (ngram_jaccard_pairs,
                                                shingle_posting_index)
    from bacalhau_spark.sources.indexstore import (clear_session_index,
                                                   index_table_root)
    from bacalhau_spark.registry import ALL_QUERIES
    from bacalhau_spark.sources.versioned import latest_manifest

    epoch1 = str(tmp_path / "epoch1")
    _shifted_docs_corpus(spark, sf_dir, epoch1, 31_000_000)
    shingle_posting_index(spark, epoch1)
    parent_root = index_table_root(epoch1, "shpost3", "documents")
    assert latest_manifest(parent_root)

    epoch2 = str(tmp_path / "epoch2")
    os.makedirs(epoch2)
    _copy_docs_parts(epoch1, epoch2)
    # 40 appended docs duplicating the first parent docs' text: the
    # cross-epoch jaccard pairs only exist if the merged index is read
    _shifted_docs_corpus(spark, sf_dir, epoch2, 31_500_000, limit=40,
                         part_name="part-appended.parquet")

    got = ALL_QUERIES["nd_ngram_jaccard"][0](spark, epoch2)
    man = latest_manifest(index_table_root(epoch2, "shpost3",
                                           "documents"))
    assert man["props"]["delta_parent"] == os.path.basename(parent_root)
    full = ngram_jaccard_pairs(spread_compute(
        spark,
        spark.read.parquet(os.path.join(epoch2, "documents.parquet"))
        .select("doc_id", "text"), "doc_id"))
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(map(tuple, full.collect()))
    assert any(b >= 31_500_000 for _a, b, _j in got_rows), \
        "cross-epoch jaccard dups must surface through the delta index"
    clear_session_index(spark)
