"""Aggregation operators (hash agg, distinct, approx, rollup).

The reference only counts output lines in its checkers
(`pkg/test/scenario/utils.go:152-154`); real aggregation is first-class here.
Spark's groupBy().agg() is automatically partial+final (map-side combine) —
the shuffle carries one row per (partition × group), not per input row, which
is what makes a 100 TB scan with 6 groups (q17) shuffle ~kilobytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bacalhau_spark.catalog import table


def q17_hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+aggregate (Q17) — the headline bench query."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q18_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count (Q18). Spark expands this to a two-stage
    aggregate (partial distinct per partition, then merge)."""
    return (
        table(spark, sf_dir, "orders")
        .agg(F.countDistinct("o_custkey").alias("exact_cnt"))
    )


def q18b_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (no oracle — tolerance, not hash;
    the driver records a rows-only check). At 100 TB this is the right
    default: fixed-size sketch per partition, no distinct expansion."""
    return (
        table(spark, sf_dir, "orders")
        .agg(F.approx_count_distinct("o_custkey", 0.01).alias("approx_cnt"))
    )


def q19_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup (Q19)."""
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("c"))
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("c"),
        )
    )


def q19b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) — all four grouping sets in one pass
    (Spark expands to a single Expand + hash agg, not four scans)."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("c"))
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("c"),
        )
    )


def q19c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (per-priority and per-status marginals, no
    cross terms), registering no session-global view."""
    return (
        table(spark, sf_dir, "orders")
        .groupingSets([["o_orderpriority"], ["o_orderstatus"]],
                      "o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("c"))
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("c"),
        )
    )


def nd_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority x status. Pivot values are declared
    (F/O/P) so Spark skips the extra distinct-values job and the plan is one
    hash aggregate wide-column pass."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select("o_orderpriority",
                F.coalesce("F", F.lit(0)).alias("n_f"),
                F.coalesce("O", F.lit(0)).alias("n_o"),
                F.coalesce("P", F.lit(0)).alias("n_p"))
        .orderBy("o_orderpriority")
    )


def nd_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation/covariance) per
    return flag — single-pass moment accumulators; rounded because the
    summation order is partition-dependent."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qp"),
        )
        .orderBy("l_returnflag")
    )


def nd_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median / p90, linear interpolation) per return
    flag. The input repartitions BY THE GROUP KEY first: exact percentile's
    partial-aggregate state is the group's whole value multiset, so the
    default partial+final plan buffers every value twice and shuffles the
    buffers; moving the raw rows once and aggregating completely per group
    skips the useless partial layer (A/B at sf0.1: 2.38s → 1.62s).
    Parallelism is bounded by group count either way — which is why the
    approx variant (q18b pattern, mergeable sketches) is the 100 TB
    default and this exact form is for bounded-cardinality audits."""
    from bacalhau_spark.catalog import spread_compute
    return (
        spread_compute(
            spark,
            table(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_quantity", "l_extendedprice"),
            "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
        )
        .orderBy("l_returnflag")
    )


def q17b_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + HAVING (post-aggregation filter): orders whose total
    quantity exceeds 150. The filter runs on the aggregated rows — one
    shuffle, the HAVING costs nothing extra."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
        .orderBy("l_orderkey")
    )


def nd_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (per-partition sketch + merge, bounded
    memory) — the 100 TB default where exact percentile's per-group sort is
    unaffordable. Tolerance-checked against the exact form in tests, not
    hash-checked (rows-only for the driver)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_quantity", 0.5, 10000).alias("median_qty"),
            F.percentile_approx("l_extendedprice", 0.9, 10000).alias("p90_price"),
        )
        .orderBy("l_returnflag")
    )


def nd_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregation: several differently-filtered aggregates of
    the same scan in one pass (one shuffle, no self-joins) — the idiomatic
    replacement for N separate filtered scans. Uses the SQL FILTER (WHERE)
    surface; Catalyst compiles it to the same conditional accumulators as
    sum(CASE...)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("COUNT(*) FILTER (WHERE l_discount > 0.05)")
            .alias("n_discounted"),
            F.expr("ROUND(SUM(l_extendedprice) "
                   "FILTER (WHERE l_tax > 0.04), 2)").alias("taxed_price"),
            F.expr("COUNT(*) FILTER (WHERE l_quantity >= 25)")
            .alias("n_bulk"),
        )
        .orderBy("l_returnflag")
    )


def nd_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per group: the listagg/string_agg surface,
    built as sort_array(collect_list(...)) then joined to one string so the
    result is deterministic regardless of partition arrival order. The
    distinct variant goes through collect_set. Bounded group sizes only —
    at 100 TB an unbounded collect_list per group is an OOM; cap with a
    prior filter (here: nations per region, 25 rows total)."""
    nation = table(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name")))
            .alias("nations"),
            F.concat_ws(",", F.sort_array(F.collect_set(
                F.substring("n_name", 1, 7)))).alias("name_prefixes"),
        )
        .orderBy("n_regionkey")
    )


MAD_SIGMA = 3.0  # outlier gate: |x - median| > MAD_SIGMA * MAD


def nd_mad_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute deviation
    (MAD), the standard robust spread estimate for telemetry where a few
    broken readings would wreck mean/stddev gates. Both medians are the
    DISCRETE rank statistic (value at ascending rank floor((n-1)/2)+1) —
    interpolated percentiles are not ulp-portable across engines, so a
    `> sigma*mad` gate on them can flip on the last bit; rank selection
    keeps the gate exact end to end (abs/sub/one multiply are
    bit-identical both engines).

    Plan: rows move ONCE to their group (window partitionBy shuffles by
    event_type), each median is a rank-filter over the sorted group, and
    the two per-group scalars broadcast back onto the stream — the fact
    table is never shuffled again. Exact per-group selection serializes
    on group size, so like nd_percentiles this exact form is the
    bounded-cardinality audit (event_type is a small fixed enum); the
    100 TB default for high-cardinality keys is the mergeable
    approx-percentile sketch (nd_approx_percentiles)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    rank_w = Window.partitionBy("event_type").orderBy("value")
    grp_w = Window.partitionBy("event_type")
    med_rank = (F.floor((F.col("n") - 1) / 2) + 1)
    med = (ev.withColumn("rn", F.row_number().over(rank_w))
           .withColumn("n", F.count("*").over(grp_w))
           .where(F.col("rn") == med_rank)
           .select("event_type", F.col("value").alias("med")))
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med"))))
    rank_w2 = Window.partitionBy("event_type").orderBy("adev")
    mad = (dev.withColumn("rn", F.row_number().over(rank_w2))
           .withColumn("n", F.count("*").over(grp_w))
           .where(F.col("rn") == med_rank)
           .select("event_type", F.col("adev").alias("mad")))
    return (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.min("med").alias("med"),
                 F.min("mad").alias("mad"),
                 F.sum((F.col("adev") > MAD_SIGMA * F.col("mad"))
                       .cast("long")).alias("n_outliers"))
            .orderBy("event_type"))


_MAD_ORACLE = f"""
WITH ev AS (SELECT event_type, value FROM events),
med AS (SELECT event_type, value AS med FROM
        (SELECT event_type, value,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY value) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
         FROM ev) t
        WHERE rn = CAST(FLOOR((n - 1) / 2) AS BIGINT) + 1),
dev AS (SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med
        FROM ev e JOIN med m USING (event_type)),
mad AS (SELECT event_type, adev AS mad FROM
        (SELECT event_type, adev,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY adev) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
         FROM dev) t
        WHERE rn = CAST(FLOOR((n - 1) / 2) AS BIGINT) + 1)
SELECT d.event_type, COUNT(*) AS n_events,
       MIN(d.med) AS med, MIN(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > {MAD_SIGMA} * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type ORDER BY d.event_type
"""


HLL_M = 64       # registers (m); alpha_64 = 0.7213/(1+1.079/64) ~ 0.70936
HLL_ALPHA_NUM, HLL_ALPHA_DEN = 70936, 100_000
HLL_RHO_CAP = 40  # bounds 2^(CAP-M[j]) terms so the sum fits int64
# Small-range (linear counting) correction WITHOUT runtime floats: the
# standard est <= 5m/2 branch is m*ln(m/V) for V zero registers — ln is
# not ulp-portable across engines, so the 64 possible values are
# precomputed HERE once and embedded as identical integer literals in
# both the Spark expression and the oracle SQL. Indexed by V (1-based).
import math as _math  # noqa: E402

HLL_LC = tuple(round(HLL_M * _math.log(HLL_M / v))
               for v in range(1, HLL_M + 1))


def nd_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGER-EXACT HyperLogLog: per-source distinct-document estimates
    from 64 max-registers, with the exact count alongside as the audit —
    the third member of the mergeable-sketch plane (CMS counters merge
    by +, bloom bitmaps by OR, HLL registers by MAX). Unlike the
    textbook float HLL (and unlike q18b's engine-native
    approx_count_distinct, which is rows+test by design), every step
    here is integer and portable, so the whole operator value-hashes
    against the DuckDB oracle: rho comes from bit-length arithmetic
    (leading zeros of the 54-bit suffix of the 60-bit md5 fingerprint,
    = 55 - length(bin(w))), registers are integer MAXes, the harmonic
    denominator Sum 2^(-M[j]) is carried exactly as the integer
    Sum 1<<(RHO_CAP - M[j]) over a common 2^RHO_CAP denominator, and
    the estimate is two truncating divisions in a fixed order. Raw
    formula only (no small-range linear counting / bias table — the
    production refinements sit on top of the same registers; the
    err_ppm column reports the raw bias honestly, ~13% at m=64).

    Scale shape: the corpus collapses to distinct (source, fp) — one
    map-side-combined pass — then to the (source x 64)-bounded register
    grid (the missing-register fill is a broadcast of literal bucket
    ids, the nd_ks_drift grid pattern); everything after is arithmetic
    on 64 rows per source. Registers are the persisted/mergeable
    artifact at 100 TB; text never shuffles."""
    docs = table(spark, sf_dir, "documents")
    fps = (docs.select("source",
                       F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
                       .cast("long").alias("fp"))
           .distinct())
    regs = (fps.select("source", hll_bucket(F.col("fp")).alias("j"),
                       hll_rho(F.col("fp")).alias("rho"))
            .groupBy("source", "j").agg(F.max("rho").alias("m_j")))
    truth = fps.groupBy("source").agg(
        F.countDistinct("fp").alias("n_true"))
    return (hll_estimate(spark, regs, "source")
            .join(truth, "source")
            .select("source", F.col("n_true").cast("long").alias("n_true"),
                    "est",
                    F.expr(f"abs(est - n_true) * 1000000 div n_true")
                    .cast("long").alias("err_ppm"))
            .orderBy("source"))


def hll_bucket(fp: Column) -> Column:
    """Register index: low 6 bits of the 60-bit fingerprint (== fp % 64
    on the nonnegative domain) — THE bucket fold batch and streaming
    HLL share (drift here would split the register space)."""
    return fp.bitwiseAND(F.lit(HLL_M - 1))


def hll_rho(fp: Column) -> Column:
    """rho over the 54-bit suffix w = fp >> 6 (== fp div 64 on the
    nonnegative domain — a FLOAT division here would lose mantissa bits
    past 2^53), bit-length exact: leading zeros + 1 = 55 -
    length(bin(w)), w = 0 -> 55, capped at HLL_RHO_CAP."""
    w = F.shiftright(fp, 6)
    return F.least(
        F.when(w == 0, F.lit(55))
        .otherwise(F.lit(55) - F.length(F.bin(w))),
        F.lit(HLL_RHO_CAP))


def hll_estimate(spark: SparkSession, regs: DataFrame,
                 key: str) -> DataFrame:
    """Estimate per `key` from a (key, j, m_j) register frame: the
    exact integer harmonic denominator, the two fixed-order truncating
    divisions, and the shared-literal linear-counting branch. THE one
    estimate definition every HLL surface uses. Absent registers fold
    in ALGEBRAICALLY instead of via a dense-grid self-join (which
    conflicts on attributes when `regs` is a memory-sink view): a
    missing register is M=0, contributing 2^CAP to the denominator and
    one zero register — den += (64 - present) << CAP,
    v_zero = 64 - present; present registers always have m_j >= 1
    (rho >= 1 by construction), so they never add to v_zero. The
    oracles keep the equivalent explicit-grid SQL."""
    lc_arr = "array(" + ", ".join(f"{v}L" for v in HLL_LC) + ")"
    return (regs.groupBy(key)
            .agg(F.sum(F.expr(f"shiftleft(1L, {HLL_RHO_CAP} - m_j)"))
                 .alias("den_present"),
                 F.count("*").cast("int").alias("present"))
            .withColumn("v_zero", F.lit(HLL_M) - F.col("present"))
            .withColumn("den", F.expr(
                f"den_present + cast({HLL_M} - present as bigint) "
                f"* shiftleft(1L, {HLL_RHO_CAP})"))
            .withColumn("t", F.expr(
                f"shiftleft(1L, {12 + HLL_RHO_CAP}) div den"))
            .withColumn("raw_est", F.expr(
                f"(t * {HLL_ALPHA_NUM}) div {HLL_ALPHA_DEN}")
                .cast("long"))
            .withColumn("est", F.expr(
                f"CASE WHEN raw_est <= {5 * HLL_M // 2} AND v_zero > 0 "
                f"THEN element_at({lc_arr}, v_zero) "
                "ELSE raw_est END").cast("long"))
            .select(key, "est"))


def hll_estimate_oracle(key: str, fps_cte: str, truth_cte: str) -> str:
    """The integer-HLL estimate pipeline (rho → registers → dense grid
    → exact harmonic denominator → alpha division → linear-counting
    branch) parameterized over the grouping key and the fingerprint /
    truth sources — ONE statement of the estimate SQL for the batch
    gate (per-source text distinct) and the streaming gate (per-window
    user distinct), so a constant or branch change can never leave one
    oracle stale (round-12 review)."""
    return f"""
WITH {fps_cte},
rho AS (SELECT {key}, fp % {HLL_M} AS j,
               LEAST(CASE WHEN fp // 64 = 0 THEN 55
                          ELSE 55 - length(bin(fp // 64)) END,
                     {HLL_RHO_CAP}) AS rho
        FROM fps),
regs AS (SELECT {key}, j, MAX(rho) AS m_j FROM rho
         GROUP BY {key}, j),
grid AS (SELECT s.{key}, b.j, COALESCE(regs.m_j, 0) AS m_j
         FROM (SELECT DISTINCT {key} FROM regs) s
         CROSS JOIN (SELECT unnest(range({HLL_M})) AS j) b
         LEFT JOIN regs ON regs.{key} = s.{key} AND regs.j = b.j),
den AS (SELECT {key},
               SUM(1::BIGINT << ({HLL_RHO_CAP} - m_j)) AS den,
               SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS v_zero
        FROM grid GROUP BY {key}),
est0 AS (SELECT {key}, v_zero,
                ((1::BIGINT << {12 + HLL_RHO_CAP}) // den)
                * {HLL_ALPHA_NUM} // {HLL_ALPHA_DEN} AS raw_est
         FROM den),
est1 AS (SELECT {key},
                CASE WHEN raw_est <= {5 * HLL_M // 2} AND v_zero > 0
                     THEN [{", ".join(str(v) for v in HLL_LC)}]
                          [CAST(v_zero AS BIGINT)]
                     ELSE raw_est END AS est
         FROM est0),
{truth_cte}
SELECT est1.{key}, CAST(n_true AS BIGINT) AS n_true,
       CAST(est AS BIGINT) AS est,
       CAST(abs(est - n_true) * 1000000 // n_true AS BIGINT) AS err_ppm
FROM est1 JOIN truth USING ({key}) ORDER BY est1.{key}
"""


_HLL_ORACLE = hll_estimate_oracle(
    "source",
    "fps AS (SELECT DISTINCT source, "
    "CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS fp "
    "FROM documents)",
    "truth AS (SELECT source, COUNT(DISTINCT fp) AS n_true FROM fps "
    "GROUP BY source)")


QUERIES = {
    "nd_hll_distinct": (nd_hll_distinct, _HLL_ORACLE),
    "nd_mad_outlier": (nd_mad_outlier, _MAD_ORACLE),
    "q17_hash_agg": (
        q17_hash_agg,
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
        "ROUND(SUM(l_extendedprice), 2) AS sum_price, "
        "ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*) AS n "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
    ),
    "q18_count_distinct": (
        q18_count_distinct,
        "SELECT COUNT(DISTINCT o_custkey) AS exact_cnt FROM orders",
    ),
    "q18b_approx_distinct": (q18b_approx_distinct, None),
    "nd_approx_percentiles": (nd_approx_percentiles, None),
    "nd_filtered_agg": (
        nd_filtered_agg,
        "SELECT l_returnflag, "
        "COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted, "
        "ROUND(SUM(l_extendedprice) FILTER (WHERE l_tax > 0.04), 2) "
        "AS taxed_price, "
        "COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    ),
    "nd_listagg": (
        nd_listagg,
        "SELECT n_regionkey, "
        "string_agg(n_name, ',' ORDER BY n_name) AS nations, "
        "array_to_string(list_sort(list_distinct("
        "list(substring(n_name, 1, 7)))), ',') AS name_prefixes "
        "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey",
    ),
    "q17b_having": (
        q17b_having,
        "SELECT l_orderkey, SUM(l_quantity) AS total_qty FROM lineitem "
        "GROUP BY l_orderkey HAVING SUM(l_quantity) > 150 ORDER BY l_orderkey",
    ),
    "q19_rollup": (
        q19_rollup,
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS c FROM orders "
        "GROUP BY ROLLUP(o_orderpriority, o_orderstatus) "
        "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST, c",
    ),
    "q19b_cube": (
        q19b_cube,
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS c FROM orders "
        "GROUP BY CUBE(o_orderpriority, o_orderstatus) "
        "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST, c",
    ),
    "q19c_grouping_sets": (
        q19c_grouping_sets,
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS c FROM orders "
        "GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus)) "
        "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST, c",
    ),
    "nd_pivot": (
        nd_pivot,
        "SELECT o_orderpriority, "
        "COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, "
        "COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, "
        "COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p "
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    ),
    "nd_stats_agg": (
        nd_stats_agg,
        "SELECT l_returnflag, ROUND(stddev_samp(l_quantity), 4) AS sd_qty, "
        "ROUND(var_samp(l_quantity), 4) AS var_qty, "
        "ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qp, "
        "ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    ),
    "nd_percentiles": (
        nd_percentiles,
        "SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty, "
        "quantile_cont(l_extendedprice, 0.9) AS p90_price "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    ),
}
