"""A/B: nd_pca_project's exact projection fold.

 a) HOF struct-fold (r14 entry state): aggregate() with an 8-field
    named_struct accumulator — interpreted per step, 64 steps x 40k rows.
 b) Arrow cumsum kernel: pandas_udf over the SAME quantized q arrays;
    per component k the left fold  acc + (q_d - mu_d) * w_kd  (d
    ascending) is replayed as elementwise (x - mu) * w_k followed by
    np.cumsum (a strictly sequential scan — identical IEEE op sequence,
    bit-identical result), vectorized across the batch (guide §4.2).
 c) literal chain: 64-term left-deep addition per component, full
    codegen (janino-cliff probe).

Equality is asserted BIT-EXACT (struct equality on the collected rows).

Run: python experiments/pca_fold_r14.py [sf_dir]
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bacalhau_spark.catalog import table
from bacalhau_spark.operators.similarity import (KM_DIMS, KM_OFF, KM_SCALE,
                                                 PCA_K, _double_lit_sql,
                                                 _pca_model,
                                                 pca_project_exact_frame)
from bacalhau_spark.session import get_session

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def _qd(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.expr(
        f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) "
        f"* {KM_SCALE}) AS BIGINT) + {KM_OFF})").alias("q"))


def arrow_fold(spark, sf_dir):
    mu, w, _e, _n = _pca_model(spark, sf_dir)

    def make_udf(mu_l, w_l):
        def fn(qs):
            import numpy as _np
            import pandas as _pd
            m = _np.asarray(mu_l, dtype="float64")
            wt = _np.asarray(w_l, dtype="float64").T  # (K, D)
            x = _np.stack(qs.values).astype("float64")
            t = (x[:, None, :] - m[None, None, :]) * wt[None, :, :]
            p = _np.cumsum(t, axis=2)[:, :, -1]
            return _pd.Series(list(p))
        from pyspark.sql.functions import pandas_udf
        return pandas_udf(fn, "array<double>")

    proj = make_udf(mu, w)
    return _qd(spark, sf_dir).select("vec_id", proj(F.col("q")).alias("proj"))


def _pca_model_sql(mu, w):
    """(MU, W) as Spark SQL array-literal text: MU a 64-double array, W
    the transposed [component][dim] array-of-arrays."""
    wt = [[w[d][k] for d in range(len(mu))] for k in range(PCA_K)]
    mu_elems = ", ".join(_double_lit_sql(v) for v in mu)
    wk = [", ".join(_double_lit_sql(v) for v in row) for row in wt]
    return (f"array({mu_elems})",
            "array(" + ", ".join(f"array({r})" for r in wk) + ")")


def literal_chain(spark, sf_dir):
    mu, w, _e, _n = _pca_model(spark, sf_dir)
    mu_sql, w_sql = _pca_model_sql(mu, w)
    qd = _qd(spark, sf_dir).select(
        "vec_id", "q", F.expr(mu_sql).alias("mu"), F.expr(w_sql).alias("w"))
    cols = []
    for k in range(PCA_K):
        expr = "CAST(0.0 AS DOUBLE)"
        for d in range(KM_DIMS):
            expr = (f"({expr} + (CAST(q[{d}] AS DOUBLE) - mu[{d}])"
                    f" * w[{k}][{d}])")
        cols.append(expr)
    proj = F.expr("array(" + ", ".join(cols) + ")")
    return qd.select("vec_id", proj.alias("proj"))


def noop(df):
    df.write.mode("overwrite").format("noop").save()


def main():
    spark = get_session("pca-fold-ab")
    spark.sparkContext.setLogLevel("ERROR")
    base = pca_project_exact_frame(spark, SF).orderBy("vec_id").collect()
    for name, fn in (("arrow", arrow_fold), ("chain", literal_chain)):
        got = fn(spark, SF).orderBy("vec_id").collect()
        same = all(a == b for a, b in zip(base, got)) and len(base) == len(got)
        print(f"{name}: bit-identical={same} rows={len(got)}")
        assert same
    variants = {"hof_struct": pca_project_exact_frame,
                "arrow": arrow_fold, "chain": literal_chain}
    for fn in variants.values():
        noop(fn(spark, SF))
    times = {k: [] for k in variants}
    for _ in range(5):
        for k, fn in variants.items():
            t0 = time.perf_counter()
            noop(fn(spark, SF))
            times[k].append(time.perf_counter() - t0)
    for k, ts in times.items():
        print(f"{k:10s} median {statistics.median(ts):.3f}s "
              f"min {min(ts):.3f} max {max(ts):.3f}")


if __name__ == "__main__":
    main()
