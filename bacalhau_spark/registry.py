"""Central query registry — merges every operator module's QUERIES table.

The driver contract (__spark_entry__.py) and the pytest oracle harness both
read from here, so a query exists exactly once: Spark implementation + DuckDB
oracle side by side (SURVEY.md §2's declared queries Q1–Q30 plus the nd_*
training-data operators).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bacalhau_spark.functions import udfs
from bacalhau_spark.operators import (aggregates, asof, curation, dedup,
                                      filters, graph, joins, multimodal,
                                      pipeline, scalar, scans, setops, sort,
                                      similarity, text, tpch, web, windows)
from bacalhau_spark.sources import sinks, versioned
from bacalhau_spark.streaming import events as streaming_events

_MODULES = (scans, scalar, filters, joins, aggregates, windows, sort, setops,
            asof, dedup, similarity, text, multimodal, sinks, streaming_events,
            udfs, tpch, pipeline, curation, graph, versioned, web)

# The driver grades the FIRST 50 registry entries per round, so registry
# order rotates per round and every query accumulates a driver-side
# correctness row — the analog of the reference grading every scenario
# (pkg/test/scenario/test_scenarios.go:17-171). Standing rule: any query
# whose Spark code or oracle SQL changed since its last green driver row
# goes inside the next 50-entry window, because a green row only
# certifies the code it graded. Blocks: changed code first, then the
# blocks that come due, then the most recently graded blocks.
_PRIORITY: tuple[str, ...] = (
    # changed: every banded near-dup family builds its candidates
    # through operators.buckets (one cap, applied after the
    # per-bucket collect), and the jaccard rows take one stats form
    "nd_minhash_lsh", "nd_dedup_clusters", "nd_dedup_survivors",
    "nd_minhash_estimate", "nd_editdist_dedup", "nd_leakage_safe_split",
    "nd_curation_pipeline", "nd_incremental_minhash",
    "nd_neardup_decontam", "nd_image_phash", "nd_audio_phash",
    "nd_video_phash", "nd_winnowing", "nd_ngram_jaccard",
    "nd_weighted_jaccard", "nd_containment", "nd_stream_image_phash",
    "nd_stream_audio_phash", "nd_stream_video_phash",
    "nd_stream_band_screen",
    # changed: the kept implementation of each answer (table-bitmap
    # bloom, Gram-kernel covariance and the PCA fit over it, the
    # fold-only semantic screen)
    "nd_bloom_prefilter", "nd_embedding_covariance", "nd_pca_project",
    "nd_ann_pca", "nd_semantic_dedup",
    # changed: every memory-sink stream row runs through
    # streaming.events._run_to_memory
    "nd_stream_tumbling", "nd_stream_sessions", "nd_stream_stateful",
    "nd_stream_stream_join", "nd_stream_static_join", "nd_stream_dedup",
    "nd_stream_topk", "nd_stream_ewma", "nd_stream_hll_users",
    "nd_stream_heavy_hitters", "nd_stream_gopher", "nd_stream_url_screen",
    "nd_stream_html_extract", "nd_stream_quality_model",
    "nd_stream_incremental_dedup", "nd_stream_ann",
    # changed earlier: the PQ/IVF planes, the session-model cache keys
    # and every store-backed row
    "nd_pq_retrain", "nd_ann_pq", "nd_ann_lsh",
    "nd_pq_incremental", "nd_pq_quantize",
    "nd_ann_ivfpq", "nd_ann_ivf", "nd_ann_ivf_pruned",
    "nd_versioned_timetravel", "nd_versioned_pruned_read",
    "nd_image_phash_real",
    "nd_ann_lsh_candidates", "nd_ann_lsh_bucketstats",
    "nd_url_canonicalize", "nd_html_extract",
    # the next blocks that come due
    "q18_count_distinct", "q18b_approx_distinct",
    "q19_rollup", "q19b_cube", "q19c_grouping_sets", "q26_intersect",
    "q26b_except", "q26c_union_all", "q26d_intersect_all",
    "q26e_except_all", "q27_scalar_subquery", "q27b_in_subquery",
    "qj_full_outer", "tpch_q11_important_parts",
    "tpch_q15_top_supplier", "tpch_q20_part_promotion",
    "tpch_q21_waiting_supplier", "tpch_q5_local_volume",
    "nd_dataset_card",
    "nd_substr_dedup", "nd_heavy_hitters_cms",
    "nd_bigram_surprisal", "nd_ks_drift",
    "nd_ngram_overlap",
    "nd_quality_model_labeled", "nd_quality_model",
    "nd_zipf_octaves", "nd_lang_outliers",
    "nd_k_anonymity", "nd_target_encode", "nd_ewma_smooth",
    "nd_secret_scan", "nd_snapshot_diff", "nd_event_funnel",
    "nd_retention_cohorts", "nd_hll_distinct", "nd_applyinpandas",
    "nd_bpe_count", "nd_corpus_stats",
    "nd_dedup_stats", "nd_domain_mix", "nd_embedding_quantize",
    "nd_multimodal_resize", "nd_percentiles",
    # most recently graded blocks cycle to the back
    "nd_domain_blocklist", "nd_domain_cap", "nd_domain_cap_keep",
    "nd_bpe_encode", "nd_unicode_dedup",
    "nd_boilerplate_strip", "nd_pmi_collocations",
    "nd_skipgram_pairs", "nd_bpe_merges", "nd_pagerank",
    "q04_math_funcs", "q09_like_filter", "q10_regex_filter",
    "q11_tokenize_count", "nd_gopher_filter",
    "tpch_q16_supplier_cnt",
    "nd_dedup_exact", "q29_exact_dedup", "nd_fingerprint",
    "nd_ann_topk", "nd_cosine_neardup",
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_MERGED: dict[str, tuple[QueryFn, str | None]] = {}
for _m in _MODULES:
    for _name, _pair in _m.QUERIES.items():
        if _name in _MERGED:
            raise RuntimeError(f"duplicate query name {_name} in {_m.__name__}")
        _MERGED[_name] = _pair

_unknown = [n for n in _PRIORITY if n not in _MERGED]
if _unknown:
    raise RuntimeError(f"_PRIORITY names missing from modules: {_unknown}")

ALL_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    n: _MERGED[n] for n in _PRIORITY
}
for _name, _pair in _MERGED.items():
    ALL_QUERIES.setdefault(_name, _pair)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in ALL_QUERIES.items()}


_PROVIDER_CACHE: dict[int, str] = {}


def oracle_sql() -> dict[str, str]:
    """Oracle strings for the driver. An entry may register a CALLABLE
    provider instead of a static string (nd_pca_project inlines
    model constants derived from the grading fixture) — resolved here,
    at the driver's default grading scale, and memoized per provider
    (resolution reads fixture parquet + fits the model; the driver may
    call oracle_sql() more than once). Callers that only CLASSIFY
    queries must read ALL_QUERIES directly instead of resolving
    (cli.cmd_list_queries — listing must not require fixtures). Tests
    resolve providers with their own sf_dir."""
    out = {}
    for name, (_, sql) in ALL_QUERIES.items():
        if sql is None:
            continue
        if callable(sql):
            key = id(sql)
            if key not in _PROVIDER_CACHE:
                _PROVIDER_CACHE[key] = sql()
            sql = _PROVIDER_CACHE[key]
        out[name] = sql
    return out


def engine_registry() -> dict[str, QueryFn]:
    """The full job registry the engine/CLI/API serve: every oracle-graded
    query PLUS the path-reading pipeline stages (stages.py), which take a
    parent stage's output path instead of an sf_dir and therefore cannot
    sit in queries() (the sf-driven oracle harness would mis-invoke
    them)."""
    from bacalhau_spark.stages import STAGES
    reg = queries()
    for name, fn in STAGES.items():
        if name in reg:
            raise RuntimeError(f"stage name {name} collides with a query")
        reg[name] = fn
    return reg
