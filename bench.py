"""Per-query plan-drift sweep over the headline registry queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

``python bench.py`` forces each headline query end-to-end, one at a time,
with the "noop" sink (computes every output column; no driver-side
collect) and prints ONE JSON line: per-query seconds and the normalized
executed-plan fingerprints. ``python bench.py --fingerprints`` builds the
same plans without executing them and prints only the fingerprint map.

This is a regression sweep, not a performance claim: performance is
measured by ``perfbench/run.py`` (see ``BENCHMARK.json``).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.run import stop_jvm  # noqa: E402
from providenciasbigdata_spark.io import load_table  # noqa: E402
from providenciasbigdata_spark.queries import all_queries  # noqa: E402
from providenciasbigdata_spark.session import get_spark  # noqa: E402

# Representative slice of SURVEY.md §2: reference-parity (a7/a10),
# relational joins/aggs/windows, and the pipeline ops (dedup, ANN, text).
HEADLINE = [
    "a7_text_search",
    "a10_neighborhood",
    "agg_pricing_summary",
    "join_shipping_priority",
    "join_region_nation_revenue",
    "window_topk_per_customer",
    "agg_rollup",
    "json_events_agg",
    "asof_last_purchase",
    "dedup_exact_survivors",
    "minhash_near_dups",
    "ann_topk_per_query",
    "text_quality",
    "graph_degree_histogram",
    "graph_two_hop",
    "stream_session_windows",
    "skew_topk_per_supplier",
    "explode_top_tokens",
    "sessionize_events",
    "rollup_hypertable",
    "contamination_ngram_overlap",
    "pack_sequences",
    "sketch_heavy_hitter_tokens",
    "pq_ann_topk",
    "join_market_share",
    "join_returned_items",
    "sql_recursive_reachability",
    "timeseries_resample_ffill",
    "quality_expectations",
    "variant_props_stats",
    "bitmap_distinct_users",
    "array_hof_token_stats",
    "agg_linear_regression",
    "mongodump_facet_anio",
    "stream_user_totals_live",
    "a7_search_bm25",
    # round 3 additions
    "a7_search_stemmed",
    "mql_or_text",
    "graph_pagerank",
    "multimodal_wav_decode",
    # round 4 additions
    "multimodal_bmp_decode",
    "mql_cursor_surface",
    "cypher_multi_anchor",
    "sample_stratified",
    "mql_agg_facet_counts",
    "dedup_embedding_survivors",
    "ivf_index_exact_topk",
    # round 4, second session
    "merge_into_customers",
    "dedup_span_stats",
    "graph_personalized_pagerank",
    "sample_fixed_per_stratum",
    # round 4, third session
    "join_bloom_prefilter",
    "dedup_paragraph_rewrite",
    "text_token_diversity",
    "text_log_parse",
    "text_feature_hashing",
    "sample_weighted_by_length",
    # round 5 additions
    "dedup_embedding_blocked",
    "a7_search_phrase",
    "cypher_node_predicate",
    "cypher_two_hop_motif",
    "graph_scc",
    "funnel_ordered_steps",
    "hist_equi_depth",
    "text_common_token_ratio",
    "snapshot_diff_changes",
    "split_train_val_test",
    "mql_agg_lookup",
    "text_lm_perplexity",
    "multimodal_bmp_header_jvm",
    "graph_label_propagation",
    "text_distinctive_terms",
    "cypher_topk_neighbors",
    "timeseries_rolling_median",
    "mql_agg_sort_by_count",
    # round 5, second session
    "mql_agg_bucket",
    "mql_agg_facet",
    "mql_text_score_cursor",
    "multimodal_png_decode",
    "multimodal_wav_header_jvm",
    "curate_gopher_flags",
    "graph_link_prediction",
    "graph_scc_condensation",
    "stream_purchase_click_semi",
    "stream_session_dynamic_gap",
    "training_mix_temperature",
    "pack_first_fit_bins",
    "dedup_paragraph_within_doc",
    "timeseries_resample_interpolate",
    "dsir_importance_weights",
    "cypher_global_topk",
    # round 6 additions
    "mql_agg_window_fields",
    "mql_agg_densify",
    "mql_agg_fill",
    "mql_agg_replace_root",
    "cypher_generic_3hop",
    "a7_search_stemmed_en",
    "embedding_quantize_int8",
    "embed_matryoshka_ratio",
    "graph_assortativity",
    "window_ntile_quartiles",
    # round 6, fourth session
    "drift_wasserstein_quantity",
    "mql_agg_stddev",
    "ann_hamming_topk",
    "ann_int8_topk",
    "curate_encoding_screen",
    "cypher_count_distinct",
    "cypher_collect_neighbors",
    "mql_agg_topn",
    "mql_unwind_indexed",
    "mql_hof_expr",
    "batch_session_window",
    "multimodal_pgm_decode",
    "training_mix_epochs",
    # round 7 (a7_search_stemmed above now runs the full-Snowball
    # dictionary path)
    "a7_search_ranked_tf",      # Mongo-shaped tf relevance
    "cypher_return_computed",   # expression-grammar projection
    "cypher_union",
    "cypher_exists_guard",      # semi-join existence
    "mql_object_expr",          # mergeObjects/objectToArray/HOF chain
    "mql_regex_expr",           # regexFind/FindAll struct results
    "mql_window_percentile",    # Mongo 7 window median/percentile
    "training_shuffle_shards",  # seeded md5 permutation into shards
    "graph_eigenvector_centrality",
    "contamination_fuzzy_minhash",  # cross-corpus LSH decontamination
    "multimodal_phash_dedup",   # perceptual image dedup (real decode)
    "stream_fingerprint_dedup", # in-stream simhash dedup (batch twin)
    "cypher_pattern_predicate",
    "cypher_branching_pattern",
    "cypher_computed_where",
    "mql_agg_percentile",
    "mql_datetime_expr",
    "mql_lookup_pipeline",      # per-key window top-k lookup
    "drift_chisq_event_types",
    "multimodal_shot_boundaries",
    # round 8
    "cypher_with_chain",        # WITH-pipeline segment chaining
    "cypher_unwind_anchor",     # UNWIND param batch anchoring
    "cypher_optional_two_hop",  # deferred all-or-nothing left join
    "cypher_all_shortest_paths",  # Brandes sigma forward pass
    "cypher_cheapest_path",     # weighted SSSP on the Cypher surface
    "multimodal_jpeg_header_jvm",  # bounded JVM marker-segment walk
    "mql_iso_date_parts",       # ISO week fields, concat-formatted
    # round 9
    "stream_user_totals_tws",   # gate-hardened tws runtime (worker env)
    "cypher_scalar_fns",        # scalar functions in computed items
    "cypher_optional_varlen",   # OPTIONAL var-length BFS left join
    "cypher_unanchored_varlen",  # seeds-DataFrame mid-chain BFS
    "cypher_stats_aggregates",  # stDev/stDevP/percentileCont
    "cypher_order_by_expr",     # computed ORDER BY over aliases
    "mql_agg_bucket_auto_granularity",  # preferred-number boundaries
    "mql_geo_near",             # haversine proximity stage
    "geo_radius_join",          # grid-bucketed radius self-join
    "text_pii_redaction",       # map-only typed-tag redaction
    "mix_stratified_sample",    # per-stratum hash sampling
    "containment_join_prefix",  # asymmetric subsumption join
    "drift_psi_event_types",    # PSI drift contributions
    "classifier_calibration_bins",  # reliability bins
    "multimodal_jpeg_decode_pil",   # skip-less decode cross-check
    "vocab_coverage_curve",     # tokenizer-design coverage table
    "mql_window_exp_moving_avg",  # recursive EMA window fn
    "stream_dedup_against_index",  # stream-static anti-join gate
    "mql_geo_polygon",          # unrolled ray-casting membership
    "ann_mmr_rerank",           # diversity re-ranking
    # round 10
    "cypher_optional_exists",   # existential inside OPTIONAL MATCH
    # round 11
    "cypher_optional_varlen_exists",  # existential in var-length OPTIONAL
    "cypher_optional_carried_guard",  # carried-alias guard on the left join
    "mql_date_trunc_bins",      # $dateTrunc binSize epoch/month bins
    "mql_window_range_days",    # date-unit range window
    "mql_group_merge_objects",  # $mergeObjects group accumulator
    # round 12
    "cypher_optional_varlen_computed",  # computed cond in var-length OPTIONAL
    "mql_date_trunc_week_bins",  # week binSize + startOfWeek bins
    "mql_window_range_months",   # calendar-unit range window (join device)
    "mql_agg_bucket_auto_e24",   # E-series granularity boundaries
    "mql_date_trunc_timezone",   # wall-clock truncation (ICU replay)
    "mql_derivative_time_rate",  # date-unit derivative/integral
    # round 13
    "multimodal_png_luma",       # full PNG decode incl. luma (STORED-IDAT oracle)
    "classifier_score_quantized",  # integer-millionths margin scoring
    "cms_token_estimates_replayable",  # md5-family CMS replay
]


# Bumped whenever the normalization rules below change: fingerprints
# from different rule versions are incomparable.
_FP_NORM_VERSION = 2

# Per-query plan fingerprints: a timing that moves while the plan
# fingerprint is unchanged is host drift, not a plan change.
# Normalization strips everything that varies run-to-run without a
# structural plan change: expression ids (#123), plan ids, file
# paths/locations, and size statistics.
_FP_RES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(?m)^Location.*$"), "Location: <normalized>"),
    (re.compile(r"file:/[^\s,\])]*"), "<path>"),
    (re.compile(r"(?m)^.*Statistics.*$"), ""),
    (re.compile(r"cachedrdd_\d+"), "cachedrdd_"),
    # HOF lambda variable counters increment per-SESSION, not per-plan.
    # Scope the strip to the short lambda-parameter bases this codebase
    # actually uses (1-3 lowercase letters: x/y/acc/idx/...); stripping
    # every identifier's suffix would hash a real alias change such as
    # sum_1 vs sum_2 identical.
    (re.compile(r"\b([a-z]{1,3})_\d+\b"), r"\1_"),
    # localCheckpoint scans (iterative BFS/pagerank state) print the
    # GLOBAL RDD id counter — session history, not plan structure
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
]


def _plan_fingerprint(df) -> str:
    """md5 (16 hex chars) of the NORMALIZED formatted explain string of
    a query's physical plan. Computed outside the timed region so
    timings are unaffected."""
    try:
        s = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:
        return "unavailable"
    for rx, rep in _FP_RES:
        s = rx.sub(rep, s)
    return hashlib.md5(s.encode()).hexdigest()[:16]


def _release(spark) -> None:
    """Drop what the last query persisted (operator caches and the
    localCheckpointed loop state of the iterative graph operators) so
    it cannot evict or slow down the next query's data."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


def _fingerprints_only(sf_dir: str) -> None:
    """Plan-only mode (`bench.py --fingerprints`): build every headline
    DataFrame and print the {name: fingerprint} map without executing
    the writes — cheap enough to run against an older checkout and diff
    the two maps."""
    spark = get_spark(app_name="bench-fp")
    registry = all_queries()
    fps = {}
    for name in HEADLINE:
        fn, _sql = registry[name]
        try:
            fps[name] = _plan_fingerprint(fn(spark, sf_dir))
        except Exception as exc:
            fps[name] = f"error:{type(exc).__name__}"
        _release(spark)
    # fp_mode: these fingerprints are PLAN-ONLY (the DataFrame is never
    # executed), while the sweep records them AFTER execution
    # (AQE-finalized plans). The two modes differ for some queries
    # (cached subtrees finalize differently): compare like with like.
    print(json.dumps(
        {"plan_fp": fps, "sf_dir": sf_dir,
         "fp_norm_version": _FP_NORM_VERSION, "fp_mode": "plan_only"},
        sort_keys=True,
    ))


def main() -> None:
    """Run the sweep (or ``--fingerprints``) and stop the JVM after it,
    whether or not the sweep finished."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        if len(sys.argv) >= 2 and sys.argv[1] == "--fingerprints":
            _fingerprints_only(sf_dir)
        else:
            _sweep(sf_dir)
    finally:
        stop_jvm()


def _sweep(sf_dir: str) -> None:
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # Spark's whole-stage-codegen class cache holds 100 entries; a sweep
    # of 100+ queries would otherwise recompile every stage it revisits.
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.sql.codegen.cache.maxEntries": "5000"},
    )
    registry = all_queries()
    # touch every input once so the first timed query does not pay the
    # page-cache fill
    for name in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, name).count()

    timings: dict[str, float] = {}
    plan_fp: dict[str, str] = {}
    for name in HEADLINE:
        fn, _sql = registry[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        plan_fp[name] = _plan_fingerprint(df)  # after the timed write
        _release(spark)
    print(json.dumps(
        {"metric": "headline_queries_total_wall",
         "value": round(sum(timings.values()), 3), "unit": "sec", "sf": sf,
         "queries": timings, "plan_fp": plan_fp,
         "fp_norm_version": _FP_NORM_VERSION, "fp_mode": "executed"},
        sort_keys=True,
    ))


if __name__ == "__main__":
    main()
