"""Physical-plan shape assertions (SURVEY.md §4.2/§4.3).

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives a 100x scale-up: filters reach the parquet scan,
small dimensions broadcast, top-k lowers to TakeOrderedAndProject
(per-partition heaps, no global sort), aggregations are two-phase
(map-side partial), and no LSH/banding path degenerates into a
cartesian product.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from providenciasbigdata_spark.queries import all_queries

SF = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def reg():
    return all_queries()


def _run(reg, name, spark):
    fn, _ = reg[name]
    return fn(spark, SF)


def test_facet_filter_pushed_to_scan(spark, reg):
    plan = plan_of(_run(reg, "a5_facet_tipo", spark))
    # tipo maps 1:1 onto the stored `source` column -> predicate must
    # reach the parquet reader, not evaluate post-scan only
    assert "EqualTo(source," in plan, plan


def test_facet_scan_prunes_columns(spark, reg):
    plan = plan_of(_run(reg, "a2_distinct_tipo", spark))
    scan_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schemas and all("text" not in l for l in scan_schemas), plan


def test_dim_joins_broadcast(spark, reg):
    plan = plan_of(_run(reg, "join_region_nation_revenue", spark))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # region/nation/customer/orders are all broadcast-side here at test
    # SF; the load-bearing assertion is no shuffle join for tiny dims
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_topk_lowered_to_take_ordered(spark, reg):
    for name in ("sort_topk_orders", "ann_brute_topk"):
        plan = plan_of(_run(reg, name, spark))
        assert "TakeOrderedAndProject" in plan, (name, plan)
        # no global range-partitioned sort of the corpus
        assert "rangepartitioning" not in plan.lower(), (name, plan)


def test_agg_is_two_phase(spark, reg):
    plan = plan_of(_run(reg, "agg_pricing_summary", spark))
    # partial (map-side) + final HashAggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_lsh_banding_never_cartesian(spark, reg, distributed):
    for name in (
        "minhash_near_dups",
        "simhash_near_dups",
        "srp_lsh_pairs",
        # the scale-default SemDeDup path: k-means blocked candidates —
        # the only joins are equi-joins (ids x cluster labels), never an
        # all-pairs tile join
        "dedup_embedding_blocked",
    ):
        # MinHash bands in a plan only above its driver gate
        with distributed() if name == "minhash_near_dups" else contextlib.nullcontext():
            plan = plan_of(_run(reg, name, spark))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_minhash_below_its_gate_is_a_local_relation(spark, reg):
    """Below ``dedup._DRIVER_MAX_ROWS`` the bands and the verify ran on
    the driver: the plan only scans the local relation of pairs."""
    plan = plan_of(_run(reg, "minhash_near_dups", spark))
    assert "LocalTableScan" in plan and "Join" not in plan, plan


def test_text_search_is_scan_plus_predicate(spark, reg):
    # one scan, no join/exchange: tokenization + arrays_overlap are
    # map-side expressions fused into the scan stage. The STEMMED
    # search must keep the identical shape — query-preimage expansion
    # means no per-token strip expression and no extra operators.
    for name in ("a7_text_search", "a7_search_stemmed"):
        plan = plan_of(_run(reg, name, spark), "simple")
        assert "Join" not in plan, (name, plan)
        assert "Exchange" not in plan, (name, plan)


def test_asof_join_no_cartesian(spark, reg):
    plan = plan_of(_run(reg, "asof_last_purchase", spark))
    assert "CartesianProduct" not in plan, plan


def test_sessionize_single_exchange(spark, reg):
    """HashPartitioning(user_id) from the window sort satisfies the
    downstream groupBy(user_id, session_no) ClusteredDistribution —
    one shuffle end-to-end, the property that makes sessionization a
    single-pass operator at 100 TB."""
    plan = plan_of(_run(reg, "sessionize_events", spark), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cypher_node_predicate_broadcasts_hits(spark, reg):
    """Template 8's edges-to-nodes join must broadcast the TINY
    anchored hit set — the corpus-sized nodes scan never shuffles."""
    plan = plan_of(_run(reg, "cypher_node_predicate", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_min_cost_supplier_broadcasts(spark, reg):
    plan = plan_of(_run(reg, "join_min_cost_supplier", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the partkey filter must reach both lineitem scans
    assert "LessThan(l_partkey,100)" in plan, plan


def test_enrichment_is_broadcast_no_shuffle_join(spark, reg):
    plan = plan_of(_run(reg, "stream_enrich_segments", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rollup_two_phase(spark, reg):
    # grouping-set expansion still aggregates partially before the
    # exchange (Expand -> partial HashAggregate -> shuffle -> final)
    plan = plan_of(_run(reg, "rollup_hypertable", spark))
    assert "Expand" in plan and plan.count("HashAggregate") >= 2, plan


def test_contamination_benchmark_side_broadcasts(spark, reg):
    """The benchmark gram set must broadcast — the corpus side of a
    decontamination join can never afford an all-to-all shuffle."""
    plan = plan_of(_run(reg, "contamination_ngram_overlap", spark))
    assert "BroadcastHashJoin" in plan
    # corpus rows must not be exchanged for the join itself: the only
    # hash exchange allowed is the final per-doc aggregate
    assert plan.count("Exchange hashpartitioning") <= 1


def test_pack_sequences_no_global_single_partition(spark, reg):
    """The prefix sum must never collapse the data through a single
    partition: no Exchange SinglePartition on the table-sized side
    (the 32-row offset table is the one allowed singleton)."""
    plan = plan_of(_run(reg, "pack_sequences", spark))
    assert "rangepartitioning" in plan.lower()
    # the only SinglePartition exchange feeds the tiny per-partition
    # offset window, which then broadcasts
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pq_adc_scoring_is_jvm_expression(spark, reg):
    """ADC candidate scoring must stay a Catalyst fold over the literal
    LUT — only the encode step may be a Python (Arrow) stage, and the
    candidate pool must be TakeOrdered, not a global sort."""
    plan = plan_of(_run(reg, "pq_ann_topk", spark))
    assert "TakeOrderedAndProject" in plan
    # exactly one Arrow/Python stage: pq_encode (mapInPandas); the
    # formatted plan names each node twice (tree + detail), so count
    # tree entries only
    assert plan.count("MapInPandas (") == 1


def test_heavy_hitters_candidate_join_broadcasts(spark, reg):
    """The MG candidate set (<= 1/phi rows) must broadcast into the
    exact-count pass; the token stream itself shuffles only for the
    final per-candidate aggregate."""
    plan = plan_of(_run(reg, "sketch_heavy_hitter_tokens", spark))
    assert "BroadcastHashJoin" in plan
    assert "MapInPandas" in plan  # the sketch pass


def test_q6_single_scan_pushed_filters(spark, reg):
    """Q6 shape: every predicate reaches the parquet reader and the agg
    is two-phase — at 100 TB this query is scan-bound, never
    shuffle-bound (the exchange moves one partial-agg row per task)."""
    plan = plan_of(_run(reg, "agg_forecast_revenue", spark))
    assert "PushedFilters" in plan, plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed, pushed
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" not in plan, plan


def test_q15_no_single_partition_window(spark, reg):
    """Q15: the global-max compare must be a broadcast of a 1-row agg,
    not an unpartitioned window (which serializes the whole per-supplier
    agg through one task)."""
    plan = plan_of(_run(reg, "join_top_supplier", spark))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_q18_exchange_reuse(spark, reg):
    """Q18: the HAVING-sum agg and the re-join both hash on orderkey —
    the fact table must be shuffled once, with the second consumer
    reusing the exchange (or AQE equivalent), and customer broadcast."""
    plan = plan_of(_run(reg, "join_large_volume_customers", spark))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q21_semi_anti_no_cartesian(spark, reg):
    plan = plan_of(_run(reg, "join_waiting_suppliers", spark))
    assert "CartesianProduct" not in plan, plan
    # EXISTS -> left-semi, NOT EXISTS -> left-anti, both hash joins
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_join_strategy_hints(spark):
    """Physical join strategy is controllable per-join: broadcast /
    merge / shuffle_hash hints must produce the corresponding physical
    operators — the knob for overriding Catalyst's stats-based pick
    when table stats mislead at scale."""
    import pyspark.sql.functions as F

    big = spark.range(100000).withColumn("k", F.col("id") % 100)
    dim = spark.range(100).withColumnRenamed("id", "k")
    cases = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for hint, op in cases.items():
        plan = plan_of(big.join(dim.hint(hint), "k"))
        assert op in plan, (hint, plan)


def test_incremental_merge_is_partial_agg_shaped(spark, reg):
    """The incremental rollup must not rescan history twice: one scan
    feeds the state partial agg, the delta scan feeds the merge, and
    the final combine is a hash aggregate over the unioned partials."""
    plan = plan_of(_run(reg, "incremental_daily_revenue", spark))
    assert "Union" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final per branch


# ---- round 2: Spark-4 surface plans --------------------------------------

def test_variant_scan_prunes_columns(spark, reg):
    """The VARIANT query must read only (event_type, props) — parse_json
    at projection must not widen the scan."""
    plan = plan_of(_run(reg, "variant_props_stats", spark))
    scan_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schemas, plan
    for l in scan_schemas:
        assert "value" not in l and "user_id" not in l, plan


def test_bitmap_distinct_two_phase(spark, reg):
    """Bitmap exact-distinct must partial-aggregate: both groupBys show
    map-side partial_ before the final merge — the bounded-state
    shuffle is the point of the operator."""
    plan = plan_of(_run(reg, "bitmap_distinct_users", spark))
    assert "partial_bitmap_construct_agg" in plan or "partial_" in plan, plan
    assert "CartesianProduct" not in plan


def test_mask_projection_prunes(spark, reg):
    plan = plan_of(_run(reg, "governance_mask_names", spark))
    scan_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schemas and all("c_acctbal" not in l for l in scan_schemas), plan


def test_sql_scalar_udf_inlines(spark, reg):
    """The SQL UDF body must inline — no BatchEvalPython / pythonUDF
    nodes anywhere in the plan."""
    plan = plan_of(_run(reg, "sql_scalar_udf", spark))
    assert "Python" not in plan, plan
    assert "partial_" in plan, plan  # and the agg still two-phases


def test_graded_similarity_queries_never_materialize_corpus(spark, reg, monkeypatch):
    """The oracle-graded all-pairs queries must build their edge sets
    fully distributed: DataFrame.toPandas (the broadcast-matmul path's
    driver-side corpus materialization) is forbidden during both plan
    construction AND execution. This is the plan that survives a corpus
    bigger than driver memory."""
    from providenciasbigdata_spark.io import load_table

    cls = type(load_table(spark, SF, "embeddings"))

    def _banned(self, *a, **kw):
        raise AssertionError("driver-side corpus materialization in a graded query")

    monkeypatch.setattr(cls, "toPandas", _banned)
    for name in ("graph_degree_histogram", "sql_recursive_reachability"):
        assert _run(reg, name, spark).count() > 0, name


def test_pairwise_cosine_dispatches_on_corpus_size(spark):
    """The size dispatcher must take the broadcast matmul under the
    limit and the tile-blocked distributed path above it, with
    identical results either way."""
    from providenciasbigdata_spark.io import load_table
    from providenciasbigdata_spark.operators.similarity import pairwise_cosine

    emb = load_table(spark, SF, "embeddings")
    small = pairwise_cosine(emb, threshold=30.0, scale=100.0)  # n=500 <= limit
    assert "MapInPandas" in plan_of(small) and "Exchange" not in plan_of(small, "simple")
    big = pairwise_cosine(emb, threshold=30.0, scale=100.0, broadcast_limit=100)
    assert "Exchange" in plan_of(big, "simple")  # blocked: groupBy + tile join
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))


def test_hof_token_stats_no_explode_shuffle(spark, reg):
    """Array HOF stats are per-row projections: the plan must contain
    no Exchange at all (narrow, embarrassingly parallel)."""
    plan = plan_of(_run(reg, "array_hof_token_stats", spark))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # HOFs, not explode


def test_mql_cursor_sort_limit_is_take_ordered(spark, reg):
    """find(q, proj).sort(...).limit(n) must lower to
    TakeOrderedAndProject (per-partition heaps), never a global sort,
    and the equality filter must reach the parquet scan."""
    plan = plan_of(_run(reg, "mql_cursor_surface", spark))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan
    assert "PushedFilters" in plan and "source" in plan, plan


def test_mql_projection_prunes_scan_schema(spark):
    """An include-projection must shrink the scan's ReadSchema — texto
    (the wide column) never leaves the parquet reader."""
    from providenciasbigdata_spark.compat.documents import rulings_view
    from providenciasbigdata_spark.compat.ir import mql_find
    from providenciasbigdata_spark.io import load_table

    docs = rulings_view(load_table(spark, SF, "documents"))
    out = mql_find(docs, {"tipo": "src3"}, projection={"providencia": 1, "anio": 1})
    plan = plan_of(out)
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "texto" not in read[0] and "text" not in read[0], plan


def test_cypher_undirected_single_scan_no_join(spark, reg):
    """The undirected 1-hop is one filtered pass over the edge frame —
    no extra join/exchange beyond the edge build itself. Pin: exactly
    the same number of joins as the directed multi-anchor template
    (both consume the same pairwise edge build)."""
    undirected = plan_of(_run(reg, "cypher_undirected_expansion", spark))
    multi = plan_of(_run(reg, "cypher_multi_anchor", spark))
    count = lambda p: sum(p.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"))
    assert count(undirected) == count(multi), (undirected, multi)


def test_mql_aggregate_pipeline_plan_shapes(spark, reg):
    """$group lowers to a two-phase HashAggregate (map-side partials);
    $sort+$limit after $group lowers to TakeOrdered, not a global
    sort; the $match filter sits under the aggregate (before the
    shuffle)."""
    facet = plan_of(_run(reg, "mql_agg_facet_counts", spark))
    assert facet.count("HashAggregate") >= 2, facet
    tokens = plan_of(_run(reg, "mql_agg_top_tokens", spark))
    assert "TakeOrderedAndProject" in tokens, tokens
    assert "rangepartitioning" not in tokens.lower(), tokens
    # the year filter runs pre-explode/pre-shuffle: it appears as a
    # Filter on the scan side, and the scan pushes the derived column's
    # inputs only
    assert "Filter" in tokens, tokens


def test_ivf_index_probe_is_partition_pruned_scan(spark, reg):
    """The persisted-index probe must carry a PartitionFilters entry on
    cluster — the probe reads file groups, not the corpus."""
    import numpy as np

    from providenciasbigdata_spark.operators import similarity
    from providenciasbigdata_spark.io import load_table

    # reuse the staged index the registry query builds
    _run(reg, "ivf_index_exact_topk", spark)
    import os, tempfile
    from providenciasbigdata_spark.queries.modern import _sf_tag, _source_fingerprint

    out = os.path.join(
        tempfile.gettempdir(),
        f"pbd_ivfidx_{_sf_tag(SF)}_{_source_fingerprint(SF, 'embeddings')}",
    )
    idx = similarity.load_ivf_index(spark, out)
    emb = load_table(spark, SF, "embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    plan = plan_of(similarity.ivf_index_topk(idx, qvec, k=5, nprobe=2))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cluster" in pf[0], plan


def test_merge_into_single_join_no_nested_loop(spark, reg):
    """MERGE INTO compiles to ONE equi-join (full outer on the keys) —
    no nested-loop, no cartesian, and exactly one join operator."""
    import re

    plan = plan_of(_run(reg, "merge_into_customers", spark))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    # node-detail headers like "(13) SortMergeJoin" count each join once
    n_joins = len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan))
    assert n_joins == 1, plan


def test_dup_span_stats_equi_joins_only(spark, reg):
    """Duplicated-substring detection must stay equi-join shaped (gram
    key joins) — a nested-loop would be O(corpus^2) at scale. The
    documents scan must also prune to (doc_id, text)."""
    plan = plan_of(_run(reg, "dedup_span_stats", spark))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    scan_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schemas and all("embedding" not in l for l in scan_schemas), plan


def test_search_fuzzy_dictionary_join_is_hash_join(spark, reg):
    """The fuzzy-term dictionary expansion joins on the prefix equi-key
    (levenshtein only as residual filter): Catalyst must plan a hash
    join with the broadcast term list, not a nested loop over the
    vocabulary."""
    plan = plan_of(_run(reg, "a7_search_fuzzy", spark))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_profile_table_single_scan_plan(spark):
    # the whole multi-column exact profile must ride ONE scan of the
    # table (Expand + two-phase aggregate), not one scan per column
    from providenciasbigdata_spark.queries.extended import q_profile_table

    plan = plan_of(q_profile_table(spark, SF), "simple")
    scan_lines = [l for l in plan.splitlines() if "Scan parquet" in l or "FileScan" in l]
    assert len(scan_lines) == 1, plan
    assert "Expand" in plan, plan


def test_aqe_runtime_partition_coalesce(spark, reg):
    """AQE evidence, not just config: after execution, the adaptive
    plan shows the shuffle read COALESCED below the static
    spark.sql.shuffle.partitions — the runtime re-plan that keeps
    thousands of configured partitions from becoming thousands of
    tiny tasks when a stage's output is small. (Config flags alone
    prove nothing; this pins the executed plan.)"""
    df = _run(reg, "agg_pricing_summary", spark)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in executed, executed
    assert "coalesced" in executed, executed


def test_aqe_skew_join_config_active(spark):
    """The session pins AQE skew-join splitting ON — at 100 TB a hot
    key splits into subpartitions at runtime instead of stalling one
    task. (The fixture can't produce a skewed-enough join to trigger
    the rewrite; the salting operator in operators/skew.py is the
    explicit fallback and is oracle-checked.)"""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_bmp_header_extraction_is_jvm_only(spark, reg):
    """Header introspection must add ZERO Python stages: the only
    MapInPandas in the plan is the fixture wrap that builds the BMP
    containers — le_uint's substring/hex/conv chain stays Catalyst.
    (The 100 TB property: metadata pruning runs before any Arrow
    decode batch exists.)"""
    plan = plan_of(_run(reg, "multimodal_bmp_header_jvm", spark))
    assert plan.count("MapInPandas (") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_hist_equi_depth_is_distributed_rank(spark, reg):
    """The equi-depth histogram must NOT be a global-window ntile (one
    task sorting the table): the rank comes from range partitioning +
    broadcast per-partition offsets — same contract as pack_sequences."""
    plan = plan_of(_run(reg, "hist_equi_depth", spark))
    assert "rangepartitioning" in plan.lower(), plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_cypher_topk_is_take_ordered(spark, reg):
    plan = plan_of(_run(reg, "cypher_topk_neighbors", spark))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_cypher_global_topk_is_take_ordered(spark, reg):
    """Template 13's unanchored ORDER BY + LIMIT must be TakeOrdered
    per-partition heaps over the filtered relationship scan — never a
    global range-partitioned sort of the edge set."""
    plan = plan_of(_run(reg, "cypher_global_topk", spark))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_mql_sample_is_take_ordered(spark, reg):
    """$sample's deterministic md5-order draw lowers to TakeOrdered,
    not a full sort of the collection."""
    plan = plan_of(_run(reg, "mql_agg_sample", spark))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_phrase_indexed_probe_is_pushed(spark, reg):
    """The positional-index phrase probe pushes the token predicate
    into the index build's aggregate path (no post-hoc full-index
    filter-after-materialize), and never degrades to a cartesian."""
    plan = plan_of(_run(reg, "a7_search_phrase_indexed", spark))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_dsir_scoring_joins_broadcast_model(spark, reg):
    """DSIR's per-doc scoring joins the O(n_buckets) delta table
    BROADCAST against the doc-bucket counts — the corpus side must
    never shuffle for the model join."""
    plan = plan_of(_run(reg, "dsir_importance_weights", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hamming_topk_is_take_ordered_scan(spark, reg):
    """Binary ANN first stage: packing + Hamming distance fuse into the
    embedding scan's projection and the top-k lowers to TakeOrdered —
    no global sort, no shuffle of the corpus, no join anywhere."""
    plan = plan_of(_run(reg, "ann_hamming_topk", spark))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Join" not in plan, plan


def test_wasserstein_no_data_sized_single_partition_window(spark, reg):
    """W1's cumulative counts ride the range-partitioned two-phase
    prefix sum: every Window over data-sized input is partitioned by
    _pid; the only global-order windows are over the bounded
    per-partition summary table (<= 32 rows)."""
    plan = plan_of(_run(reg, "drift_wasserstein_quantity", spark))
    # the histogram is range-repartitioned before any window runs
    assert "rangepartitioning" in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan


def test_int8_topk_is_take_ordered_scan(spark, reg):
    """Int8-code ANN: quantization + integer dot fuse into the
    embedding scan's projection; top-k lowers to TakeOrdered — no
    global sort, no corpus shuffle, no join."""
    plan = plan_of(_run(reg, "ann_int8_topk", spark))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Join" not in plan, plan
