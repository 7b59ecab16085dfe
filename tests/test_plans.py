"""Physical-plan regression tests: the properties that make the queries
scale (pushdown, pruning, broadcast, top-k heap) must stay in the plan."""

from __future__ import annotations

from flink_stream_processing_spark.plans import (
    has_broadcast_join,
    has_pushed_filter,
    has_take_ordered,
)
from flink_stream_processing_spark.plans.inspect import read_schema_columns
from flink_stream_processing_spark.queries import QUERIES

from .conftest import SF_DIR


def test_q1_filter_pushed_to_scan(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    assert has_pushed_filter(df, "l_shipdate")


def test_q1_column_pruning(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    cols = read_schema_columns(df)
    # 7 of lineitem's 11 columns are needed; the scan must not read the rest
    assert "l_orderkey" not in cols and "l_partkey" not in cols


def test_q3_broadcasts_dims_and_uses_topk_heap(spark):
    df = QUERIES["q3_shipping_priority"](spark, SF_DIR)
    assert has_broadcast_join(df)
    assert has_take_ordered(df)
    assert has_pushed_filter(df, "c_mktsegment")
    assert has_pushed_filter(df, "o_orderdate")


def test_q5_broadcasts_dimension_chain(spark):
    assert has_broadcast_join(QUERIES["q5_region_revenue"](spark, SF_DIR))


def test_top_k_orders_never_global_sorts(spark):
    from flink_stream_processing_spark.plans import formatted_plan

    df = QUERIES["top_k_orders"](spark, SF_DIR)
    assert has_take_ordered(df)
    # top-k must be the per-partition heap only — no standalone global Sort
    # node may appear in the physical plan.
    plan = formatted_plan(df)
    assert "Sort [" not in plan and "(Sort" not in plan, plan


def test_semi_join_stays_semi(spark):
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["semi_join_having"](spark, SF_DIR))
    assert "LeftSemi" in plan


def test_q8_single_wide_shuffle_all_dims_broadcast(spark):
    """Q8's 6-table join: every dimension must broadcast — the only
    shuffle the semantics allow is lineitem⨝orders on orderkey."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["q8_market_share"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_asof_join_is_window_not_range_join(spark):
    """The as-of join must plan as union + window (one shuffle on the key),
    never a join operator (a range join explodes at scale)."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["asof_join_latest_view"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_interval_join_is_equi_join(spark):
    """The interval join must plan as a hash/SMJ equi-join on (key, bucket)
    — no broadcast-nested-loop or cartesian fallback from the range
    predicate."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["interval_join_click_errors"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q19_or_predicate_prunes_part_columns(spark):
    df = QUERIES["q19_disjunctive_revenue"](spark, SF_DIR)
    cols = read_schema_columns(df)
    assert "p_name" not in cols and "p_retailprice" not in cols


def test_narrow_pipeline2_ops_have_no_shuffle(spark):
    """The per-row training-pipeline ops (quality rules, stratified sample,
    redaction, quantization, header decode) must plan with ZERO exchanges —
    they are pure projections over the scan; any shuffle is a regression
    that costs a full repartition of the corpus at 100 TB."""
    from flink_stream_processing_spark.plans import formatted_plan

    for name in (
        "gopher_quality_rules",
        "stratified_sample",
        "text_redaction",
        "embedding_quantization",
        "multimodal_decode_dims",
    ):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "Exchange" not in plan, f"{name} plans a shuffle:\n{plan}"


def test_narrow_pipeline2_ops_prune_columns(spark):
    """Only the columns each op needs may reach the parquet scan."""
    cols = read_schema_columns(QUERIES["gopher_quality_rules"](spark, SF_DIR))
    assert "source" not in cols and "lang" not in cols
    cols = read_schema_columns(QUERIES["embedding_quantization"](spark, SF_DIR))
    assert "label" not in cols
    cols = read_schema_columns(QUERIES["multimodal_decode_dims"](spark, SF_DIR))
    assert "text" not in cols and "source" not in cols


def test_sequence_packing_single_window_no_extra_exchange(spark):
    """sequence_packing needs exactly the window's ordering exchange(s) and
    no more: one narrow token-count projection feeding one running-sum
    window (a distributed prefix sum at scale), never a join or repeated
    shuffle of the corpus."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["sequence_packing"](spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2, plan


def test_cosine_topk_batch_broadcasts_queries_no_corpus_preshuffle(spark):
    """The query set must broadcast (corpus scanned once, never shuffled
    before scoring); the only exchange is the per-query rank partitioning
    of (query_id, id, sim) rows."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["cosine_topk_batch"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_semantic_dedup_anti_join_carries_keys_only(spark):
    """The final keep step must be a broadcast/hash anti join on doc_id —
    never a sort-merge over document text."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["semantic_dedup_keep"](spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_query_terms_no_corpus_reshuffle(spark):
    """BM25: the query-term set and corpus stats must broadcast; the only
    hash exchanges are the postings aggregate and the df analytic — the
    corpus is never reshuffled on doc_id for the scoring join."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["bm25_lexical_topk"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_shuffle_hash_hint_selected(spark):
    """The SHUFFLE_HASH hint must actually pin the physical strategy (not
    silently fall back to sort-merge/broadcast)."""
    from flink_stream_processing_spark.queries_impl.analytics_extra import (
        q_shuffle_hash_join_parity,
    )

    from .conftest import SF_DIR

    plan = q_shuffle_hash_join_parity(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan


def test_jdbc_read_pushes_filters(spark, tmp_path):
    """Predicate pushdown must reach the JDBC source relation (scan shows
    PushedFilters), so a WHERE against a federated table filters in the
    database, not in Spark."""
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    url = f"jdbc:derby:{tmp_path}/pushdb;create=true"
    from flink_stream_processing_spark.sources.batch import load_table

    from .conftest import SF_DIR

    agg = (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .count()
    )
    agg.write.mode("overwrite").jdbc(url, "t", properties=props)
    df = spark.read.jdbc(url, "t", properties=props).filter("count > 100")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "count" in plan.lower(), plan


def test_salted_join_pins_shuffle_hash_and_no_cartesian(spark):
    """The salted skew join must keep its pinned shuffle-hash strategy;
    the dim replication (explode) must not degrade to a cartesian."""
    plan = (
        QUERIES["salted_skew_join_revenue"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in plan, plan
    assert "Cartesian" not in plan, plan


def test_triangle_count_broadcasts_degrees_no_cartesian(spark):
    """Triangle counting: the O(nodes) degree/rank relation joins in as a
    broadcast; wedge + closing joins are keyed (never cartesian).

    r19: the shipped form localCheckpoints the edge and arc relations (they
    feed 3 consumers each), which truncates the final plan — the degree
    broadcast lives inside the checkpointed arc build. The broadcast
    property is asserted on that arc build itself (``_oriented_arcs``,
    un-checkpointed); the shipped (checkpointed) plan keeps the
    no-cartesian assertion."""
    from pyspark.sql import functions as F

    from flink_stream_processing_spark.operators.graph import _oriented_arcs
    from flink_stream_processing_spark.plans import formatted_plan

    df = QUERIES["triangle_count_cosuppliers"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan, plan

    # canonical (u < v, distinct) edges with no join of their own, so the
    # only joins in the arc plan are the two degree lookups
    e = spark.range(200).select(
        F.col("id").alias("u"), (F.col("id") + 1 + F.col("id") % 3).alias("v")
    )
    arcs = _oriented_arcs(e)
    arc_plan = formatted_plan(arcs)
    assert "Cartesian" not in arc_plan, arc_plan
    assert has_broadcast_join(arcs)
    assert "SortMergeJoin" not in arc_plan and "ShuffledHashJoin" not in arc_plan, arc_plan


def test_cc_edges_run_the_pair_plan_once(spark):
    """Connected components stages both orientations of each pair with one
    explode, so the upstream pair plan appears once in the staged plan: no
    Union, one scan of the pair source. The edge set is the symmetric
    closure of the non-null pairs."""
    import re

    from pyspark.sql import functions as F

    from flink_stream_processing_spark.operators.dedup import _cc_edges
    from flink_stream_processing_spark.plans import formatted_plan

    pairs = spark.range(40).select(
        F.col("id").alias("doc_a"),
        F.when(F.col("id") % 7 != 0, F.col("id") % 9).alias("doc_b"),
    )
    edges = _cc_edges(pairs, "doc_a", "doc_b")
    plan = formatted_plan(edges)
    assert "Union" not in plan, plan
    assert len(re.findall(r"^\(\d+\) Range", plan, re.M)) == 1, plan
    want = {(a, a % 9) for a in range(40) if a % 7}
    want |= {(b, a) for a, b in want}
    assert {(r["src"], r["dst"]) for r in edges.collect()} == want


def test_mmr_prefilter_broadcasts_queries(spark):
    """MMR's candidate prefilter must broadcast the query batch (corpus
    never reshuffles for scoring)."""
    df = QUERIES["mmr_diversified_topk"](spark, SF_DIR)
    assert has_broadcast_join(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan, plan


def test_allpairs_join_no_cartesian_and_prunes_docs(spark):
    """The prefix-filtered set-similarity join must stay an equi-join on
    prefix shingles (never a cartesian pair expansion), and the documents
    scan must read only (doc_id, text)."""
    from flink_stream_processing_spark.plans import formatted_plan

    df = QUERIES["allpairs_jaccard_join"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    cols = read_schema_columns(df)
    assert "lang" not in cols and "source" not in cols


def test_pq_codebook_and_lut_broadcast(spark):
    """PQ encode/search must broadcast the tiny codebook + lookup table —
    the corpus side is never reshuffled for the join."""
    df = QUERIES["pq_adc_topk"](spark, SF_DIR)
    assert has_broadcast_join(df)
    assert has_take_ordered(df)


def test_cms_join_cardinality_partial_aggregation(spark):
    """The sketch build must partial-aggregate map-side (HashAggregate
    before the exchange), not ship raw keys."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["cms_join_cardinality"](spark, SF_DIR))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_greedy_pack_bins_single_shard_shuffle(spark):
    """Per-shard packing is one hash exchange on shard + the Arrow grouped
    map — no extra wide ops."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["greedy_pack_bins"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInPandas" in plan


def test_metadata_only_stats_pushes_aggregation_to_footer(spark):
    """count/min/max must be answered by parquet footer statistics — the
    physical plan carries PushedAggregation and scans no data columns."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["metadata_only_stats"](spark, SF_DIR))
    assert "PushedAggregation" in plan


def test_dynamic_partition_overwrite_layout_prunes(spark):
    """The hive-partitioned layout the DPO query writes must actually
    prune: a filter on the partition column appears as a PartitionFilters
    entry on the scan (planning-time directory pruning — zero I/O for
    excluded partitions), not as a post-scan Filter over all rows."""
    from flink_stream_processing_spark.plans import formatted_plan
    from flink_stream_processing_spark.queries_impl.file_formats import (
        _DPO_DIRS,
        q_dynamic_partition_overwrite,
    )
    from .conftest import SF_DIR
    import os

    q_dynamic_partition_overwrite(spark, SF_DIR).collect()  # materialize dirs
    tbl = os.path.join(_DPO_DIRS[SF_DIR], "events_by_type")
    from pyspark.sql import functions as F

    df = spark.read.parquet(tbl).filter(F.col("event_type") == "purchase")
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan


# ---------------------------------------------------------------------------
# Registry-wide unplanned-product sweep (r8)

# Queries whose construction is side-effect-free (no streams started, no
# export dirs written) and whose plans must NEVER contain a CartesianProduct
# — and may contain a BroadcastNestedLoopJoin ONLY where it is the
# documented single-row stats/quota cross join. At 100 TB an accidental
# cross product is the difference between a job and an outage; this pins
# every analytic family's join graph, not just the individually-pinned
# plans above.
_NO_CARTESIAN_SWEEP = [
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q11_important_stock",
    "q20_excess_stock_suppliers",
    "q21_waiting_suppliers",
    "point_in_time_feature_join",
    "asof_join_latest_view",
    "interval_join_click_errors",
    "salted_skew_join_revenue",
    # salted_two_phase_agg deregistered r19 (swap); its no-cartesian pin
    # lives with its oracle gate in test_deregistered_gates.py
    "mg_heavy_hitters_topk",
    "ivf_ann_topk",
    "ann_lsh_topk",
    "embedding_near_dup_pairs",
    "incremental_minhash_near_dups",
    "minhash_lsh_near_dups",
    "simhash_near_dups",
    "fuzzy_name_matches",
    "fuzzy_name_matches_d2",
    "allpairs_jaccard_join",
    "containment_join",
    "benchmark_decontamination",
    "ngram_overlap_decontamination",
    "triangle_count_cosuppliers",
    "bm25_lexical_topk",
    "hybrid_rrf_search",
    "mmr_diversified_topk",
    "pq_adc_topk",
    "cms_join_cardinality",
    "bloom_filter_membership",
    "semantic_dedup_keep",
    "left_join_order_counts",
    "anti_join_customers_no_orders",
    "leakage_safe_split",
    "bpe_merge_candidates",
    "politeness_frontier_schedule",
    "incremental_strip_spans",
]

# The ONLY tolerated BroadcastNestedLoopJoins: a deliberate broadcast
# cross join of a single-row aggregate (corpus stats / thresholds /
# quotas) into a per-row expression. Anything else is an unplanned
# product.
_SCALAR_CROSS_ALLOWED = {
    "bm25_lexical_topk",  # (n_docs, avgdl) single-row stats ride-in
    "hybrid_rrf_search",  # same stats inside its BM25 leg
    "q11_important_stock",  # scalar 3x-average gate
    "mmr_diversified_topk",  # scalar pool bound
    "cms_join_cardinality",  # single-row sketch dimensions
    "mg_heavy_hitters_topk",  # single-row (δ) prune offset broadcast
}


def test_no_headline_query_plans_a_cartesian_product(spark):
    from flink_stream_processing_spark.plans import formatted_plan

    offenders = []
    for name in _NO_CARTESIAN_SWEEP:
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if (
            "BroadcastNestedLoopJoin" in plan
            and name not in _SCALAR_CROSS_ALLOWED
        ):
            offenders.append(f"{name}: BroadcastNestedLoopJoin")
    assert not offenders, "\n".join(offenders)


def test_cross_doc_spans_single_scan_no_join(spark):
    """The span plan must stay the one-pass bucket-collect shape: exactly
    ONE parquet scan (a self-join formulation would re-run the whole
    window-hash pipeline on the build side) and ZERO join nodes — pairs
    are generated in-array inside the hash buckets."""
    import re

    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["cross_doc_duplicate_spans"](spark, SF_DIR))
    # one scan NODE (each node id shows once in the tree + once in the
    # details section of explain("formatted"))
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 1, plan
    assert "Join" not in plan, plan


def test_duplicate_span_texts_broadcasts_span_frame(spark):
    """Surfacing span text adds exactly one broadcast join of the tiny
    span frame against the token projection — never a shuffle join, and
    the token side scans only (doc_id, text)."""
    df = QUERIES["duplicate_span_texts"](spark, SF_DIR)
    assert has_broadcast_join(df)
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_strip_duplicate_spans_broadcasts_interval_lists(spark):
    """The excision join must broadcast the tiny per-doc interval frame
    into the token projection (the duplicate_span_texts precedent) — a
    shuffle join here would move every document's tokens for a 200-row
    build side."""
    df = QUERIES["strip_duplicate_spans"](spark, SF_DIR)
    assert has_broadcast_join(df)
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_span_coverage_profile_single_scan(spark):
    """All three window sizes must ride ONE parquet scan (the in-array
    nested transform) — a UNION formulation would scan the corpus three
    times."""
    import re

    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["span_coverage_profile"](spark, SF_DIR))
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 1, plan
    assert "Join" not in plan, plan


def test_url_frontier_topk_prunes_columns(spark):
    """The frontier rank must read only the columns the canonicalizer
    needs (doc_id, source, lang) — never the text payload."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["url_frontier_topk"](spark, SF_DIR))
    sections = plan.split("ReadSchema")[1:]
    assert sections, plan  # a plan with no scan details would vacuously pass
    # Check EVERY scan's schema line (not just the first scan's prefix):
    # a second scan reading `text` must fail this pin too.
    for section in sections:
        schema_line = section.split("\n", 1)[0]
        assert "text" not in schema_line, plan


def test_politeness_schedule_prunes_text_and_plans_host_joins(spark):
    """The politeness controller joins two per-host aggregates — neither
    side may ever read the text payload (both sides derive from
    (doc_id, source, lang) alone), and the plan must contain no
    cartesian/unplanned product (also swept suite-wide)."""
    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["politeness_frontier_schedule"](spark, SF_DIR))
    sections = plan.split("ReadSchema")[1:]
    assert sections, plan
    for section in sections:
        assert "text" not in section.split("\n", 1)[0], plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_strip_never_rescans_corpus(spark):
    """The incremental contract: the corpus contributes ONLY its
    checkpointed window-hash store (an ExistingRDD scan) — the final plan
    reads parquet exactly twice, both on the batch side (window hashing +
    the excision token projection). A third parquet scan would mean the
    store was rebuilt inline, re-touching corpus text on every batch."""
    import re

    from flink_stream_processing_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["incremental_strip_spans"](spark, SF_DIR))
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 2, plan
    assert "ExistingRDD" in plan, plan


def test_r15_store_maintenance_queries_no_smj_no_cartesian(spark):
    """The r15 registrations' scale pins: every join AQE-resolves to a
    broadcast of an O(keys)/O(hosts) frame — no SortMergeJoin, no
    cartesian/nested-loop product anywhere in the five plans (the
    builder-side audit at sf0.1 recorded the same shape; this pins it at
    the gate SF so a regression fails in-suite, not at bench time)."""
    from flink_stream_processing_spark.plans.inspect import formatted_plan

    for name in (
        "fingerprint_store_compaction",
        "span_store_compaction",
        "minhash_store_append",
        "daily_ingest_cycle",
        "recrawl_schedule",
    ):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "SortMergeJoin" not in plan, name
        assert "Cartesian" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_r16_queued_queries_plan_shape(spark):
    """Pre-pins for the r16 flip cohort (prepared, unregistered): no
    SortMergeJoin and no raw CartesianProduct anywhere. The IVF entries
    DO carry BroadcastNestedLoopJoin — that is the designed O(labels)
    centroid-table broadcast crossJoin (store_maintenance docstrings),
    so it is allowed there and pinned ABSENT for the recrawl pair, whose
    contract is AQE-chosen key joins with nothing forced."""
    from flink_stream_processing_spark.plans.inspect import formatted_plan
    from flink_stream_processing_spark.queries_impl import recrawl as rc
    from flink_stream_processing_spark.queries_impl import store_maintenance as sm

    for label, fn, bnlj_ok in (
        ("sessionized_politeness", rc.q_sessionized_politeness, False),
        ("robots_frontier_schedule", rc.q_robots_frontier_schedule, False),
        ("ivf_store_append", sm.q_ivf_store_append, True),
        ("ivf_refreshed_centroids", sm.q_ivf_refreshed_centroids, True),
    ):
        plan = formatted_plan(fn(spark, SF_DIR))
        assert "SortMergeJoin" not in plan, label
        assert "CartesianProduct" not in plan, label
        if not bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, label


def test_r17_queued_queries_plan_shape(spark):
    """Pre-pins for the r17 flip cohort: no SortMergeJoin, no raw
    CartesianProduct. source_reputation_scores carries the documented
    single-row global-stats broadcast crossJoin (BroadcastNestedLoopJoin
    of ONE aggregate row — the bm25/cms scalar ride-in idiom), allowed
    there and pinned absent elsewhere."""
    from flink_stream_processing_spark.plans.inspect import formatted_plan
    from flink_stream_processing_spark.queries_impl import recrawl as rc
    from flink_stream_processing_spark.queries_impl import reputation as rp
    from flink_stream_processing_spark.queries_impl import store_maintenance as sm

    for label, fn, bnlj_ok in (
        ("span_store_tombstones", sm.q_span_store_tombstones, False),
        ("fingerprint_store_tombstones", sm.q_fingerprint_store_tombstones, False),
        ("change_rate_estimates", rc.q_change_rate_estimates, False),
        ("source_reputation_scores", rp.q_source_reputation_scores, True),
    ):
        plan = formatted_plan(fn(spark, SF_DIR))
        assert "SortMergeJoin" not in plan, label
        assert "CartesianProduct" not in plan, label
        if not bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, label


def test_streaming_ivf_assign_static_side_plan_shape(spark):
    """Pre-pin for the prepared streaming_ivf_assign (r16 library queue):
    the stream-static join's STATIC side is the O(labels) quantizer and
    must resolve as a broadcast — no SortMergeJoin, no raw
    CartesianProduct. The constant-key equi-join against the broadcast
    static side may plan as BroadcastNestedLoopJoin or BroadcastHashJoin
    (both are the designed O(labels) broadcast; either is acceptable,
    a shuffle is not). Pinned on the BATCH twin of the same plan (the
    streaming plan is only materialized inside the running query; the
    join subtree is identical by construction — stream ≡ batch is
    law-pinned in tests/test_streaming_maintenance.py)."""
    from pyspark.sql import functions as F

    from flink_stream_processing_spark.operators.similarity import (
        cosine,
        ivf_centroids,
    )
    from flink_stream_processing_spark.plans.inspect import formatted_plan
    from flink_stream_processing_spark.sources.batch import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    cents = ivf_centroids(corpus).withColumn("one", F.lit(1))
    stream_shaped = (
        emb.filter(F.col("vec_id") % 10 == 0)
        .select("vec_id", "embedding")
        .withColumn("one", F.lit(1))
    )
    per = stream_shaped.join(F.broadcast(cents), "one").select(
        "vec_id",
        "label",
        cosine(F.col("embedding"), F.col("centroid")).alias("cos"),
    )
    agg = per.groupBy("vec_id").agg(
        F.expr("max_by(label, struct(cos, -label))").alias("assigned_label")
    )
    plan = formatted_plan(agg)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan  # the quantizer side must broadcast


def test_ivf_split_overloaded_plan_shape(spark):
    """Plan pins for the r17 library rebalance: every join is a broadcast
    (the overloaded-label semi, the centroid joins, the relabel maps) —
    no SortMergeJoin, no CartesianProduct anywhere. The keyed joins are
    BroadcastHashJoins; the single-row max-label crossJoin (the
    source_reputation scalar broadcast idiom) is materialized into the
    checkpointed child relabel map, so NO nested-loop node survives into
    either output plan."""
    from flink_stream_processing_spark.plans.inspect import formatted_plan
    from flink_stream_processing_spark.queries_impl.store_maintenance import (
        ivf_split_overloaded,
    )

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .selectExpr("vec_id", "CAST(label AS LONG) AS label",
                    "CAST(embedding AS ARRAY<DOUBLE>) AS embedding")
    )
    reb, smap = ivf_split_overloaded(emb, threshold=50)
    for label, plan in (
        ("lists", formatted_plan(reb)),
        ("split_map", formatted_plan(smap)),
    ):
        assert "SortMergeJoin" not in plan, label
        assert "CartesianProduct" not in plan, label
        assert "BroadcastNestedLoopJoin" not in plan, label
