#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing is end-to-end per query: plan construction + execution + collect.
A warmup query first absorbs JVM/codegen startup so per-query numbers
measure the engine, not JIT."""

from __future__ import annotations

import json
import os
import sys
import time

from flink_stream_processing_spark.queries import QUERIES
from flink_stream_processing_spark.session import get_spark

# Headline set: the flagship reference aggregate + the relational core +
# every LLM-extension family (dedup, similarity, text), measuring the SCALE
# paths. The O(n²) exact-verification paths (near_dup_topk_pairs, all-pairs
# cosine) are deliberately NOT here — they exist as sf0.01 recall oracles,
# not as operations anyone would run at 100 TB; benching them would reward
# the wrong plan.
HEADLINE = [
    "window_metrics",
    "risk_label",
    "json_parse_props",
    "kafka_wire_roundtrip",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q12_shipmode_priority",
    "q13_order_count_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q20_excess_stock_suppliers",
    "q21_waiting_suppliers",
    "q22_wealthy_no_orders",
    "top_k_orders",
    "agg_stats_orders",
    "ranking_top3_per_segment",
    "analytic_running_totals",
    "range_frame_trailing_counts",
    "json_path_extraction",
    "left_join_order_counts",
    "rollup_lineitem",
    "cube_order_stats",
    "analytic_distribution_windows",
    "unpivot_returnflag",
    "grouping_sets_revenue",
    "approx_distinct_bounds",
    "approx_quantile_bounds",
    "asof_join_latest_view",
    "interval_join_click_errors",
    "text_stats_per_lang",
    "quality_scores",
    "doc_fingerprints",
    "doc_chunks",
    "train_validation_split",
    "top_bigrams",
    "benchmark_decontamination",
    "dedup_exact_docs",
    "fuzzy_name_matches",
    "fuzzy_name_matches_d2",
    "entity_resolution_clusters_d2",
    "incremental_exact_dedup",
    "minhash_lsh_near_dups",
    "incremental_minhash_near_dups",
    "simhash_near_dups",
    "cosine_topk",
    "cosine_topk_batch",
    "ann_lsh_topk",
    "ivf_ann_topk",
    "embedding_near_dup_pairs",
    "label_centroids",
    "pandas_udf_vector_norms",
    "array_hof_battery",
    "user_trend_partition_local",
    "training_corpus_clean",
    "semantic_dedup_keep",
    "multimodal_feature_extract",
    "multimodal_feature_extract_builtin",
    "multimodal_decode_dims",
    "media_sample_plan",
    "gopher_quality_rules",
    "stratified_sample",
    "sequence_packing",
    "text_redaction",
    "embedding_quantization",
    "corpus_mix_weights",
    "text_normalization",
    "shard_assignment",
    "tfidf_top_terms",
    "ngram_repetition",
    "near_dup_clusters",
    "duplicate_ngram_spans",
    "scd2_user_state",
    "bm25_lexical_topk",
    "hybrid_rrf_search",
    "cross_encoder_rerank",
    "url_normalize_dedup",
    "streaming_url_dedup",
    "cross_doc_duplicate_spans",
    "duplicate_span_texts",
    "streaming_content_dedup",
    "streaming_hot_hosts",
    "streaming_crawl_pipeline",
    "strip_duplicate_spans",
    "span_coverage_profile",
    "streaming_host_sessions",
    "url_frontier_topk",
    "politeness_frontier_schedule",
    "incremental_strip_spans",
    "retention_cohorts",
    "funnel_conversion",
    "timeseries_gap_fill",
    "zscore_anomalies",
    "histogram_totalprice",
    "table_profile_orders",
    "pareto_frontier_orders",
    "kmeans_assign_update",
    "content_defined_chunks",
    "char_entropy_quality",
    "cep_funnel_sequences",
    "event_transition_matrix",
    "ewma_smoothing",
    "pagerank_customer_supplier",
    "sql_surface_revenue_by_nation",
    "sql_surface_topk_window",
    "ngram_overlap_decontamination",
    "shuffle_hash_join_parity",
    "scd2_asof_snapshot",
    "cdc_changelog_materialize",
    "pii_scan_counts",
    "sql_surface_recursive_reachability",
    "python_datasource_transactions",
    "incremental_agg_merge",
    "hll_sketch_merge_bounds",
    "weighted_sample_ares",
    "equi_depth_histogram",
    "null_semantics_battery",
    "decimal_arithmetic_battery",
    "session_funnel_conversion",
    "weekly_revenue_wow",
    "abc_pareto_classification",
    "volume_anomaly_days",
    "referential_integrity_audit",
    "corpus_length_report",
    "keyed_merge_upsert",
    "sentence_stats",
    "jdbc_source_roundtrip",
    "rolling_7d_active_users",
    "triangle_count_cosuppliers",
    "salted_skew_join_revenue",
    "winsorized_totalprice",
    "mmr_diversified_topk",
    "temperature_mix_alpha",
    "fixed_quota_sample",
    "quality_percentile_by_source",
    "jpeg_decode_dims",
    "zorder_layout",
    "bigram_lm_perplexity",
    "mad_robust_outliers",
    "udtf_token_windows",
    "map_hof_battery",
    "expectations_report_orders",
    "point_in_time_feature_join",
    "entity_resolution_clusters",
    "keyset_pagination_orders",
    "count_min_sketch_tokens",
    "bloom_filter_membership",
    "max_concurrent_sessions",
    "allpairs_jaccard_join",
    "greedy_pack_bins",
    "pq_adc_topk",
    "join_key_skew_profile",
    "cms_join_cardinality",
    "xml_source_roundtrip",
    "sql_surface_pipe_syntax",
    "shard_manifest_integrity",
    "k_anonymity_audit",
    "dp_noisy_counts",
    "schema_evolution_merge",
    "mp4_decode_duration",
    "containment_join",
    "metadata_only_stats",
    "jl_random_projection",
    "sql_surface_lateral_topk",
    "theta_sketch_set_ops",
    "sql_surface_listagg",
    "sql_surface_set_ops",
    "sql_surface_group_by_all",
    "domain_frequency_cap",
    "dynamic_partition_overwrite",
    "sql_surface_ordered_set_aggs",
    "leakage_safe_split",
    "bpe_merge_candidates",
    # r15 registrations (store-maintenance write path + recrawl scheduler)
    "fingerprint_store_compaction",
    "span_store_compaction",
    "minhash_store_append",
    "daily_ingest_cycle",
    "recrawl_schedule",
    # r16 registrations (crawl pacing + IVF store maintenance + the
    # stream-static span-store probe)
    "sessionized_politeness",
    "robots_frontier_schedule",
    "streaming_span_store_probe",
    "ivf_store_append",
    "ivf_refreshed_centroids",
    # r17 registrations (store tombstones + crawl change rates + source
    # reputation + the streaming takedown path) — the saturation flip
    "span_store_tombstones",
    "fingerprint_store_tombstones",
    "change_rate_estimates",
    "source_reputation_scores",
    "streaming_takedown_decrements",
    # r19 registration (the executed deregistration swap: replaced
    # salted_two_phase_agg, whose gate moved in-suite)
    "mg_heavy_hitters_topk",
]


# O(n²) exact-verification paths, timed SEPARATELY so the headline total's
# round-over-round trend can't be read as silently shedding its slowest
# entries: these are oracle/verification machinery, not 100 TB operations.
# Expected cost envelope at sf0.1 (r6-r10 history): near_dup_topk_pairs
# 9-14 s, pairwise_cosine_topk 1-2 s. Deliberately OUTSIDE the budget
# gate (an O(n²) oracle has no 100 TB plan to protect), but an excursion
# past ~2x the envelope top should be investigated, not shrugged off —
# it would mean the exact-verification machinery itself regressed.
VERIFICATION_PATHS = [
    "near_dup_topk_pairs",
    "pairwise_cosine_topk",
]


def budget_offenders(
    timings: dict[str, float],
    budget: dict,
    factor: float,
    floor: float = 1.0,
) -> list[tuple[str, float, float, float]]:
    """(name, measured, budgeted, factor_used) for every query over its
    ceiling-factor x recorded budget. The ceiling factor is per-query when
    ``budget["factors"]`` has an entry (queries whose observed run-to-run
    spread across recorded runs is small get a tighter 2x ceiling; a
    genuine 2x plan regression on them must fire, not hide inside a
    blanket 3x), falling back to the global ``factor``; the resolved
    factor is returned so callers report exactly the ceiling that fired.
    Entries budgeted under ``floor`` seconds are exempt — sub-second
    timings jitter multiplicatively with scheduler noise."""
    q = budget.get("queries", {})
    per_query = budget.get("factors", {})
    return [
        (name, t, q[name], float(per_query.get(name, factor)))
        for name, t in timings.items()
        if name in q
        and q[name] >= floor
        and t > float(per_query.get(name, factor)) * q[name]
    ]


def excursion_offenders(
    timings: dict[str, float],
    budget: dict,
    factor: float,
    slack_sec: float = 5.0,
) -> list[tuple[str, float, float, float]]:
    """Absolute-excursion retry trigger: any query whose measured time
    exceeds ``max(factor x recorded, recorded + slack_sec)`` — REGARDLESS
    of the sub-second enforcement floor that exempts it from
    :func:`budget_offenders`. Closes the r15 blind spot: the driver's
    ``shard_manifest_integrity`` run spiked 0.51 s -> 10.54 s (a 26x
    cold-codegen/contention excursion) but was never retried because its
    recorded budget sat under the 1 s floor, so the one-off spike became
    the query's recorded max and would have inflated its calibrated
    ceiling ~20x permanently. The ``recorded + slack_sec`` term keeps a
    sub-second query's multiplicative jitter (2-4x on a 0.3 s timing)
    from triggering pointless retries while guaranteeing any multi-second
    spike gets a second attempt.

    A query ABSENT from ``budget["queries"]`` (a new registration whose
    first driver run predates any calibration) has no recorded baseline,
    so its trigger is the absolute ``unbudgeted_abs`` threshold alone
    (r16 advice: without this, a first-run contention spike became the
    query's first recorded timing — and therefore its calibration seed —
    with neither ceiling nor retry). Its provisional "budget" in the
    returned tuple is 0.0; enforcement still ignores unbudgeted names
    (:func:`budget_offenders` is unchanged), only the retry fires."""
    q = budget.get("queries", {})
    per_query = budget.get("factors", {})
    out = []
    unbudgeted_abs = 2 * slack_sec
    for name, t in timings.items():
        if name not in q:
            if t > unbudgeted_abs:
                out.append((name, t, 0.0, float(factor)))
            continue
        f = float(per_query.get(name, factor))
        if t > max(f * q[name], q[name] + slack_sec):
            out.append((name, t, q[name], f))
    return out


def retry_over_ceiling(
    timings: dict[str, float],
    budget: dict | None,
    factor: float,
    rerun,
) -> tuple[dict[str, list[float]], list[tuple[str, float, float, float]]]:
    """Re-measure every over-ceiling query once via ``rerun(name)`` and
    record the MIN of the two timings (both kept in the returned retries
    map for the bench record); return the offenders that remain over their
    ceiling after the retry — i.e. the slowness REPRODUCED. Mutates
    ``timings`` in place.

    Retry candidates are the union of the enforced-budget offenders and
    the :func:`excursion_offenders` absolute-spike set (floor-exempt
    queries included), so a single contention spike can never stand as a
    query's recorded max without a second attempt. ENFORCEMENT (the
    returned offender list, which drives the non-zero exit) is still
    :func:`budget_offenders` only — a floor-exempt query stays exempt
    from the gate even if its spike reproduces; the reproduced pair is
    visible in the retries map."""
    retries: dict[str, list[float]] = {}
    if not budget:
        return retries, []
    unbudgeted = sorted(set(timings) - set(budget.get("queries", {})))
    if unbudgeted:
        # r16 advice: make first-run (pre-calibration) names visible — their
        # timings seed the next calibration, so a spike here matters even
        # though enforcement skips them.
        print(
            f"  [unbudgeted] {len(unbudgeted)} new registration(s) with no "
            f"recorded budget (first-run timings seed the next calibration; "
            f"absolute-excursion retry still applies): {', '.join(unbudgeted)}",
            file=sys.stderr,
        )
    candidates: dict[str, tuple[str, float, float, float]] = {}
    for off in budget_offenders(timings, budget, factor):
        candidates[off[0]] = off
    for off in excursion_offenders(timings, budget, factor):
        candidates.setdefault(off[0], off)
    for name, first, _b, _f in candidates.values():
        retry = rerun(name)
        if retry is None:
            continue
        retries[name] = [first, retry]
        timings[name] = min(first, retry)
        print(
            f"  [retry] {name}: first {first:.3f}s over ceiling, "
            f"retry {retry:.3f}s -> recorded {timings[name]:.3f}s",
            file=sys.stderr,
        )
    return retries, budget_offenders(timings, budget, factor)


def compact_summary_line(
    timings: dict[str, float],
    total: float,
    sf: float,
    streaming: dict,
    retries: dict[str, list[float]],
    offenders: list[tuple[str, float, float, float]],
    limit: int = 2000,
    host_speed: dict | None = None,
) -> str:
    """One-line JSON bench summary bounded to ``limit`` chars, printed as
    the LAST stdout line of a bench run. The driver persists only a
    2000-char stdout tail per round; the full per-query payload (199+
    entries) exceeds that, so BENCH_r2..r18.json all recorded
    ``parsed: null``. This line carries total / query count / top-10
    slowest / streaming block / retried+offender names, and degrades to a
    headline-only object in the (never-observed) case the top-10 form
    still exceeds the cap — it never emits an over-limit line."""
    top10 = dict(sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))[:10])
    summary = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": {k: round(v, 3) for k, v in top10.items()},
        "streaming": streaming,
        "retried": sorted(retries),
        "offenders": sorted(name for name, _t, _b, _f in offenders),
        "full_record": "BENCH_LOCAL.json",
    }
    if host_speed:
        summary["host_speed"] = host_speed
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) >= limit:
        line = json.dumps(
            {k: summary[k] for k in ("metric", "value", "unit", "sf", "n_queries")},
            separators=(",", ":"),
        )
    return line


def bench_scale_variants(spark, sf_dir: str) -> dict[str, float]:
    """Production-hash twins of oracle-compat queries. The benched
    ``simhash_near_dups`` query hashes tokens with md5 (so DuckDB can
    recompute the signature bit-for-bit); the production scale path is
    xxhash64 (one JVM hash vs md5+conv+substring chains). Timed here as a
    bench-only variant — its pair set is gated against the md5 twin's in
    pytest, not registered as a query (no DuckDB oracle can exist for
    xxhash64)."""
    from flink_stream_processing_spark.operators.dedup import simhash_near_dups
    from flink_stream_processing_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    out: dict[str, float] = {}
    t0 = time.perf_counter()
    simhash_near_dups(docs, token_hash="xxhash64").collect()
    out["simhash_near_dups_xxhash64"] = round(time.perf_counter() - t0, 3)
    return out


def bench_streaming(spark, sf_dir: str) -> dict[str, float]:
    """The reference's only published surface IS streaming metrics
    (MetricsService.java:33-63): drive the flagship aggregate through the
    REAL incremental path — multi-file source, maxFilesPerTrigger=2 (so the
    run spans ~8 micro-batches with stateful window accumulation across
    them), memory sink — and report wall time, input rows/s, and peak state
    bytes from the query's own progress, mapped by ``progress_record``."""
    import shutil
    import tempfile

    from flink_stream_processing_spark.operators.window_metrics import as_transactions
    from flink_stream_processing_spark.streaming.metrics import progress_record
    from flink_stream_processing_spark.streaming.pipeline import (
        events_file_stream,
        streaming_window_metrics,
    )

    src = tempfile.mkdtemp(prefix="bench_stream_src_")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        raw.repartition(16).write.mode("overwrite").parquet(src)

        tx = as_transactions(events_file_stream(spark, src, max_files_per_trigger=2))
        agg = streaming_window_metrics(tx)
        t0 = time.perf_counter()
        q = (
            agg.writeStream.format("memory")
            .queryName("bench_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("streaming bench did not finish within 600 s")
        wall = time.perf_counter() - t0
        records = [progress_record(p) for p in q.recentProgress]
        rows = sum(r["num_input_rows"] for r in records)
        return {
            "streaming_window_metrics_wall_sec": round(wall, 3),
            "streaming_input_rows": rows,
            "streaming_micro_batches": len(records),
            "streaming_rows_per_sec": round(rows / wall, 1) if wall > 0 else 0.0,
            "streaming_state_bytes": max((r["state_bytes"] for r in records), default=0),
        }
    finally:
        shutil.rmtree(src, ignore_errors=True)


def cpu_fingerprint() -> dict:
    """~1.5 s single-core host-speed probe recorded with every bench run:
    md5 throughput (C-speed) + a pure-Python loop (interpreter speed).
    Exists because r18/r19 both measured near-uniform 1.3-1.4x bench
    slowdowns on UNCHANGED plans with an idle machine — the only way to
    tell 'this session's host is slower' from 'the plans regressed' is a
    plan-free speed number stored alongside the timings."""
    import hashlib

    t0 = time.perf_counter()
    h = hashlib.md5()
    block = b"x" * 1_000_000
    for _ in range(100):
        h.update(block)
    md5_mb_s = round(100.0 / (time.perf_counter() - t0), 1)
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i
    loop_m_s = round(5.0 / (time.perf_counter() - t0), 2)
    return {"md5_mb_per_s": md5_mb_s, "pyloop_m_iter_per_s": loop_m_s}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    host_speed = cpu_fingerprint()
    print(f"  [host] {host_speed}", file=sys.stderr)
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + codegen + parquet footer caches, plus Python/Arrow
    # worker spawn (a trivial non-headline mapInPandas) so pandas-path
    # timings measure the operators, not process startup.
    QUERIES["window_metrics"](spark, sf_dir).collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").collect()
    # r19: the Python DataSource V2 path spawns its own planner/reader
    # Python processes, distinct from the UDF worker pool the line above
    # warms — their first use cost ~3 s landing entirely on whichever
    # datasource query ran first (r18 retry pair 12.6->2.0 s; 4.4 s at
    # sf0.01). A 2-row throwaway read is the same process-startup warmup,
    # not a result precompute (the benched query reads different options).
    try:
        from flink_stream_processing_spark.sources.pydatasource import register

        register(spark)
        spark.read.format("txn_gen").option("rows", "2").option(
            "partitions", "1"
        ).load().collect()
    except Exception as e:
        print(f"  warmup skip pydatasource: {e}", file=sys.stderr)
    # r19: push the JVM past the C2-JIT cliff before timing starts. The
    # single light query above was not enough — measured repeatedly (r18
    # retry pairs, the r19 rotation harness): identical plans run 3-6x
    # slower inside the first ~minute of a session because the hot
    # engine paths (unsafe row ops, sorter, hash agg/join, exchange
    # serde) are still interpreted/C1, and the bench's EARLY queries
    # soaked that up as fake regressions (q5 5.7s vs 1.2s warm;
    # kafka_wire 5.2 vs 2.0). These synthetic kernels exercise exactly
    # those paths on throwaway data — same timing methodology, the
    # warmup is just finally doing what its comment always promised.
    from pyspark.sql import functions as _wf

    _a = spark.range(0, 3_000_000).select(
        (_wf.col("id") % 100_000).alias("k"), _wf.col("id").alias("v")
    )
    _b = spark.range(0, 1_000_000).select(
        (_wf.col("id") % 100_000).alias("k"), (_wf.col("id") * 2).alias("w")
    )
    _a.join(_b, "k").groupBy("k").agg(_wf.sum("v"), _wf.max("w")).write.format(
        "noop"
    ).mode("overwrite").save()
    from pyspark.sql.window import Window as _W

    spark.range(0, 1_000_000).select(
        (_wf.col("id") % 1000).alias("k"),
        _wf.md5(_wf.col("id").cast("string")).alias("h"),
    ).withColumn(
        "rn", _wf.row_number().over(_W.partitionBy("k").orderBy("h"))
    ).write.format("noop").mode("overwrite").save()
    # Warm the OS page cache for every big table the headline set scans:
    # the r3 driver run showed the first cold scan of sf0.1
    # documents.parquet costing ~+1.7 s, landing on whichever documents
    # query happened to run first and reading as a 3-5x "regression" of
    # unchanged code (doc_chunks/doc_fingerprints/quality_scores in
    # BENCH_r03 — re-measured in-session at r2 levels). A full-column
    # noop-sink pass decodes each table once so per-query timings measure
    # the plan, not the disk state the harness happened to start with.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        p = f"{sf_dir}/{t}.parquet"
        try:
            spark.read.parquet(p).write.mode("overwrite").format("noop").save()
        except Exception as e:  # a missing/odd table must not kill the bench
            print(f"  warmup skip {t}: {e}", file=sys.stderr)

    def persistent_rdd_ids() -> set[int] | None:
        try:
            ids = set()
            it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
            while it.hasNext():
                ids.add(int(it.next()._1()))
            return ids
        except Exception:
            # None (not an empty set) so release_checkpoints skips: an
            # empty snapshot would read as "everything is new" and blanket-
            # unpersist — the exact failure mode the scoping prevents.
            return None

    def release_checkpoints(before: set[int] | None) -> None:
        """Unpersist RDD blocks left by eager localCheckpoint operators
        (iterative graph loops, set-similarity staging, sketch
        histograms). Those blocks are per-QUERY state; without this they
        accumulate in the single-JVM block manager across the whole
        headline session, shrinking execution memory and degrading late
        queries (measured: unrelated queries 3-10x slower near the end of
        a run before this cleanup). Scoped to the ids CREATED by the query
        just timed (diff vs the pre-query snapshot): localCheckpointed
        RDDs have truncated lineage, so blindly unpersisting everything
        would turn any DataFrame a future query held across iterations
        into an unrecoverable 'checkpoint block not found'."""
        if before is None:  # snapshot failed: release nothing this round
            return
        try:
            it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
            while it.hasNext():
                e = it.next()
                if int(e._1()) not in before:
                    # BLOCKING unpersist: this runs outside the timed
                    # region, so waiting costs nothing measured, and it
                    # guarantees the NEXT query's timing can't overlap an
                    # in-flight async block removal. (r8 probe: localCheck-
                    # point blocks DO appear in getPersistentRDDs and
                    # unpersist frees their memory — the r7 verdict's
                    # "leaked d2 checkpoint blocks" hypothesis for the
                    # map_hof_battery 12.4 s driver outlier is disproven;
                    # see tests/test_bench_release.py.)
                    e._2().unpersist(True)
        except Exception as e:  # cleanup must never kill the bench
            print(f"  checkpoint release skipped: {e}", file=sys.stderr)

    def timed_run(name: str) -> float | None:
        fn = QUERIES.get(name)
        if fn is None:
            return None
        pre = persistent_rdd_ids()
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        t = round(time.perf_counter() - t0, 3)
        release_checkpoints(pre)
        return t

    timings: dict[str, float] = {}
    for name in HEADLINE:
        t = timed_run(name)
        if t is None:
            continue
        timings[name] = t
        print(f"  {name}: {t:.3f}s", file=sys.stderr)

    verif: dict[str, float] = {}
    for name in VERIFICATION_PATHS:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        verif[name] = round(time.perf_counter() - t0, 3)
        print(f"  [verify-path] {name}: {verif[name]:.3f}s", file=sys.stderr)

    variants = bench_scale_variants(spark, sf_dir)
    for k, v in variants.items():
        print(f"  [scale-variant] {k}: {v:.3f}s", file=sys.stderr)

    streaming = bench_streaming(spark, sf_dir)
    for k, v in streaming.items():
        print(f"  [streaming] {k}: {v}", file=sys.stderr)

    # Per-query regression gate, with RETRY-ON-TRIP. Three straight driver
    # rounds produced one-off 2.4-4x excursions on UNCHANGED queries
    # (map_hof_battery r7, semantic_dedup_keep / media_sample_plan r8 —
    # every one fast again in the builder's same-commit run), so a
    # single-shot per-query gate at 1.3-2x headroom cannot distinguish a
    # plan regression from aged-JVM/scheduler noise. The discriminator that
    # can: re-run the offending query once, in-session, and judge the MIN
    # of the two timings — a genuine plan regression reproduces on the
    # retry; a noise excursion does not. The recorded timing becomes the
    # min (the better estimator of plan cost under one-sided noise) and
    # BOTH measurements are kept in the payload ("retries") so a retried
    # query is visible in the record, never silently smoothed over.
    budget = None
    factor = 3.0
    if os.environ.get("SPARK_GRAFT_BENCH_ENFORCE", "1") != "0":
        budget_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_BUDGET.json"
        )
        try:
            with open(budget_path) as f:
                budget = json.load(f)
        except (OSError, ValueError):
            budget = None
        if budget and abs(float(budget.get("sf", -1)) - sf) >= 1e-9:
            budget = None  # budgets are sf-specific
        if budget:
            factor = float(
                os.environ.get("SPARK_GRAFT_BENCH_FACTOR", budget.get("factor", 3.0))
            )
            if "SPARK_GRAFT_BENCH_FACTOR" in os.environ:
                # explicit override applies uniformly, per-query tightening off
                budget = {**budget, "factors": {}}

    retries, offenders = retry_over_ceiling(timings, budget, factor, timed_run)

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "verification_paths_sec": verif,
        "scale_variants_sec": variants,
        "streaming": streaming,
        "sf": sf,
        "host_speed": host_speed,
    }
    if retries:
        record["retries"] = retries
    payload = json.dumps(record)
    print(payload)
    # The driver records only a 2000-char stdout TAIL; the full payload
    # above (199+ queries) exceeds it, which is why BENCH_r2..r18.json all
    # carry `parsed: null` (r18 verdict ask #2). Emit a compact summary as
    # the LAST stdout line — total/count/top-10 slowest/streaming/retry+
    # offender names — guaranteed under 2000 chars, so the driver's tail
    # parse lands on a complete JSON object. The full record remains in
    # the payload line and BENCH_LOCAL.json.
    summary_line = compact_summary_line(
        timings, total, sf, streaming, retries, offenders, host_speed=host_speed
    )
    # The driver keeps only the tail of the run log, which has amputated
    # early per-query timings from the recorded JSON line before (r3); the
    # file copy is the complete record regardless of log truncation.
    # BENCH_LOCAL.json is the committed sf0.1 headline record; a smoke run
    # at another SF must not clobber it (it has, twice) — those runs print
    # their JSON line but skip the record file.
    if abs(sf - 0.1) < 1e-9:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
        try:
            with open(out_path, "w") as f:
                f.write(payload + "\n")
        except OSError as e:
            print(f"  could not write {out_path}: {e}", file=sys.stderr)
    else:
        print(f"  sf={sf}: BENCH_LOCAL.json (sf0.1 record) left untouched", file=sys.stderr)
    # LAST stdout line — the driver's tail-parse target (see above).
    print(summary_line)
    spark.stop()

    # A query still over its ceiling AFTER the retry reproduced its slow
    # timing — that is the plan-regression signal the gate exists for. The
    # JSON line and BENCH_LOCAL.json are already emitted above, so the
    # non-zero exit never loses the measurement.
    if offenders:
        for name, t, b, f_used in offenders:
            print(
                f"  BUDGET EXCEEDED {name}: {t:.3f}s > {f_used}x budget {b:.3f}s"
                " (reproduced on retry)",
                file=sys.stderr,
            )
        sys.exit(1)


if __name__ == "__main__":
    main()
