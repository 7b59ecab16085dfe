"""The ``corpus_dedup`` workload: the batch LLM-data pipeline.

Seeded documents with planted exact-duplicate groups and planted
near-duplicate edits go through ``exact_dedup``, then over the kept
representatives ``shingle_array`` -> ``minhash_signatures`` ->
``lsh_candidate_pairs`` -> ``verify_jaccard_pairs`` and
``connected_components``. One operation is one full run of the pipeline,
from the parquet input to the collected cluster labels; the runs repeat
for ``--seconds`` (at least three) after one untimed pass.
"""

from __future__ import annotations

import statistics
import sys
import time

from pyspark.sql import functions as F

from flink_stream_processing_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_array,
    verify_jaccard_pairs,
)

import checks
import gen
from harness import Run, jvm_pid, phase, stop_session, timed_setup
from spans import RssSampler, group_counts, pct

THRESHOLD = 0.5
RECALL_FLOOR = 0.95
MIN_RUNS = 3


def pipeline(df, stage=None):
    """The dedup pipeline. ``stage(name, build)`` wraps each call; the
    traced run uses it to time each stage, forced, under its own job
    group (``connected_components`` already runs jobs when called)."""
    stage = stage or (lambda name, build: build())
    groups = stage("exact_dedup", lambda: exact_dedup(df, ["text"], "doc_id"))
    reps = groups.select(F.col("keep_id").alias("doc_id"), "text")
    sh = stage("shingle", lambda: shingle_array(reps))
    sigs = stage("minhash", lambda: minhash_signatures(sh))
    cand = stage("lsh", lambda: lsh_candidate_pairs(sigs))
    pairs = stage("verify", lambda: verify_jaccard_pairs(cand, sh, threshold=THRESHOLD))
    labels = stage("cc", lambda: connected_components(pairs))
    return groups, cand, pairs, labels


def check(data: gen.CorpusData, groups, pairs, labels) -> list[str]:
    """What is wrong with a run's output: planted exact groups must be
    found whole, every verified pair must be above the threshold with the
    right Jaccard, recall of the planted near pairs must reach the floor,
    and the labels must equal the components of the verified pairs."""
    problems = []
    got_groups = {int(r["keep_id"]): int(r["dup_count"]) for r in groups.filter("dup_count > 1").collect()}
    want_groups = {min(g): len(g) for g in data.exact_groups}
    if got_groups != want_groups:
        problems.append("exact duplicate groups differ")

    text = dict(zip(data.docs["doc_id"].tolist(), data.docs["text"].tolist()))
    got_pairs = [(int(r["doc_a"]), int(r["doc_b"]), float(r["jaccard"])) for r in pairs.collect()]
    bad = 0
    for a, b, j in got_pairs:
        true_j = checks.jaccard(checks.shingles(text[a]), checks.shingles(text[b]))
        bad += int(true_j < THRESHOLD or abs(true_j - j) > 1e-6)
    if bad:
        problems.append(f"{bad} verified pairs are below the Jaccard threshold or misreported")
    found = {(a, b) for a, b, _ in got_pairs}
    recall = sum((min(p), max(p)) in found for p in data.near_pairs) / len(data.near_pairs)
    if recall < RECALL_FLOOR:
        problems.append(f"near-duplicate recall {recall:.3f} below {RECALL_FLOOR}")

    want_labels = checks.components([(a, b) for a, b, _ in got_pairs])
    got_labels = {int(r["node"]): int(r["lbl"]) for r in labels}
    if got_labels != want_labels:
        problems.append("cluster labels differ from the components of the pairs")
    return problems


def run_corpus(run: Run) -> None:
    data = gen.generate_corpus(run.seed)
    warm = gen.generate_corpus(run.seed + 1, n_base=300, exact_groups=10, near_bases=10)
    path, warm_path = run.path("corpus.parquet"), run.path("warm.parquet")
    data.docs.to_parquet(path, index=False)
    warm.docs.to_parquet(warm_path, index=False)
    n_docs = len(data.docs)

    with phase("set-up"):
        # The warm-up runs the whole pipeline once over a small corpus.
        spark = timed_setup(run, lambda s: pipeline(s.read.parquet(warm_path))[3].collect())
    try:
        with phase("full-size warm-up"):
            # One untimed pass at full size, so the timed runs start warm.
            pipeline(spark.read.parquet(path))[3].collect()
        times, results = [], []
        with RssSampler(jvm_pid(spark)) as rss:
            deadline = time.perf_counter() + run.seconds
            while len(times) < MIN_RUNS or time.perf_counter() < deadline:
                t0 = time.perf_counter()
                groups, _, pairs, labels = pipeline(spark.read.parquet(path))
                rows = labels.collect()
                times.append(time.perf_counter() - t0)
                print(f"perfbench: corpus run {times[-1]:.2f} s", file=sys.stderr)
                results.append(rows)
        # One operation is one run. The first run's output is checked in
        # full; a later run fails when its labels differ from the first's,
        # and every run fails when the first's output is wrong.
        run.attempted += len(times)
        problems = check(data, groups, pairs, results[0])
        first = sorted(map(tuple, results[0]))
        differ = sum(sorted(map(tuple, r)) != first for r in results[1:])
        run.fail(len(times) if problems else differ, "; ".join(problems) or f"{differ} runs disagree with the first")
        ms = [t * 1000.0 for t in times]
        run.metric("latency_p50_ms", pct(ms, 50), "ms")
        run.metric("latency_p99_ms", pct(ms, 99), "ms")
        run.metric("rows_per_s", n_docs / statistics.median(times), "1/s")
        run.metric("peak_rss_mb", rss.peak_mb, "MB")
        if run.trace:
            traced_pass(spark, run, path, statistics.median(times))
    finally:
        stop_session(spark)


def traced_pass(spark, run: Run, path: str, untraced_s: float) -> None:
    """Each stage forced (local checkpoint) and timed under its own job
    group, so jobs and tasks are counted per stage."""
    tr = run.tracer
    sc = spark.sparkContext

    def force(name, build):
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        with tr.span(f"operators.{name}", "operators"):
            out = build().localCheckpoint(eager=True)
        run.metric(f"operators.{name}_s", time.perf_counter() - t0, "s")
        return out

    t0 = time.perf_counter()
    with tr.span("operators.pipeline", "operators"):
        _, cand, pairs, _ = pipeline(spark.read.parquet(path), force)
    total = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    n_cand, n_pairs = cand.count(), pairs.count()
    run.metric("operators.lsh_candidates", n_cand, "pairs")
    run.metric("operators.lsh_precision", n_pairs / n_cand if n_cand else 0.0, "ratio")
    for name in ("exact_dedup", "shingle", "minhash", "lsh", "verify", "cc"):
        jobs, tasks = group_counts(spark, name)
        run.metric(f"spark.jobs.{name}", jobs, "count")
        run.metric(f"spark.tasks.{name}", tasks, "count")
    run.metric("operators.cc_jobs", group_counts(spark, "cc")[0], "count")
    run.metric("trace.overhead_ms", (total - untraced_s) * 1000.0, "ms")
