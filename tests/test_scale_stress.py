"""Planted-pair recall stress at 50k docs / 20k vectors — one decade past
the sf0.1 gates in test_recall_scale.py, approximating the "sf1" run the
round-2 verdict asked for without an sf1 fixture.

Brute-force exact all-pairs is O(n^2) and infeasible at this size, so
ground truth is PLANTED: each sf0.1 row is replicated 10x with
deterministic JVM-side perturbations — replica 1 is a light perturbation
of replica 0 (a known near-dup pair), replicas 2-9 are token-salted so
their shingle sets are disjoint from everything else (pure bulk). Exact
similarity is then computed ONLY for the 5 000 planted pairs (a linear
keyed join, not all-pairs), and the approximate operators must recover
every planted pair that is truly past the operating point. This is the
standard planted-recall harness for LSH at scales where brute force dies.

Opt-in (several minutes of wall time): run with
    SPARK_GRAFT_SCALE_STRESS=1 python -m pytest tests/test_scale_stress.py -s
Timings print to stderr; recorded in README.md's scale notes.
"""

from __future__ import annotations

import os
import sys
import time

import pytest
from pyspark.sql import DataFrame, functions as F

SF_DIR = "/root/testdata/sf0.1"
# 10 replicas: 5 000 docs -> 50 000, 2 000 vectors -> 20 000. Override to
# measure the scaling slope (e.g. 20 -> 100k docs; timings should grow
# ~linearly with corpus size if the banding really is O(n*bands)).
REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_STRESS") != "1",
    reason="opt-in scale stress (SPARK_GRAFT_SCALE_STRESS=1); several minutes",
)


def _timed(label: str, fn):
    t0 = time.perf_counter()
    out = fn()
    print(f"\n  [{REPLICAS * 5}k] {label}: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    return out


def synth_docs_50k(spark, replicas: int | None = None) -> DataFrame:
    """5 000 sf0.1 docs x ``replicas`` (default $SPARK_GRAFT_SCALE_REPLICAS,
    10), all perturbation JVM-side.

    replica 0: original text; doc_id = base*10.
    replica 1: ~8% deterministic word dropout -> the planted near-dup of
               replica 0 (true Jaccard verified exactly per pair below).
    replicas 2-9: every word salted with the replica number -> shingle
               sets disjoint from all other replicas (pure scale bulk;
               they can only near-dup *within* a replica, mirroring the
               base corpus's own near-dup structure).
    """
    if replicas is None:
        replicas = REPLICAS
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    reps = spark.range(replicas).select(F.col("id").cast("int").alias("replica"))
    words = F.split(F.col("text"), " ")
    dropped = F.filter(
        words,
        lambda w, i: F.pmod(
            F.xxhash64(F.col("doc_id"), F.col("replica"), i), F.lit(100)
        )
        >= 8,
    )
    salted = F.transform(
        words, lambda w: F.concat(w, F.lit("_"), F.col("replica").cast("string"))
    )
    return (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") * replicas + F.col("replica")).alias("doc_id"),
            F.when(F.col("replica") == 0, F.col("text"))
            .when(F.col("replica") == 1, F.array_join(dropped, " "))
            .otherwise(F.array_join(salted, " "))
            .alias("text"),
        )
        .repartition(32, "doc_id")
    )


def planted_pairs(corpus: DataFrame) -> DataFrame:
    """(doc_a, doc_b) = (base*10, base*10+1) for every base doc."""
    a = corpus.filter(F.col("doc_id") % REPLICAS == 0).select(
        (F.col("doc_id") / REPLICAS).cast("long").alias("base"),
        F.col("doc_id").alias("doc_a"),
    )
    b = corpus.filter(F.col("doc_id") % REPLICAS == 1).select(
        (F.col("doc_id") / REPLICAS).cast("long").alias("base"),
        F.col("doc_id").alias("doc_b"),
    )
    return a.join(b, "base").select("doc_a", "doc_b")


def exact_jaccard_for_planted(corpus: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard for ONLY the planted pairs: one keyed join on
    (base, shingle) + a count — linear in corpus size, never all-pairs."""
    from flink_stream_processing_spark.operators.dedup import word_shingles

    sh = word_shingles(corpus)  # (doc_id, shingle), distinct
    sh = sh.withColumn("base", (F.col("doc_id") / REPLICAS).cast("long")).withColumn(
        "replica", F.pmod(F.col("doc_id"), REPLICAS)
    )
    a = sh.filter(F.col("replica") == 0).select("base", "shingle")
    b = sh.filter(F.col("replica") == 1).select("base", "shingle")
    sizes = (
        sh.filter(F.col("replica") <= 1)
        .groupBy("base", "replica")
        .agg(F.count("*").alias("n"))
        .groupBy("base")
        .pivot("replica", [0, 1])
        .sum("n")
        .select("base", F.col("0").alias("na"), F.col("1").alias("nb"))
    )
    inter = a.join(b, ["base", "shingle"]).groupBy("base").agg(
        F.count("*").alias("inter")
    )
    return (
        sizes.join(inter, "base", "left")
        .na.fill({"inter": 0})
        .select(
            (F.col("base") * REPLICAS).alias("doc_a"),
            (F.col("base") * REPLICAS + 1).alias("doc_b"),
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def test_minhash_planted_recall_50k(spark):
    from flink_stream_processing_spark.operators.dedup import minhash_near_dups

    corpus = synth_docs_50k(spark)
    corpus.cache()
    n = corpus.count()
    assert n == REPLICAS * 5_000

    truth = {
        (r.doc_a, r.doc_b)
        for r in _timed(
            "exact jaccard on planted pairs",
            lambda: exact_jaccard_for_planted(corpus)
            .filter(F.col("jaccard") >= 0.5)
            .collect(),
        )
    }
    assert len(truth) > 1000, f"only {len(truth)} planted pairs past 0.5 — fixture off"

    found = {
        (r.doc_a, r.doc_b)
        for r in _timed(
            f"minhash_near_dups @{REPLICAS * 5}k",
            lambda: minhash_near_dups(corpus, threshold=0.5).collect(),
        )
    }
    missed = truth - found
    recall = 1 - len(missed) / len(truth)
    print(f"\n  [{REPLICAS * 5}k] minhash planted recall: {recall:.4f} "
          f"({len(truth) - len(missed)}/{len(truth)})", file=sys.stderr)
    assert recall >= 0.97, f"missed {len(missed)}/{len(truth)} planted pairs"
    corpus.unpersist()


def test_simhash_planted_recall_50k(spark):
    from flink_stream_processing_spark.operators.dedup import simhash, simhash_near_dups

    corpus = synth_docs_50k(spark)
    corpus.cache()
    sig = simhash(corpus)

    # Exact Hamming for planted pairs only: keyed join on base, bit_count(xor).
    s = sig.withColumn("base", (F.col("doc_id") / REPLICAS).cast("long")).withColumn(
        "replica", F.pmod(F.col("doc_id"), REPLICAS)
    )
    ham = (
        s.filter(F.col("replica") == 0)
        .select("base", F.col("simhash").alias("sig_a"))
        .join(
            s.filter(F.col("replica") == 1).select(
                "base", F.col("simhash").alias("sig_b")
            ),
            "base",
        )
        .select(
            (F.col("base") * REPLICAS).alias("doc_a"),
            (F.col("base") * REPLICAS + 1).alias("doc_b"),
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
    )
    truth = {
        (r.doc_a, r.doc_b)
        for r in _timed(
            "exact hamming on planted pairs",
            lambda: ham.filter(F.col("hamming") <= 3).collect(),
        )
    }
    assert truth, "no planted pair within Hamming 3 — fixture off"

    found = {
        (r.doc_a, r.doc_b)
        for r in _timed(
            f"simhash_near_dups @{REPLICAS * 5}k", lambda: simhash_near_dups(corpus).collect()
        )
    }
    missed = truth - found
    # Pigeonhole bound (4 segments, max_hamming 3) makes recall exactly 1.
    assert not missed, f"simhash missed {len(missed)}/{len(truth)} planted pairs"
    corpus.unpersist()


def test_embedding_planted_recall_20k(spark):
    from flink_stream_processing_spark.operators.similarity import (
        cosine,
        embedding_near_dup_pairs,
    )

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    reps = spark.range(REPLICAS).select(F.col("id").cast("int").alias("replica"))
    # Deterministic pseudo-noise in [-0.5, 0.5) per (vec_id, replica, dim).
    noise = lambda scale: F.transform(  # noqa: E731
        F.col("embedding"),
        lambda x, i: x
        + (
            F.pmod(F.xxhash64(F.col("vec_id"), F.col("replica"), i), F.lit(1000))
            / 1000.0
            - 0.5
        ).cast("float")
        * scale,
    )
    vecs = (
        base.crossJoin(reps)
        .select(
            (F.col("vec_id") * REPLICAS + F.col("replica")).alias("vec_id"),
            F.when(F.col("replica") == 0, F.col("embedding"))
            .when(F.col("replica") == 1, noise(F.lit(0.02)))
            .otherwise(noise(F.lit(4.0)))
            .alias("embedding"),
        )
        .repartition(32, "vec_id")
    )
    vecs.cache()
    assert vecs.count() == REPLICAS * 2_000

    a = vecs.filter(F.col("vec_id") % REPLICAS == 0).select(
        (F.col("vec_id") / REPLICAS).cast("long").alias("base"),
        F.col("embedding").alias("va"),
    )
    b = vecs.filter(F.col("vec_id") % REPLICAS == 1).select(
        (F.col("vec_id") / REPLICAS).cast("long").alias("base"),
        F.col("embedding").alias("vb"),
    )
    planted = a.join(b, "base").select(
        (F.col("base") * REPLICAS).alias("vec_a"),
        (F.col("base") * REPLICAS + 1).alias("vec_b"),
        cosine("va", "vb").alias("cos"),
    )
    truth = {
        (r.vec_a, r.vec_b)
        for r in _timed(
            "exact cosine on planted pairs",
            lambda: planted.filter(F.col("cos") >= 0.99).collect(),
        )
    }
    assert len(truth) > 1500, f"only {len(truth)} planted pairs past 0.99 — fixture off"

    # Keep bucket density CONSTANT as the corpus grows: each doubling of
    # the corpus adds one hyperplane per table (expected bucket occupancy
    # halves), so per-bucket GEMM work stays flat — the "raise planes,
    # don't salt" rule from the operator docstring, enforced here rather
    # than assumed. Measured at 40k: p=2 25.8s / p=3 10.7s / p=4 5.5s,
    # planted recall 1.0 at every point (cos>=0.99 pairs sit deep inside
    # the collision zone even at p=4).
    planes = 2 + max(0, (REPLICAS // 10).bit_length() - 1)
    found = {
        (r.id_a, r.id_b)
        for r in _timed(
            f"embedding_near_dup_pairs @{REPLICAS * 2}k (p={planes})",
            lambda: embedding_near_dup_pairs(
                vecs, threshold=0.9, planes_per_table=planes
            ).collect(),
        )
    }
    missed = truth - found
    recall = 1 - len(missed) / len(truth)
    print(f"\n  [{REPLICAS * 2}k] embedding planted recall: {recall:.4f} "
          f"({len(truth) - len(missed)}/{len(truth)})", file=sys.stderr)
    # cos>=0.99 pairs sit deep inside every table's collision zone; the
    # 12-table OR-construction miss probability is ~1e-18 there.
    assert recall >= 0.999, f"missed {len(missed)}/{len(truth)} planted pairs"
    vecs.unpersist()


def _run_metrics_stream(spark, src: str, qname: str, provider: str | None):
    """bench.py::bench_streaming shape: file stream, maxFilesPerTrigger=4,
    memory sink, availableNow — returns wall, rows, batches, state bytes
    and a Spark-side checksum of the full result (no driver materialization
    beyond one row)."""
    import json as _json

    from flink_stream_processing_spark.operators.window_metrics import (
        as_transactions,
    )
    from flink_stream_processing_spark.streaming.pipeline import (
        events_file_stream,
        streaming_window_metrics,
    )

    old_prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    try:
        if provider:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
            spark.conf.set(
                "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
                "true",
            )
        tx = as_transactions(events_file_stream(spark, src, max_files_per_trigger=4))
        agg = streaming_window_metrics(tx)
        t0 = time.perf_counter()
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(1200), "stream did not finish in 20 min"
        wall = time.perf_counter() - t0
        rows = batches = state_bytes = 0
        for p in q.recentProgress:
            prog = p if isinstance(p, dict) else _json.loads(p.json)
            rows += int(prog.get("numInputRows") or 0)
            batches += 1
            for so in prog.get("stateOperators") or []:
                state_bytes = max(state_bytes, int(so.get("memoryUsedBytes") or 0))
        res = spark.table(qname)
        # bit_xor: order-insensitive and overflow-free (summing full-range
        # xxhash64 longs trips ANSI overflow)
        checksum = res.agg(
            F.bit_xor(
                F.xxhash64(F.concat_ws("|", *[F.col(c).cast("string") for c in res.columns]))
            ).alias("cs")
        ).collect()[0]["cs"]
        n_windows = res.count()
        return {
            "wall_sec": round(wall, 2),
            "rows": rows,
            "batches": batches,
            "rows_per_sec": round(rows / wall, 1),
            "state_bytes": state_bytes,
            "windows": n_windows,
            "checksum": checksum,
        }
    finally:
        if provider:
            if old_prov is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", old_prov
                )
            spark.conf.unset(
                "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
            )


def planted_span_corpus(spark) -> tuple[DataFrame, int, int]:
    """The shared planted-span corpus (r11; extracted r13 — three rungs
    build it identically): each base doc gets a per-base UNIQUE 30-token
    passage appended to replica 0 (original text) and replica 1
    (token-salted text — shingle-disjoint from replica 0 except the
    passage), so exactly one cross-document span of exactly 30 tokens is
    planted per base doc and its flanks can never extend (original vs
    salted prefixes differ token-by-token). Replicas 2+ are salted bulk
    with no passage. Per-base passages keep every passage-window
    multiplicity at 2, far under the hot-bucket guard (a single global
    passage would trip it by design). Returns (tokenized frame, n_base,
    replicas)."""
    from flink_stream_processing_spark.operators.text import TOKEN_SPLIT_RE

    replicas = REPLICAS
    # base_id is renamed EXPLICITLY: the output projection aliases the
    # composite id back to "doc_id", and a passage expression written
    # against F.col("doc_id") in the same select resolves against that
    # new alias inside the HOF lambda — silently planting per-OUTPUT-doc
    # (i.e. disjoint) passages. Caught live; keep the rename.
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").alias("base_id"), "text"
    )
    n_base = base.count()
    reps = spark.range(replicas).select(F.col("id").cast("int").alias("replica"))
    words = F.split(F.col("text"), " ")
    salted = F.transform(
        words, lambda w: F.concat(w, F.lit("_"), F.col("replica").cast("string"))
    )
    passage = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda i: F.concat(
                F.lit("p"),
                F.col("base_id").cast("string"),
                F.lit("_"),
                i.cast("string"),
            ),
        ),
    )
    corpus = base.crossJoin(reps).select(
        (F.col("base_id") * replicas + F.col("replica")).alias("doc_id"),
        F.when(F.col("replica") == 0, F.concat(F.col("text"), F.lit(" "), passage))
        .when(
            F.col("replica") == 1,
            F.concat(F.array_join(salted, " "), F.lit(" "), passage),
        )
        .otherwise(F.array_join(salted, " "))
        .alias("text"),
    ).repartition(32, "doc_id")

    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT_RE)
    tokenized = corpus.select("doc_id", toks.alias("toks")).withColumn(
        "n_tokens", F.size("toks").cast("long")
    )
    return tokenized, n_base, replicas


def test_cross_doc_planted_spans_50k(spark):
    """Planted-recall rung for the span operator (r11): the operator must
    recover EVERY planted span at exactly len 30 — recall 1.0 by
    construction, length exactness by the diagonal-island merge — at 10x
    the driver-gate corpus. Natural spans between replica-0 originals
    (and their salted echoes within a replica) are expected extra rows
    and not asserted."""
    from flink_stream_processing_spark.queries_impl.web_dedup_stream import (
        maximal_shared_spans,
    )

    tokenized, n_base, replicas = planted_span_corpus(spark)
    rows = _timed(
        "cross_doc_spans planted", lambda: maximal_shared_spans(tokenized).collect()
    )
    planted = {
        (r["doc_a"], r["doc_b"]): r["len_tokens"]
        for r in rows
        if r["doc_b"] == r["doc_a"] + 1 and r["doc_a"] % replicas == 0
    }
    missing = [
        b for b in range(n_base) if (b * replicas, b * replicas + 1) not in planted
    ]
    assert not missing, f"{len(missing)} planted spans missed: {missing[:5]}"
    wrong_len = {k: v for k, v in planted.items() if v != 30}
    assert not wrong_len, f"planted spans with wrong length: {list(wrong_len.items())[:5]}"


def test_strip_planted_spans_50k(spark):
    """Scale rung for strip_spans (r12): on the same planted-span corpus,
    stripping must remove EVERY planted passage from its doc_b (the
    replica-1 doc, higher id) while replica 0 keeps its copy — i.e. after
    the strip, no planted passage token survives in any affected
    replica-1 doc, and removed_tokens >= 30 for each. Timing records the
    excision's cost on top of the span plan at 10x the driver-gate
    corpus."""
    from flink_stream_processing_spark.queries_impl.web_dedup_stream import (
        maximal_shared_spans,
        strip_spans,
    )

    tokenized, n_base, replicas = planted_span_corpus(spark)
    spans = maximal_shared_spans(tokenized)
    stripped = _timed(
        "strip_spans planted",
        lambda: {r["doc_id"]: r for r in strip_spans(tokenized, spans).collect()},
    )
    missing, survivors, under = [], [], []
    for b in range(n_base):
        db = b * replicas + 1  # replica 1 = doc_b of the planted pair
        row = stripped.get(db)
        if row is None:
            missing.append(db)
            continue
        if f"p{b}_0" in row["clean_text"]:
            survivors.append(db)
        if row["removed_tokens"] < 30:
            under.append(db)
    assert not missing, f"{len(missing)} doc_b docs never stripped: {missing[:5]}"
    assert not survivors, f"passage survived the strip in: {survivors[:5]}"
    assert not under, f"removed_tokens < 30 in: {under[:5]}"
    # replica 0 keeps its copy unless a NATURAL span also covers it as a
    # doc_b; planted passages alone never flag replica 0 (doc_a side).
    kept_copy = [
        b for b in range(n_base)
        if b * replicas not in stripped
        or f"p{b}_0" in stripped[b * replicas]["clean_text"]
    ]
    assert len(kept_copy) == n_base, "some replica-0 doc lost its kept copy"


def test_incremental_strip_planted_50k(spark):
    """Scale rung for the r13 incremental span strip: replica 1 is the
    incoming batch (5k docs), everything else is the corpus the store was
    built from (45k docs at the default replica count). Every batch doc
    carries exactly one planted 30-token passage that also lives in the
    corpus (replica 0), and its remaining text is salt-1 — disjoint from
    every corpus replica's salt — so the incremental strip must remove
    EXACTLY the 30 passage tokens from EVERY batch doc: recall 1.0 and
    excision exactness in one assert, through the store-probe path (the
    corpus contributes only its checkpointed hash set; its text is
    consumed once, building the store)."""
    from flink_stream_processing_spark.queries_impl.web_dedup_stream import (
        incremental_strip_new_docs,
        span_hash_store,
    )

    tokenized, n_base, replicas = planted_span_corpus(spark)
    corpus = tokenized.filter(F.col("doc_id") % replicas != 1)
    batch = tokenized.filter(F.col("doc_id") % replicas == 1)
    store = _timed(
        "incremental_strip store build",
        lambda: span_hash_store(corpus).localCheckpoint(eager=True),
    )
    out = _timed(
        "incremental_strip probe+excise",
        lambda: {
            r["doc_id"]: r
            for r in incremental_strip_new_docs(batch, store).collect()
        },
    )
    missing, wrong, survivors = [], [], []
    for b in range(n_base):
        db = b * replicas + 1
        row = out.get(db)
        if row is None:
            missing.append(db)
            continue
        if row["removed_tokens"] != 30:
            wrong.append((db, row["removed_tokens"]))
        if f"p{b}_0" in row["clean_text"]:
            survivors.append(db)
    assert not missing, f"{len(missing)} batch docs never stripped: {missing[:5]}"
    assert not wrong, f"removed_tokens != 30 (excision not exact): {wrong[:5]}"
    assert not survivors, f"passage survived in: {survivors[:5]}"
    assert set(out) == {b * replicas + 1 for b in range(n_base)}, (
        "affected-docs-only contract: output must be exactly the batch"
    )


def test_streaming_1m_rows_default_vs_rocksdb(spark, tmp_path):
    """One rung past the bench's 100k-row streaming run (round-5 verdict
    ask #6): 1M rows / 10x the window-state volume through the full
    watermark+window+state pipeline, measured on BOTH state-store
    providers so the 100x-streaming claim has a measured slope, not just
    a provider parity test. The two providers must agree exactly
    (Spark-side checksum). Numbers recorded in OPERATORS.md."""
    from flink_stream_processing_spark.sources.batch import load_table

    raw = load_table(spark, SF_DIR, "events")  # ts normalized to timestamp
    reps = [
        raw.select(
            (F.col("event_id") + F.lit(r * 10_000_000)).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {2 * r} DAYS")).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        for r in range(10)
    ]
    big = reps[0]
    for rep in reps[1:]:
        big = big.unionByName(rep)
    src = str(tmp_path / "events_1m")
    big.repartition(32).write.mode("overwrite").parquet(src)

    default_run = _run_metrics_stream(spark, src, "stress_default", None)
    rocks_run = _run_metrics_stream(
        spark,
        src,
        "stress_rocksdb",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    for label, m in (("default", default_run), ("rocksdb", rocks_run)):
        print(f"  [streaming-1m {label}] {m}", file=sys.stderr)
    assert default_run["rows"] == 1_000_000
    assert rocks_run["rows"] == 1_000_000
    assert default_run["windows"] == rocks_run["windows"]
    assert default_run["checksum"] == rocks_run["checksum"], (
        "providers disagree on the aggregate result"
    )


def test_span_store_compaction_planted_50k(spark):
    """Scale rung for the r15-queued store maintenance (write side of the
    incremental span family): replica 1 is the incoming batch (5k docs),
    the rest is the corpus whose gen-1 store is persisted. The planted
    structure gives an exact delta law: every batch doc's 30-token
    passage already lives in the corpus (replica 0 carries it), so NONE
    of the passage windows are novel, while the salt-1 body text is
    shingle-disjoint from every other replica — so the delta is exactly
    the batch's non-passage window hashes. Asserted via the partition
    law (report totals reassemble gen-2 exactly) plus zero planted
    windows in the delta (probed by a semi-join against the passage
    hashes, a keyed join, not a scan)."""
    from flink_stream_processing_spark.queries_impl.store_maintenance import (
        compacted_store,
        compaction_report,
        store_append_delta,
    )
    from flink_stream_processing_spark.queries_impl.web_dedup_stream import (
        span_hash_store,
    )

    tokenized, n_base, replicas = planted_span_corpus(spark)
    corpus = tokenized.filter(F.col("doc_id") % replicas != 1)
    batch = tokenized.filter(F.col("doc_id") % replicas == 1)
    store = _timed(
        "span store gen-1 build",
        lambda: span_hash_store(corpus).localCheckpoint(eager=True),
    )
    n_store = store.count()
    delta = _timed(
        "span store append delta",
        lambda: store_append_delta(
            store, span_hash_store(batch), "h"
        ).localCheckpoint(eager=True),
    )
    n_delta = delta.count()
    assert n_delta > 0
    report = _timed(
        "span store compaction report",
        lambda: compaction_report(compacted_store(store, delta, "h")).collect(),
    )
    assert sum(r["n_total"] for r in report) == n_store + n_delta
    assert sum(r["n_carried"] for r in report) == n_store
    assert sum(r["n_new"] for r in report) == n_delta
    # Planted-passage law: every passage window hash is already in gen-1
    # (replica 0 wrote it), so the delta must contain NONE of them. The
    # batch's passage-only windows are re-derived at the store's own W
    # (span_hash_store's default) from the last 30 tokens of each batch
    # doc — exactly the planted passage by construction.
    passage_w = span_hash_store(
        batch.withColumn("toks", F.slice("toks", F.size("toks") - 29, 30))
        .withColumn("n_tokens", F.lit(30).cast("long"))
    )
    leaked = delta.join(passage_w, "h", "semi").count()
    assert leaked == 0, f"{leaked} planted-passage windows leaked into the delta"


def test_span_store_tombstones_planted_50k(spark):
    """Scale rung for the tombstone family (delete side, r14
    continuation): take down ALL of replica 0 (5k docs) against the
    refcount store over the full 50k corpus. The planted structure gives
    exact laws: every passage window has multiplicity exactly 2 (replicas
    0 and 1), so after the takedown each must survive sharing-protected
    at n_after == 1 — and everything replica 0 held alone (its original
    body text and its body→passage junction windows, both unreachable
    from any salted replica) must be purged, so n_purged == (distinct
    replica-0 hashes) − (passage hashes). Only the removed docs' text
    feeds the decrement side — the rung times the three production
    stages separately (store build stands in for reading the persisted
    generation)."""
    from flink_stream_processing_spark.queries_impl.store_maintenance import (
        purged_refcount_store,
        span_refcount_store,
        tombstone_decrements,
    )
    from flink_stream_processing_spark.queries_impl.web_dedup_stream import (
        span_hash_store,
    )

    tokenized, n_base, replicas = planted_span_corpus(spark)
    removed = tokenized.filter(F.col("doc_id") % replicas == 0)
    store = _timed(
        "span refcount store build (full corpus)",
        lambda: span_refcount_store(tokenized).localCheckpoint(eager=True),
    )
    dec = _timed(
        "tombstone decrements (5k removed docs)",
        lambda: tombstone_decrements(removed).localCheckpoint(eager=True),
    )
    after = _timed(
        "purge apply + stats",
        lambda: purged_refcount_store(store, dec).localCheckpoint(eager=True),
    )
    stats = after.agg(
        F.sum(F.when(F.col("n_after") == 0, 1).otherwise(0)).alias("purged"),
        F.sum(
            F.when((F.col("n_dec") > 0) & (F.col("n_after") > 0), 1).otherwise(0)
        ).alias("shared_kept"),
        F.sum(F.when(F.col("n_after") < 0, 1).otherwise(0)).alias("negative"),
    ).first()
    assert stats["negative"] == 0
    print(
        f"\n  [{REPLICAS * 5}k] tombstones: purged={stats['purged']} "
        f"shared_kept={stats['shared_kept']}",
        file=sys.stderr,
    )

    # Passage law: every passage hash (multiplicity 2: replicas 0 and 1)
    # survives at exactly n_after == 1 with n_dec == 1.
    passage_w = span_hash_store(
        removed.withColumn("toks", F.slice("toks", F.size("toks") - 29, 30))
        .withColumn("n_tokens", F.lit(30).cast("long"))
    ).localCheckpoint(eager=True)
    n_passage = passage_w.count()
    assert n_passage > 0
    ok = (
        after.join(passage_w, "h", "semi")
        .filter((F.col("n_after") == 1) & (F.col("n_dec") == 1))
        .count()
    )
    assert ok == n_passage, f"{n_passage - ok} passage hashes mis-purged"

    # Exact purge count: replica 0's distinct hashes minus the passage
    # hashes (everything it held alone goes; nothing else does).
    r0_distinct = span_hash_store(removed).count()
    assert stats["purged"] == r0_distinct - n_passage, (
        stats["purged"],
        r0_distinct,
        n_passage,
    )


def test_streaming_takedown_expansion_50k(spark):
    """Scale rung for the streaming DELETE arm: 5k takedown requests
    (replica 0, split into 4 files -> 4 micro-batches) streamed against
    a PARQUET-BACKED 50k-doc static side, so each micro-batch pays the
    real static-side reload the production design mitigates with
    fp-bucketing/partition pruning — the rung quantifies that cost
    honestly instead of hiding it behind an in-memory frame. Laws: the
    matched doc set covers every request, and the total streamed
    decrement mass equals the batch-side distinct-window total over the
    matched docs (the convention-lock law at scale)."""
    import tempfile

    from flink_stream_processing_spark.operators.dedup import token_window_hashes
    from flink_stream_processing_spark.queries_impl._stream_helpers import (
        _run_stream_to_table,
        _stream_session,
    )
    from flink_stream_processing_spark.queries_impl.streaming_maintenance import (
        _distinct_window_hash_count,
    )
    from flink_stream_processing_spark.queries_impl.web_dedup_stream import _SPAN_W

    tokenized, n_base, replicas = planted_span_corpus(spark)
    with_fp = tokenized.withColumn(
        "fingerprint", F.md5(F.concat_ws(" ", "toks"))
    )
    root = tempfile.mkdtemp(prefix="takedown_rung_")
    corpus_pq, req_pq = f"{root}/corpus", f"{root}/requests"
    _timed(
        "write parquet static side (50k docs)",
        lambda: with_fp.select(
            "fingerprint", "doc_id", "toks", "n_tokens"
        ).write.parquet(corpus_pq),
    )
    reqs = with_fp.filter(F.col("doc_id") % replicas == 0).select("fingerprint")
    n_req = reqs.count()
    reqs.repartition(4).write.parquet(req_pq)

    s = _stream_session(spark)
    static = s.read.parquet(corpus_pq)
    stream = (
        s.readStream.schema("fingerprint string")
        .option("maxFilesPerTrigger", 1)
        .parquet(req_pq)
    )
    out = stream.join(static, "fingerprint").select(
        "doc_id", _distinct_window_hash_count().alias("n_dec_hashes")
    )
    result = _timed(
        f"stream {n_req} takedown requests (4 micro-batches, parquet static side)",
        lambda: _run_stream_to_table(out, "append").localCheckpoint(eager=True),
    )
    matched = {r["doc_id"] for r in result.select("doc_id").collect()}
    req_ids = {
        r["doc_id"]
        for r in with_fp.filter(F.col("doc_id") % replicas == 0)
        .select("doc_id")
        .collect()
    }
    assert req_ids <= matched
    streamed_mass = result.agg(F.sum("n_dec_hashes")).first()[0]
    batch_mass = (
        token_window_hashes(
            tokenized.filter(F.col("doc_id").isin(list(matched))), _SPAN_W
        )
        .select("doc_id", "h")
        .distinct()
        .count()
    )
    assert streamed_mass == batch_mass
    print(
        f"\n  [{REPLICAS * 5}k] streaming takedown: {len(matched)} docs expanded, "
        f"decrement mass {streamed_mass}",
        file=sys.stderr,
    )


def test_recrawl_schedule_planted_50k(spark):
    """Scale rung for the r15-registered recrawl scheduler: a planted
    observation log with EXACT churn arithmetic — host h's every URL
    changes exactly (h % 5) times across its visits, so n_changes(host)
    = URLS_PER_HOST * (h % 5) by construction, and the effective
    interval law (floor at window/4, monotone in churn) is checked
    against closed-form expectations rather than an oracle replay. The
    log is synthesized in-engine (spark.range + arithmetic, no driver
    loops); REPLICAS scales the host count for slope measurement.

    Default geometry: 500*REPLICAS/10 hosts x 10 urls x 10 visits =
    50k observations at REPLICAS=10. The pipeline under test is the
    registered query's exact shape: per-URL lag window (one shuffle on
    canonical_url), per-host churn + load aggregates (host-keyed, URLs
    dropped before the join), ranked frontier, pacing join."""
    from pyspark.sql import Window

    from flink_stream_processing_spark.queries_impl.recrawl import (
        _RECRAWL_MIN_DIVISOR,
        churn_recrawl_schedule,
    )
    from flink_stream_processing_spark.queries_impl.web_dedup_stream import (
        _POLITENESS_WINDOW_MS,
        ranked_frontier,
    )

    n_hosts = 50 * REPLICAS
    urls, visits, k = 10, 10, 5
    n_obs = n_hosts * urls * visits

    base = spark.range(n_obs).select(
        (F.col("id") / (urls * visits)).cast("long").alias("h"),
        ((F.col("id") / visits) % urls).cast("long").alias("u"),
        (F.col("id") % visits).cast("long").alias("v"),
        F.col("id").alias("seq"),
    )
    obs = base.select(
        F.concat(
            F.lit("https://h"), F.col("h"), F.lit(".example.com/p"), F.col("u")
        ).alias("canonical_url"),
        F.col("h"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("seq")).alias("ts"),
        # fp changes on the first (h % k) visit transitions, then freezes:
        # per-url changes = h % k exactly
        F.least(F.col("v"), F.col("h") % k).cast("string").alias("fp"),
    )

    wu = Window.partitionBy("canonical_url").orderBy("ts")
    chg = obs.withColumn(
        "chg",
        F.when(
            F.lag("fp").over(wu).isNotNull() & (F.col("fp") != F.lag("fp").over(wu)),
            1,
        ).otherwise(0),
    )
    churn = _timed(
        "recrawl churn detection + per-host aggregate",
        lambda: chg.groupBy(F.col("h").alias("host_id"))
        .agg(F.sum("chg").cast("long").alias("n_changes"))
        .localCheckpoint(eager=True),
    )
    got = {r["host_id"]: r["n_changes"] for r in churn.collect()}
    assert len(got) == n_hosts
    for h in (0, 1, 7, n_hosts - 1):
        assert got[h] == urls * (h % k), (h, got[h])

    host_signal = churn.select(
        F.concat(F.lit("h"), F.col("host_id"), F.lit(".example.com")).alias("host"),
        F.lit(0).cast("long").alias("last_window_start"),
        "n_changes",
    )
    ranked = ranked_frontier(obs.select("canonical_url").distinct())
    sched = _timed(
        "recrawl frontier rank + pacing join",
        lambda: churn_recrawl_schedule(ranked, host_signal).localCheckpoint(
            eager=True
        ),
    )
    rows = sched.count()
    assert rows == n_hosts * 3  # rank<=3 per host
    # interval law, closed form: floor(W/(1+n)) bounded below by W/4
    floor_ms = _POLITENESS_WINDOW_MS // _RECRAWL_MIN_DIVISOR
    bad = sched.filter(
        F.col("interval_ms")
        != F.greatest(
            F.floor(F.lit(_POLITENESS_WINDOW_MS) / (F.col("n_changes") + 1)).cast(
                "long"
            ),
            F.lit(floor_ms).cast("long"),
        )
    ).count()
    assert bad == 0


def test_ivf_store_maintenance_planted_20k(spark):
    """Scale rung for the r16-registered IVF store family (write side of
    the ANN index): 2 000 sf0.1 vectors x REPLICAS (default 20k), with
    TWO closed-form planted laws the floating-point pipeline must hit:

    - assignment law: a batch vector that IS label L's gen-1 centroid is
      assigned to list L with sim 1.0 (cos of a vector with itself; no
      other centroid can tie unless parallel, which the assert would
      expose);
    - refresh fixed-point law: appending exact-centroid copies leaves
      every refreshed centroid unchanged — mean(n copies of the mean ∪
      the corpus) == the corpus mean, exactly in real arithmetic, so the
      6-dp rounded pipeline must agree within one rounding step.

    Scale design verified by the timings: the centroid build shuffles
    O(labels x dims) partial sums regardless of corpus rows; the assign
    step broadcasts the O(labels) centroid table, so its cost scales
    with the BATCH, not the corpus. Slopes recorded in OPERATORS.md."""
    from flink_stream_processing_spark.operators.similarity import (
        ivf_centroids,
        label_centroids,
    )
    from flink_stream_processing_spark.queries_impl.store_maintenance import (
        ivf_assign,
    )

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "label", "embedding"
    )
    reps = spark.range(REPLICAS).select(F.col("id").cast("long").alias("replica"))
    corpus = base.crossJoin(reps).select(
        (F.col("vec_id") * REPLICAS + F.col("replica")).alias("vec_id"),
        "label",
        "embedding",
    )
    n_vecs = corpus.count()
    assert n_vecs == 2_000 * REPLICAS

    cents = _timed(
        f"ivf centroid build @{2 * REPLICAS}k vecs",
        lambda: ivf_centroids(corpus).localCheckpoint(eager=True),
    )
    n_labels = cents.count()

    # batch: one exact copy of every centroid per replica
    batch = cents.crossJoin(reps).select(
        (F.col("label").cast("long") * 1_000_000 + F.col("replica")).alias("vec_id"),
        F.col("centroid").alias("embedding"),
    )
    assigned = _timed(
        f"ivf assign {n_labels * REPLICAS} centroid probes",
        lambda: ivf_assign(batch, cents).localCheckpoint(eager=True),
    )
    rows = assigned.collect()
    assert len(rows) == n_labels * REPLICAS
    for r in rows:
        assert r["assigned_label"] == r["vec_id"] // 1_000_000, r
        assert abs(r["sim"] - 1.0) < 1e-9, r

    # refresh fixed point: gen-2 centroids over corpus ∪ centroid copies
    grown = corpus.select("label", "embedding").unionByName(
        batch.join(
            assigned.select("vec_id", F.col("assigned_label").alias("label")),
            "vec_id",
        ).select("label", "embedding")
    )
    refreshed = _timed(
        f"ivf centroid refresh @{2 * REPLICAS}k + probes",
        lambda: label_centroids(grown).localCheckpoint(eager=True),
    )
    gen1 = label_centroids(corpus)
    drifted = (
        refreshed.withColumnRenamed("centroid_val", "v2")
        .join(gen1, ["label", "dim"])
        .filter(F.abs(F.col("v2") - F.col("centroid_val")) > 2e-6)
        .count()
    )
    assert drifted == 0, "refresh is not a fixed point under self-append"

    # DELETE arm: the mergeable-state decrement must cost O(removed), not
    # O(corpus) — a FIXED 200-vector takedown against the growing corpus,
    # so across REPLICAS settings this step's timing should stay flat
    # while the corpus doubles (state build above is the one-time
    # O(corpus) pass a production table persists).
    from flink_stream_processing_spark.queries_impl.store_maintenance import (
        centroids_from_state,
        ivf_centroid_state,
        ivf_state_remove,
    )

    state = _timed(
        f"ivf centroid state build @{2 * REPLICAS}k vecs",
        lambda: ivf_centroid_state(corpus).localCheckpoint(eager=True),
    )
    removed = corpus.filter(F.col("vec_id") < 200).localCheckpoint(eager=True)
    n_removed = removed.count()
    assert n_removed == 200
    after = _timed(
        "ivf state decrement (200 removed, fixed)",
        lambda: centroids_from_state(
            ivf_state_remove(state, removed)
        ).localCheckpoint(eager=True),
    )
    rebuilt = label_centroids(corpus.filter(F.col("vec_id") >= 200))
    drift2 = (
        after.withColumnRenamed("centroid_val", "v2")
        .join(rebuilt, ["label", "dim"], "full_outer")
        .filter(
            F.col("v2").isNull()
            | F.col("centroid_val").isNull()
            | (F.abs(F.col("v2") - F.col("centroid_val")) > 2e-6)
        )
        .count()
    )
    assert drift2 == 0, "incremental delete drifted from the rebuild"


def test_pq_adc_planted_copies_rank_first_20k(spark):
    """Scale rung for the PQ-ADC family: 2 000 sf0.1 vectors × REPLICAS
    (vec_id = base + 2000·r, so the deterministic codebook — vec_id < 16
    — is IDENTICAL to the base corpus's) with one closed-form law: every
    exact copy of the query vector achieves the GLOBAL minimum ADC.
    Proof shape: adc(x) = Σ_sub qd2(code(x, sub)) ≥ Σ_sub min_c qd2(c),
    and a copy of the query attains the bound in every subspace because
    its code is argmin_c d2(q_sub, c) by construction. All REPLICAS
    copies must therefore surface with adc_dist == min; encode+search
    timing is the corpus-linear narrow pass the operator docstring
    claims (one explode + broadcast-codebook join + top-k)."""
    from flink_stream_processing_spark.operators.pq import pq_adc_topk

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    reps = spark.range(REPLICAS).select(F.col("id").cast("long").alias("replica"))
    corpus = base.crossJoin(reps).select(
        (F.col("vec_id") + 2_000 * F.col("replica")).alias("vec_id"), "embedding"
    )
    assert corpus.count() == 2_000 * REPLICAS

    top = _timed(
        f"pq encode + adc top-k @{2 * REPLICAS}k vecs",
        lambda: pq_adc_topk(corpus, query_id=0, topk=REPLICAS + 30).collect(),
    )
    best = top[0]["adc_dist"]
    copy_ids = {2_000 * r for r in range(REPLICAS)}
    got_copies = {r["vec_id"] for r in top if r["vec_id"] in copy_ids}
    assert got_copies == copy_ids, (
        f"planted query copies missing from top-{REPLICAS + 30}: "
        f"{sorted(copy_ids - got_copies)}"
    )
    for r in top:
        if r["vec_id"] in copy_ids:
            assert r["adc_dist"] == best, r
    # and the ranking respects the bound: nothing scores below the copies
    assert all(r["adc_dist"] >= best for r in top)


def test_fuzzy_d2_planted_pairs_recovered_45k(spark):
    """Scale rung for the edit-class record-linkage family: 4 500 ×
    REPLICAS synthetic names (default 45k), three planted pairs per
    group — the canonical name, a 1-substitution partner (TAIL QQ→QZ)
    and a 2-substitution partner (QQ→ZZ). The blocking must recover
    EVERY planted pair with the exact distance (recall law on the
    planted set; precision is by construction — each candidate is
    levenshtein-verified in-plan). Unplanned cross-group matches are
    allowed (they are true pairs; the 9-digit ids can sit 1-2 edits
    apart) — the law is containment, the same shape as the minhash rung.
    The timing bounds the candidate-volume claim: O(n · length²) narrow
    key rows, linear in groups."""
    from flink_stream_processing_spark.operators.text import fuzzy_name_pairs

    n_groups = 450 * REPLICAS
    base = spark.range(n_groups).select(
        F.format_string("N%09dQQ", F.col("id")).alias("canonical"),
        F.format_string("N%09dQZ", F.col("id")).alias("p1"),
        F.format_string("N%09dZZ", F.col("id")).alias("p2"),
    )
    names = (
        base.selectExpr("stack(3, canonical, p1, p2) AS c_name")
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    assert names.count() == 3 * n_groups

    found = _timed(
        f"fuzzy d2 edit-class blocking @{3 * n_groups} names",
        lambda: {
            (r["name_a"], r["name_b"]): r["dist"]
            for r in fuzzy_name_pairs(names, "c_name", max_dist=2).collect()
        },
    )
    planted = []
    for i in range(n_groups):
        c, p1, p2 = f"N{i:09d}QQ", f"N{i:09d}QZ", f"N{i:09d}ZZ"
        planted += [((c, p1), 1), ((c, p2), 2), ((p1, p2), 1)]
    missing = [(pair, d) for pair, d in planted if found.get(pair) != d]
    assert not missing, f"{len(missing)} planted pairs missing/mis-distanced: {missing[:5]}"


def test_connected_components_long_chain_converges_logarithmically(spark):
    """Direct stress of the path-halving claim in the distributed CC loop:
    a planted PATH of 5 000 × REPLICAS nodes (diameter ~50k at the
    default) collapses to ONE component labeled by its minimum node —
    within the default max_iter=20. Plain min-label propagation crosses
    ONE hop per round (a 50k chain would need 50k rounds); passing
    inside 20 is only possible if the halving hop really turns
    convergence into O(log diameter) (log₂ 50 000 ≈ 15.6). Volume bulk:
    disjoint planted pairs that must each keep their own min label —
    the chain must not absorb them. The loop is called directly:
    ``connected_components`` clusters a graph this small in one task."""
    from flink_stream_processing_spark.operators.dedup import _cc_loop, _cc_stage

    n_chain = 5_000 * REPLICAS
    chain = spark.range(n_chain - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    # bulk: disjoint pairs living far above the chain's id space
    n_pairs = 10_000
    bulk = spark.range(n_pairs).select(
        (F.lit(10_000_000) + F.col("id") * 2).alias("doc_a"),
        (F.lit(10_000_000) + F.col("id") * 2 + 1).alias("doc_b"),
    )
    comp = _timed(
        f"connected_components: {n_chain}-node chain + {n_pairs} pairs",
        lambda: _cc_loop(
            _cc_stage(chain.unionByName(bulk), "doc_a", "doc_b"), max_iter=20
        ).localCheckpoint(eager=True),
    )
    assert comp.count() == n_chain + 2 * n_pairs
    # the whole chain carries label 0
    chain_bad = comp.filter(
        (F.col("node") < n_chain) & (F.col("lbl") != 0)
    ).count()
    assert chain_bad == 0, f"{chain_bad} chain nodes not labeled 0"
    # every bulk pair keeps its own min — the chain absorbed nothing
    pair_bad = comp.filter(
        (F.col("node") >= 10_000_000)
        & (F.col("lbl") != (F.col("node") - (F.col("node") % 2)))
    ).count()
    assert pair_bad == 0, f"{pair_bad} bulk nodes mislabeled"


def test_pagerank_ring_uniform_at_scale(spark):
    """Closed-form rung for the Pregel-shaped pagerank loop: on a
    directed RING of 5 000 × REPLICAS nodes every node has in/out degree
    1, so PR is exactly uniform at every iteration
    (pr = (1-d)/N + d·(1/N) = 1/N — a fixed point from the uniform
    start). N is chosen so 1/N sits on the 6-dp rounding grid, making
    the law EXACT: one distinct pr value == round(1/N, 6) and total mass
    == 1. The timing bounds the per-iteration cost claim (one keyed join
    + one aggregate, O(edges) shuffle rows, edge relation staged once)."""
    from flink_stream_processing_spark.operators.graph import pagerank

    n = 5_000 * REPLICAS  # 50k (default) and 100k both put 1/N on the grid
    ring = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    pr = _timed(
        f"pagerank 3 iters on a {n}-node ring",
        lambda: pagerank(ring, iters=3).localCheckpoint(eager=True),
    )
    assert pr.count() == n
    vals = [r["v"] for r in pr.select(F.col("pr").alias("v")).distinct().collect()]
    assert vals == [round(1.0 / n, 6)], f"non-uniform PR on a ring: {vals[:5]}"
    mass = pr.agg(F.sum("pr").alias("m")).collect()[0]["m"]
    assert abs(mass - 1.0) < 1e-6, mass


def test_triangle_counts_planted_cliques_at_scale(spark):
    """Closed-form rung for the degree-oriented triangle counter: 500 ×
    REPLICAS disjoint 10-cliques (each member closes exactly C(9,2) = 36
    triangles) plus a triangle-FREE ring of equal size as bulk. Laws:
    every clique node reports exactly 36; no ring node appears at all
    (the counter emits only triangle participants). The timing bounds
    the wedge-volume claim — degree orientation keeps wedges at O(Σd²)
    over the ORIENTED out-degrees, which the disjoint-clique structure
    makes ~45 per clique, linear in cliques."""
    from flink_stream_processing_spark.operators.graph import triangle_counts

    k = 10
    n_cliques = 500 * REPLICAS
    pairs = [(i, j) for i in range(k) for j in range(i + 1, k)]
    pair_df = spark.createDataFrame(pairs, "i int, j int")
    cliq = (
        spark.range(n_cliques)
        .select(F.col("id").alias("g"))
        .crossJoin(F.broadcast(pair_df))
        .select(
            (F.col("g") * k + F.col("i")).alias("src"),
            (F.col("g") * k + F.col("j")).alias("dst"),
        )
    )
    ring_base = 100_000_000
    n_ring = k * n_cliques
    ring = spark.range(n_ring).select(
        (F.lit(ring_base) + F.col("id")).alias("src"),
        (F.lit(ring_base) + (F.col("id") + 1) % n_ring).alias("dst"),
    )
    out = _timed(
        f"triangle_counts: {n_cliques} 10-cliques + {n_ring}-node ring",
        lambda: triangle_counts(
            cliq.unionByName(ring)
        ).localCheckpoint(eager=True),
    )
    assert out.count() == k * n_cliques  # every clique node, no ring node
    assert out.filter(F.col("node") >= ring_base).count() == 0
    bad = out.filter(F.col("n_triangles") != 36).count()
    assert bad == 0, f"{bad} clique nodes off the closed form C(9,2)=36"


def test_hll_sharded_merge_at_1m(spark):
    """Sketch-mergeability rung at 1M × REPLICAS/10 distinct ids: the
    100 TB aggregation pattern is sketch-per-shard then union (never
    re-scan), which is only sound if merge is LOSSLESS — HLL registers
    merge by per-register max, so the union of 32 shard sketches must
    estimate EXACTLY what a single-pass sketch over all ids estimates
    (bit-equal registers ⇒ equal estimates), and both must sit inside
    the documented relative error of the true cardinality (~1.6 % at
    the default lgConfigK=12; asserted at 5 %)."""
    n = 100_000 * REPLICAS
    ids = spark.range(n).select(
        F.col("id"), (F.col("id") % 32).alias("shard")
    )
    merged, single = _timed(
        f"hll sketch-per-shard + union @{n} ids",
        lambda: (
            ids.groupBy("shard")
            .agg(F.hll_sketch_agg("id").alias("sk"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
            .collect()[0]["est"],
            ids.agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("id")).alias("est")
            ).collect()[0]["est"],
        ),
    )
    assert merged == single, (merged, single)  # lossless merge
    assert abs(merged - n) / n < 0.05, (merged, n)


def test_kmeans_planted_separated_clusters_at_scale(spark):
    """Closed-form rung for Lloyd's loop (the IVF quantizer's training
    step): 5 000 × REPLICAS points planted around 8 well-separated
    centers (coordinate 100 on the cluster's own axis, ±0.3 deterministic
    jitter elsewhere — separation 100 dwarfs jitter, so the optimal
    partition IS the planted one). Ids are arranged so the k lowest-id
    seeds are one point per planted cluster, making seed index == planted
    cluster. Laws: every point assigns to its planted cluster, and
    convergence takes ≤ 5 Lloyd iterations (well-separated data converges
    almost immediately — an iteration-count blowup would mean the
    centroid update is drifting)."""
    from flink_stream_processing_spark.operators.clustering import kmeans_fit

    n = 5_000 * REPLICAS
    k, d = 8, 8
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda dim: F.when(dim == F.col("id") % k, F.lit(100.0))
            .otherwise(F.lit(0.0))
            + ((F.pmod(F.xxhash64(F.col("id"), dim), F.lit(7)) - 3) / 10.0),
        ).alias("embedding"),
    )
    assigned, n_iters = _timed(
        f"kmeans_fit k=8 @{n} planted points",
        lambda: kmeans_fit(emb, k=k, max_iter=10),
    )
    print(f"\n  [{REPLICAS * 5}k] kmeans iterations: {n_iters}", file=sys.stderr)
    assert n_iters <= 5, n_iters
    bad = assigned.filter(F.col("cluster") != F.col("id") % k).count()
    assert bad == 0, f"{bad} points assigned off their planted cluster"


def test_theta_sketch_set_ops_planted_overlap_1m(spark):
    """Sketch set-algebra rung at 1M × REPLICAS/10 ids with PLANTED
    half-overlap: A = [0, N), B = [N/2, 3N/2) ⇒ exact |A∩B| = N/2,
    |A∪B| = 3N/2, |A\\B| = N/2. The theta union/intersection/difference
    estimates must each sit within 5 % of the closed form — the
    mergeable-set-algebra precondition for shard-local sketching at
    100 TB (estimate once per shard, combine algebraically, never
    rescan)."""
    n = 100_000 * REPLICAS
    a = spark.range(n).select(F.col("id"))
    b = spark.range(n // 2, 3 * n // 2).select(F.col("id"))
    ska = a.agg(F.theta_sketch_agg("id").alias("sk")).collect()[0]["sk"]
    est = _timed(
        f"theta sketch set ops @{n}-id sets, half overlap",
        lambda: (
            a.agg(F.theta_sketch_agg("id").alias("sk_a"))
            .crossJoin(b.agg(F.theta_sketch_agg("id").alias("sk_b")))
            .select(
                F.theta_sketch_estimate(
                    F.theta_intersection("sk_a", "sk_b")
                ).alias("inter"),
                F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b")).alias(
                    "union_"
                ),
                F.theta_sketch_estimate(
                    F.theta_difference("sk_a", "sk_b")
                ).alias("diff"),
            )
            .collect()[0]
        ),
    )
    assert ska is not None  # the per-shard sketch itself materializes
    for name, got, want in (
        ("intersection", est["inter"], n / 2),
        ("union", est["union_"], 3 * n / 2),
        ("difference", est["diff"], n / 2),
    ):
        assert abs(got - want) / want < 0.05, (name, got, want)


def test_cdc_prefix_insertion_moves_boundaries_locally(spark):
    """Exact locality law for content-defined chunking at 5 000 ×
    REPLICAS docs: because a boundary at p depends ONLY on chars
    p..p+3, prepending a prefix P splits the window set cleanly at the
    seam — windows inside P+t[:3] are byte-identical to (P + t[:3])'s
    and windows past the seam are t's own, shifted. Hence the closed
    identity  n_b(P + t) = n_b(P + t[:3]) + n_b(t)  for EVERY document
    — the 'an early edit only moves boundaries locally' claim that
    makes chunk-level dedup robust, asserted exactly (no tolerance,
    no model recompute) through the production mapInPandas counter."""
    from flink_stream_processing_spark.queries_impl.llm_pipeline3 import (
        _cdc_batches,
    )

    corpus = synth_docs_50k(spark).localCheckpoint(eager=True)
    prefix = "EDITED-UPSTREAM:v2 2026-01-01 rev=7781 checksum=ab12cd34 "
    variants = (
        corpus.select("doc_id", F.lit(0).alias("var"), F.col("text"))
        .unionByName(
            corpus.select(
                "doc_id",
                F.lit(1).alias("var"),
                F.concat(F.lit(prefix), F.col("text")).alias("text"),
            )
        )
        .unionByName(
            corpus.select(
                "doc_id",
                F.lit(2).alias("var"),
                F.concat(F.lit(prefix), F.substring("text", 1, 3)).alias("text"),
            )
        )
    )
    out_schema = "doc_id bigint, n_boundaries bigint, n_chars bigint"
    counts = _timed(
        f"cdc boundary counts on 3 variants @{corpus.count()} docs",
        lambda: variants.withColumn(
            "doc_id", F.col("doc_id") * 10 + F.col("var")
        )
        .select("doc_id", "text")
        .mapInPandas(_cdc_batches, out_schema)
        .localCheckpoint(eager=True),
    )
    c = counts.select(
        (F.col("doc_id") / 10).cast("long").alias("base"),
        F.pmod(F.col("doc_id"), 10).alias("var"),
        "n_boundaries",
    )
    wide = (
        c.groupBy("base")
        .pivot("var", [0, 1, 2])
        .sum("n_boundaries")
        .select("base", F.col("0").alias("nb_t"), F.col("1").alias("nb_pt"),
                F.col("2").alias("nb_seam"))
    )
    bad = wide.filter(F.col("nb_pt") != F.col("nb_seam") + F.col("nb_t")).count()
    assert bad == 0, f"{bad} docs violate the CDC locality identity"


def test_ivf_split_overloaded_planted_blobs_flat_in_untouched_corpus(spark):
    """ivf_split_overloaded's O(changed) scale rung: ONE overloaded list
    of FIXED size (20k members planted as two well-separated blobs at
    ±100 on its own axis, ids interleaved even/odd) sits in a corpus of
    small untouched lists whose total size GROWS with REPLICAS. The split
    must (a) recover the planted blobs exactly — sub 0 all-even ids,
    sub 1 all-odd, a closed-form fixed point like the kmeans rung — and
    (b) cost roughly the same as the corpus doubles, because only the
    overloaded list's vectors are ever scanned (the broadcast semi join
    bound the operator docstring claims). A slope near the corpus-growth
    factor here would mean the rebalance is secretly rescanning the
    untouched lists."""
    from flink_stream_processing_spark.queries_impl.store_maintenance import (
        ivf_split_overloaded,
    )

    n_hot = 20_000  # fixed: the changed set
    n_bulk = 10_000 * REPLICAS  # grows: the untouched corpus
    d = 8
    hot = spark.range(n_hot).select(
        F.col("id").alias("vec_id"),
        F.lit(0).cast("long").alias("label"),
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda dim: F.when(
                dim == 0,
                F.when(F.col("id") % 2 == 0, F.lit(100.0)).otherwise(F.lit(-100.0)),
            ).otherwise(
                ((F.pmod(F.xxhash64(F.col("id"), dim), F.lit(7)) - 3) / 10.0)
            ),
        ).alias("embedding"),
    )
    # bulk: labels 1..200, ~n_bulk/200 members each — all under threshold
    bulk = spark.range(n_bulk).select(
        (F.col("id") + n_hot).alias("vec_id"),
        (F.pmod(F.col("id"), 200) + 1).cast("long").alias("label"),
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda dim: ((F.pmod(F.xxhash64(F.col("id"), dim), F.lit(11)) - 5) / 2.0),
        ).alias("embedding"),
    )
    lists = hot.unionByName(bulk).localCheckpoint(eager=True)
    threshold = n_hot // 2 + n_bulk // 100  # only the hot list is over

    # the operator checkpoints eagerly inside the call (members, cents,
    # final, child_map), so the WHOLE call sits inside the timer — timing
    # only the output materialization would hide the Lloyd rounds
    def _run():
        reb, smap = ivf_split_overloaded(lists, threshold=threshold)
        return reb.localCheckpoint(eager=True), smap

    reb, smap = _timed(
        f"ivf_split_overloaded: 1 hot list @{n_hot} fixed, bulk @{n_bulk}", _run
    )
    m = {(r.parent_label, r.sub): (r.child_label, r.n_members) for r in smap.collect()}
    assert m == {(0, 0): (0, n_hot // 2), (0, 1): (201, n_hot // 2)}, m
    # exact planted fixed point: even ids keep label 0, odd ids move to 201
    hot_out = reb.filter(F.col("vec_id") < n_hot)
    bad = hot_out.filter(
        F.col("label")
        != F.when(F.col("vec_id") % 2 == 0, F.lit(0)).otherwise(F.lit(201))
    ).count()
    assert bad == 0, f"{bad} hot members off their planted blob"
    # untouched bulk unchanged
    assert reb.filter((F.col("vec_id") >= n_hot) & (F.col("label") == 0)).count() == 0
    assert reb.count() == n_hot + n_bulk


def test_bloom_sharded_merge_lossless_at_1m(spark):
    """The mergeable Bloom state's scale rung (operators/bloom.py): at
    500k×REPLICAS/10 member keys, (a) a 32-shard build merged pairwise is
    BIT-IDENTICAL to the single-pass build (the lossless-merge law at
    scale — the never-re-scan property the 100 TB design rests on),
    (b) every member probes positive (zero false negatives, exact), and
    (c) planted disjoint negatives false-positive within 3× the
    closed-form (1-e^{-kn/m})^k envelope at this fill ratio. Build is
    one explode + one partial agg — corpus-linear, measured."""
    from flink_stream_processing_spark.operators.bloom import (
        _BLOOM_K,
        bloom_bits,
        bloom_merge,
        bloom_probe,
    )
    import math
    from functools import reduce

    n = 50_000 * REPLICAS
    m_bits = 1 << 24  # sized so the 1M-key fill ratio keeps FPR meaningful
    members = spark.range(n).select(
        F.concat(F.lit("key-"), F.col("id")).alias("key")
    )
    single = _timed(
        f"bloom single-pass build @{n} keys, m=2^24",
        lambda: bloom_bits(members, m=m_bits).localCheckpoint(eager=True),
    )
    shards = [
        bloom_bits(members.filter(F.pmod(F.xxhash64("key"), F.lit(32)) == s), m=m_bits)
        for s in range(32)
    ]
    merged = _timed(
        "bloom 32-shard merge",
        lambda: reduce(bloom_merge, shards).localCheckpoint(eager=True),
    )
    diff = (
        single.withColumnRenamed("word", "w1")
        .join(merged, "word_idx", "full_outer")
        .filter(
            (F.col("w1") != F.col("word"))
            | F.col("w1").isNull()
            | F.col("word").isNull()
        )
        .count()
    )
    assert diff == 0, f"{diff} words differ between sharded and single-pass"
    fn = _timed(
        f"bloom probe {n} members",
        lambda: bloom_probe(members, single, m=m_bits)
        .filter(~F.col("bloom_positive"))
        .count(),
    )
    assert fn == 0, f"{fn} false negatives"
    n_neg = 100_000
    negatives = spark.range(n_neg).select(
        F.concat(F.lit("neg-"), F.col("id")).alias("key")
    )
    fp = bloom_probe(negatives, single, m=m_bits).filter(F.col("bloom_positive")).count()
    bound = (1 - math.exp(-_BLOOM_K * n / m_bits)) ** _BLOOM_K
    print(f"\n  [{REPLICAS * 5}k] bloom FPR {fp / n_neg:.5f} vs bound {bound:.5f}",
          file=sys.stderr)
    assert fp / n_neg <= 3 * bound + 0.002, (fp / n_neg, bound)


def test_cc_incremental_bridge_batch_exact_at_scale(spark):
    """cc_incremental's scale rung (operators/dedup.py): 10k×REPLICAS/10
    pre-labeled 10-node components (the star form a historical run
    persisted) take a 500-edge bridge batch that merges known component
    PAIRS. The incremental step must produce the exact closed-form
    partition — merged pairs adopt the smaller root, untouched
    components keep their labels bit-for-bit — while touching only the
    O(nodes) star edges plus the batch, never the historical chain
    edges. Timed against the full rebuild from the raw 10-node chains
    for the record: on THIS shape (E ≈ V, shallow diameters that
    path-halving flattens anyway) the wall times are comparable —
    measured 9.9 vs 8.3 s at 100k nodes, 11.7 vs 12.7 s at 200k — the
    capability's real saving is what the rung CANNOT model: the rebuild
    needs the historical pair relation re-derived (LSH banding over the
    whole corpus text) while the incremental step starts from the
    persisted O(nodes) labeling, and dense near-dup graphs have
    E >> V."""
    from flink_stream_processing_spark.operators.dedup import (
        cc_incremental,
        connected_components,
    )

    n_comp = 1_000 * REPLICAS  # components of 10 chained nodes each
    n = n_comp * 10
    # historical labeling, constructed directly in its canonical form:
    # nodes c*10 .. c*10+9 form component c with min-member label c*10
    labels = spark.range(n).select(
        F.col("id").alias("node"),
        (F.col("id") - F.pmod(F.col("id"), 10)).alias("lbl"),
    ).localCheckpoint(eager=True)
    # bridge batch: component 2c merges with component 2c+1, c < 500
    batch = spark.range(500).select(
        (F.col("id") * 20).alias("doc_a"),  # a node of component 2c
        (F.col("id") * 20 + 15).alias("doc_b"),  # a node of component 2c+1
    )
    inc = _timed(
        f"cc_incremental: 500-edge batch into {n_comp} components @{n} nodes",
        lambda: cc_incremental(labels, batch).localCheckpoint(eager=True),
    )
    # closed form: nodes under 10_000 pair up (component 2c+1 adopts 2c's
    # root = c*20); everything else keeps its historical label
    expect = spark.range(n).select(
        F.col("id").alias("node"),
        F.when(
            F.col("id") < 10_000,
            (F.col("id") - F.pmod(F.col("id"), 20)),
        )
        .otherwise(F.col("id") - F.pmod(F.col("id"), 10))
        .alias("lbl"),
    )
    bad = (
        inc.withColumnRenamed("lbl", "got")
        .join(expect, "node")
        .filter(F.col("got") != F.col("lbl"))
        .count()
    )
    assert bad == 0, f"{bad} nodes off the closed-form partition"
    assert inc.count() == n
    # the honest alternative: rebuild from the raw chains + batch
    chains = spark.range(n - 1).filter(
        F.pmod(F.col("id"), 10) != 9
    ).select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    rebuild = _timed(
        f"full rebuild from {n - n_comp} chain edges + batch",
        lambda: connected_components(
            chains.unionByName(batch)
        ).localCheckpoint(eager=True),
    )
    diff = (
        inc.withColumnRenamed("lbl", "got")
        .join(rebuild, "node")
        .filter(F.col("got") != F.col("lbl"))
        .count()
    )
    assert diff == 0  # rebuild equivalence at scale


def test_histogram_sharded_merge_lossless_at_1m(spark):
    """The mergeable histogram's scale rung (operators/histogram.py): at
    50k×REPLICAS values of a planted deterministic grid over [0, 1),
    (a) a 32-shard build merged pairwise equals the single-pass state
    EXACTLY (the vector-add lossless-merge law at scale), (b) the
    quantile bracket contains the closed-form planted quantile at every
    probed q (the grid makes exact quantiles arithmetic, no sort
    needed), and (c) build is one projection + one keyed count —
    corpus-linear, measured."""
    import math
    from functools import reduce

    from flink_stream_processing_spark.operators.histogram import (
        histogram_merge,
        histogram_state,
        quantile_bracket,
    )

    n = 50_000 * REPLICAS
    bins = 1 << 12
    # planted values: v_i = ((i * 2654435761) % n) / n — a permutation of
    # the uniform grid {0, 1/n, ..., (n-1)/n}, so the exact q-quantile is
    # (ceil(q*n) - 1) / n in closed form
    vals = spark.range(n).select(
        ((F.col("id") * 2654435761) % n / n).cast("double").alias("v")
    )
    single = _timed(
        f"histogram single-pass build @{n} values, {bins} bins",
        lambda: histogram_state(vals, "v", 0.0, 1.0, bins=bins).localCheckpoint(
            eager=True
        ),
    )
    shards = [
        histogram_state(
            vals.filter(F.pmod(F.xxhash64("v"), F.lit(32)) == s), "v", 0.0, 1.0, bins=bins
        )
        for s in range(32)
    ]
    merged = _timed(
        "histogram 32-shard merge",
        lambda: reduce(histogram_merge, shards).localCheckpoint(eager=True),
    )
    diff = (
        single.withColumnRenamed("n", "n1")
        .join(merged, "bin_idx", "full_outer")
        .filter(
            (F.col("n1") != F.col("n")) | F.col("n1").isNull() | F.col("n").isNull()
        )
        .count()
    )
    assert diff == 0, f"{diff} bins differ between sharded and single-pass"
    for q in (0.01, 0.25, 0.5, 0.9, 0.999):
        r = quantile_bracket(single, q, 0.0, 1.0, bins=bins).collect()[0]
        exact = (max(1, math.ceil(q * n)) - 1) / n
        assert r["value_lo"] <= exact <= r["value_hi"], (q, exact, r)
        assert r["total"] == n


def test_daily_cycle_two_generation_planted_rung(spark):
    """The daily-cycle composition's 2-generation planted rung
    (queries_impl/daily_cycle.py): over a 5k×REPLICAS salted corpus,
    day 1 ingests a FIXED planted batch (half byte-identical re-crawls
    of corpus docs — zero must be admitted — half novel docs — all must
    be admitted) and takes down a planted slice in the SAME step;
    day 2 re-ingests the taken-down docs, which are bloom-positive
    forever (blooms cannot delete) and must be re-admitted through the
    exact confirm. Exact planted counts at every stage, fingerprint-set
    equality with a from-scratch store at the end, and a realistically
    sized bitmap (m=2^22) whose screening actually works at this key
    count (measured FPR on the novel keys). Generation wall-times are
    printed for the slope record; the delta work is fixed, so the
    per-generation time should grow with the corpus-linear union
    materialization, not with re-scans of unchanged text."""
    from flink_stream_processing_spark.operators.bloom import bloom_probe
    from flink_stream_processing_spark.operators.dedup import (
        exact_fingerprint_store,
    )
    from flink_stream_processing_spark.queries_impl.daily_cycle import (
        DailyStores,
        daily_cycle_step,
        daily_stores_build,
    )

    replicas = REPLICAS
    m_bits, k = 1 << 22, 5
    # sf0.1 has a handful of duplicate normalized texts — drop them so
    # every planted count is exact (the cycle handles dups fine; the
    # RUNG's arithmetic wants sole-holder fingerprints by construction)
    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumn("fp", F.md5(F.lower(F.trim("text"))))
        .dropDuplicates(["fp"])
        .select(F.col("doc_id").alias("base_id"), "text")
    )
    n_base = base.count()
    reps = spark.range(replicas).select(F.col("id").cast("int").alias("replica"))
    salted = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, F.lit("_"), F.col("replica").cast("string")),
        ),
        " ",
    )
    corpus = (
        base.crossJoin(reps)
        .select(
            (F.col("base_id") * replicas + F.col("replica")).alias("doc_id"),
            F.when(F.col("replica") == 0, F.col("text")).otherwise(salted).alias("text"),
        )
        .repartition(32, "doc_id")
        .localCheckpoint(eager=True)
    )
    n_corpus = n_base * replicas

    # fixed planted batch: re-crawls of the replica-1 docs of even bases
    # (new ids, identical bytes) + novel salted docs
    dup_batch = corpus.filter(
        (F.pmod(F.col("doc_id"), F.lit(replicas)) == 1)
        & (F.col("doc_id") % (2 * replicas) < replicas)
    ).select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    novel_batch = base.filter(F.col("base_id") % 2 == 0).select(
        (F.col("base_id") + 20_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" novelmarker"), F.col("base_id")).alias("text"),
    )
    n_dup, n_novel = dup_batch.count(), novel_batch.count()
    batch1 = dup_batch.unionByName(novel_batch).localCheckpoint(eager=True)

    # expansion-closed takedown slice: replica-2 docs of every 50th base
    # (salted => unique fingerprints, sole holders by construction)
    removed = corpus.filter(
        (F.pmod(F.col("doc_id"), F.lit(replicas)) == 2)
        & ((F.col("doc_id") / replicas).cast("long") % 50 == 0)
    ).localCheckpoint(eager=True)
    n_removed = removed.count()
    assert n_dup > 0 and n_novel > 0 and n_removed > 0 and replicas >= 3

    day0 = _timed(
        f"daily_cycle build @{n_corpus} docs",
        lambda: DailyStores(
            *[
                df.localCheckpoint(eager=True)
                for df in daily_stores_build(corpus, m=m_bits, k=k)
            ]
        ),
    )
    assert day0.fingerprints.count() == n_corpus

    # the bitmap screens for real at this size: novel keys mostly pass fast
    novel_fp_probe = bloom_probe(
        novel_batch.select(F.md5(F.lower(F.trim("text"))).alias("key")),
        day0.bloom,
        m=m_bits,
        k=k,
    )
    fpr = novel_fp_probe.filter(F.col("bloom_positive")).count() / n_novel
    print(f"\n  bloom FPR on {n_novel} novel keys @m=2^22: {fpr:.4f}", file=sys.stderr)
    assert fpr < 0.05

    day1 = _timed(
        f"daily_cycle gen1: +{n_dup} dups +{n_novel} novel -{n_removed} takedown",
        lambda: DailyStores(
            *[
                df.localCheckpoint(eager=True)
                for df in daily_cycle_step(
                    day0, batch1, removed_docs=removed, m=m_bits, k=k
                )
            ]
        ),
    )
    # planted admission: every novel doc in, every re-crawl out, every
    # takedown purged
    assert day1.fingerprints.count() == n_corpus + n_novel - n_removed
    admitted1 = day1.shingles.join(day0.shingles, "doc_id", "left_anti")
    assert admitted1.filter(F.col("doc_id") < 20_000_000).count() == 0
    assert admitted1.count() == n_novel
    assert day1.bands.count() == day0.bands.count() + 16 * n_novel - 16 * n_removed

    day2 = _timed(
        f"daily_cycle gen2: re-ingest the {n_removed} purged docs",
        lambda: DailyStores(
            *[
                df.localCheckpoint(eager=True)
                for df in daily_cycle_step(day1, removed, m=m_bits, k=k)
            ]
        ),
    )
    assert day2.fingerprints.count() == n_corpus + n_novel
    readmitted = day2.shingles.join(day1.shingles, "doc_id", "left_anti")
    assert readmitted.count() == n_removed
    assert (
        readmitted.join(removed.select("doc_id"), "doc_id", "left_anti").count() == 0
    )
    # fingerprint-set equality with from-scratch over the final doc set
    want_fp = exact_fingerprint_store(corpus.unionByName(novel_batch))
    assert day2.fingerprints.exceptAll(want_fp).count() == 0
    assert want_fp.exceptAll(day2.fingerprints).count() == 0


def test_mg_heavy_hitters_planted_rung(spark):
    """The Misra–Gries summary's scale rung (operators/heavy_hitters.py):
    three hot keys planted at fixed stream shares (4/2/1 %) inside a
    uniform background of 500k×REPLICAS/10 items over a 100k-key tail.
    (a) all three planted keys are recovered by mg_heavy_hitters at
    φ = 0.5 % with k = 256 and carry estimates within the certificate;
    (b) a 16-shard build merged pairwise satisfies the SAME bound over
    the union (the mergeable-summaries theorem at scale) with ≤ k rows
    of state; (c) the build is one map-side-combined count —
    corpus-linear, measured — while every merge touches O(k) rows."""
    from functools import reduce

    from flink_stream_processing_spark.operators.heavy_hitters import (
        mg_build,
        mg_heavy_hitters,
        mg_merge,
    )

    n = 50_000 * REPLICAS
    k = 256
    # planted: id-ranges map deterministically to the hot keys; the rest
    # spread uniformly over a 100k-key tail
    key = (
        F.when(F.col("id") % 100 < 4, F.lit("hot_a"))
        .when(F.col("id") % 100 < 6, F.lit("hot_b"))
        .when(F.col("id") % 100 < 7, F.lit("hot_c"))
        .otherwise(F.concat(F.lit("t"), F.pmod(F.xxhash64("id"), F.lit(100_000))))
    )
    items = spark.range(n).select(key.alias("key")).localCheckpoint(eager=True)

    state = _timed(
        f"mg_build @{n} items, k={k}",
        lambda: MGStateCheckpointed(mg_build(items, k=k)),
    )
    meta = state.meta.collect()[0]
    assert meta["n_total"] == n and meta["err_bound"] <= n / (k + 1)
    assert state.counters.count() <= k

    hh = {r["key"]: r["est"] for r in mg_heavy_hitters(state, 0.005).collect()}
    for planted, share in (("hot_a", 0.04), ("hot_b", 0.02), ("hot_c", 0.01)):
        assert planted in hh, f"{planted} missed at {share:.0%}"
        true = int(n * share)
        assert 0 <= true - hh[planted] <= meta["err_bound"], (planted, hh[planted])

    # each shard state is materialized (persisted, as a production shard
    # summary would be) before merging: a lazily chained 15-deep merge
    # would compound TakeOrdered barriers into one enormous plan
    shards = [
        MGStateCheckpointed(
            mg_build(items.filter(F.pmod(F.xxhash64("key"), F.lit(16)) == s), k=k)
        )
        for s in range(16)
    ]
    merged = _timed(
        "mg 16-shard merge (O(k) rows per step)",
        lambda: reduce(
            lambda a, b: MGStateCheckpointed(mg_merge(a, b, k=k)), shards
        ),
    )
    mm = merged.meta.collect()[0]
    assert mm["n_total"] == n and mm["err_bound"] <= n / (k + 1)
    assert merged.counters.count() <= k
    mh = {r["key"]: r["est"] for r in mg_heavy_hitters(merged, 0.005).collect()}
    for planted, share in (("hot_a", 0.04), ("hot_b", 0.02), ("hot_c", 0.01)):
        assert planted in mh, f"{planted} missed after shard merge"
        assert 0 <= int(n * share) - mh[planted] <= mm["err_bound"]


def MGStateCheckpointed(state):
    from flink_stream_processing_spark.operators.heavy_hitters import MGState

    return MGState(
        state.counters.localCheckpoint(eager=True),
        state.meta.localCheckpoint(eager=True),
    )


def test_reservoir_sharded_merge_exact_at_1m(spark):
    """The mergeable weighted reservoir's scale rung (the one r17 library
    capability without one): at 100k×REPLICAS weighted items, a 32-shard
    build merged pairwise is EXACTLY the whole-corpus reservoir —
    (doc_id, ares_key) pairs bit-identical, the same lossless-shard
    story as the bloom/HLL/histogram rungs but through a top-k heap
    instead of a keyed aggregate. Also pins the k-row bound and that the
    per-shard reservoir still plans as TakeOrderedAndProject at this
    size (no global sort creeps in under AQE)."""
    from functools import reduce

    from flink_stream_processing_spark.operators.sampling import (
        ares_keyed,
        reservoir_merge,
        weighted_reservoir,
    )
    from flink_stream_processing_spark.plans.inspect import formatted_plan

    n = 100_000 * REPLICAS
    k = 100
    items = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (1.0 + F.pmod(F.xxhash64("id"), F.lit(97)).cast("double")).alias("w"),
    )
    keyed = ares_keyed(items, "w").localCheckpoint(eager=True)

    whole = _timed(
        f"weighted_reservoir @{n} items, k={k}",
        lambda: weighted_reservoir(keyed, k).localCheckpoint(eager=True),
    )
    assert whole.count() == k
    assert "TakeOrderedAndProject" in formatted_plan(weighted_reservoir(keyed, k))

    shards = [
        weighted_reservoir(
            keyed.filter(F.pmod(F.xxhash64("doc_id"), F.lit(32)) == s), k
        ).localCheckpoint(eager=True)
        for s in range(32)
    ]
    merged = _timed(
        "reservoir 32-shard merge (k rows per step)",
        lambda: reduce(
            lambda a, b: reservoir_merge(a, b, k).localCheckpoint(eager=True),
            shards,
        ),
    )
    got = sorted((r["doc_id"], r["ares_key"]) for r in merged.collect())
    want = sorted((r["doc_id"], r["ares_key"]) for r in whole.collect())
    assert got == want and len(want) == k


def test_embedding_cycle_planted_rung(spark):
    """The embedding-side daily cycle's scale rung (daily_cycle.py §2):
    three integer-vector blob labels grow with REPLICAS (the untouched
    corpus); one FIXED batch of vectors planted hard against each blob's
    axis must assign to its blob exactly; a fixed takedown slice leaves;
    and the cross-store invariant state == ivf_centroid_state(lists)
    holds EXACTLY (integer vectors) at every generation. The generation
    cost carries only the fixed delta + the O(labels × dims) state — no
    corpus rescan — while the from-scratch build is corpus-linear."""
    from flink_stream_processing_spark.queries_impl.daily_cycle import (
        EmbeddingStores,
        embedding_cycle_step,
        embedding_stores_build,
    )
    from flink_stream_processing_spark.queries_impl.store_maintenance import (
        ivf_centroid_state,
    )

    n_bulk = 30_000 * REPLICAS
    d = 4
    # blobs: label L concentrated at 50 on axis L (+ small deterministic
    # jitter on the other axes), L in {0, 1, 2}
    corpus = spark.range(n_bulk).select(
        F.col("id").alias("vec_id"),
        F.pmod(F.col("id"), F.lit(3)).cast("int").alias("label"),
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda dim: F.when(
                dim == F.pmod(F.col("id"), F.lit(3)).cast("int"), F.lit(50.0)
            ).otherwise((F.pmod(F.xxhash64(F.col("id"), dim), F.lit(5))).cast("double")),
        ).alias("embedding"),
    ).repartition(32, "vec_id").localCheckpoint(eager=True)

    def _ck(s):
        return EmbeddingStores(*[df.localCheckpoint(eager=True) for df in s])

    day0 = _timed(
        f"embedding_stores_build @{n_bulk} vecs",
        lambda: _ck(embedding_stores_build(corpus)),
    )

    # fixed planted batch: 3k vectors, each exactly on one blob axis —
    # assignment is closed-form (cosine 1-ish to its blob, ~0.05 to the
    # others); fixed takedown: every 100th corpus vector
    batch = spark.range(3_000).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda dim: F.when(
                dim == F.pmod(F.col("id"), F.lit(3)).cast("int"), F.lit(60.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    ).localCheckpoint(eager=True)
    # FIXED-size takedown (first 300k ids only): the delta work must not
    # grow with the corpus, or the flat-generation claim measures the
    # takedown instead of the composition
    removed = corpus.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 300_000)
    ).select("vec_id")
    n_removed = removed.count()

    day1 = _timed(
        f"embedding_cycle gen1: +3000 assign -{n_removed} takedown",
        lambda: _ck(embedding_cycle_step(day0, batch, removed_ids=removed)),
    )
    assert day1.lists.count() == n_bulk + 3_000 - n_removed
    # planted assignment recovered exactly: vec on axis L -> label L
    bad = day1.lists.filter(
        (F.col("vec_id") >= 10_000_000)
        & (F.col("label") != F.pmod(F.col("vec_id") - 10_000_000, F.lit(3)).cast("int"))
    ).count()
    assert bad == 0, f"{bad} planted batch vectors off their blob"

    # the invariant at scale, exact: integer vectors
    rebuilt = ivf_centroid_state(day1.lists)
    j = day1.state.select(
        "label", "dim", F.col("s").alias("s1"), F.col("n").alias("n1")
    ).join(rebuilt, ["label", "dim"], "full_outer")
    assert (
        j.filter(
            (F.col("n1") != F.col("n"))
            | (F.col("s1") != F.col("s"))
            | F.col("n1").isNull()
            | F.col("n").isNull()
        ).count()
        == 0
    )


def test_cbf_sharded_build_and_exact_delete_at_1m(spark):
    """The counting Bloom filter's scale rung (r19 library capability):
    at 100k×REPLICAS keys, a 32-shard build merged pairwise is EXACTLY
    the whole-corpus state (the additive-group lossless-shard story),
    and deleting the odd half leaves the state counter-identical to a
    build that only ever saw the even half — the delete capability at
    the size where a bitmap rebuild would re-scan the full key store.
    State stays ≤ min(k·n, m) rows and the probe still broadcasts."""
    from functools import reduce

    from flink_stream_processing_spark.operators.cbf import (
        cbf_counts,
        cbf_merge,
        cbf_probe,
        cbf_remove,
    )
    from flink_stream_processing_spark.plans.inspect import formatted_plan

    n = 100_000 * REPLICAS
    m, k = 1 << 22, 5
    keys = spark.range(n).select(
        F.concat(F.lit("key"), F.col("id").cast("string")).alias("key")
    ).localCheckpoint(eager=True)

    whole = _timed(
        f"cbf_counts @{n} keys, m=2^22",
        lambda: cbf_counts(keys, m=m, k=k).localCheckpoint(eager=True),
    )
    assert whole.count() <= min(k * n, m)

    shards = [
        cbf_counts(
            keys.filter(F.pmod(F.xxhash64("key"), F.lit(32)) == s), m=m, k=k
        ).localCheckpoint(eager=True)
        for s in range(32)
    ]
    merged = _timed(
        "cbf 32-shard pairwise merge",
        lambda: reduce(
            lambda a, b: cbf_merge(a, b).localCheckpoint(eager=True), shards
        ),
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0

    odd = keys.filter(F.col("key").substr(F.lit(4), F.lit(18)).cast("long") % 2 == 1)
    even = keys.filter(F.col("key").substr(F.lit(4), F.lit(18)).cast("long") % 2 == 0)
    after = _timed(
        f"cbf_remove of {n // 2} keys (exact inverse)",
        lambda: cbf_remove(whole, odd, m=m, k=k).localCheckpoint(eager=True),
    )
    want = cbf_counts(even, m=m, k=k)
    assert after.exceptAll(want).count() == 0
    assert want.exceptAll(after).count() == 0

    # survivors probe positive; the probe plan still broadcasts the state
    sample = even.limit(1_000)
    assert (
        cbf_probe(sample, after, m=m, k=k)
        .filter(~F.col("cbf_positive"))
        .count()
        == 0
    )
    plan = formatted_plan(cbf_probe(sample, after, m=m, k=k))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_lm_sharded_train_and_score_rung(spark):
    """The LM quality scorer's scale rung (r19 library capability):
    train over 50k×REPLICAS synthetic 20-token docs — a 16-shard
    pairwise merge equals the whole-corpus model EXACTLY (both count
    frames) — then score a fixed 10k-doc batch against the big model.
    The score pass must stay the two-hash-join + one-fold shape (no
    cartesian; the V ride-in is the only BNLJ) at a model size where a
    forced broadcast would be the wrong call."""
    from functools import reduce

    from flink_stream_processing_spark.operators.lm import (
        lm_merge,
        lm_score,
        lm_train,
    )

    n = 50_000 * REPLICAS
    # 20-token docs over a ~1000-word power-lawish vocab (id-dependent
    # mix keeps bigram diversity realistic)
    text_expr = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit("w"),
                F.pmod(
                    F.xxhash64(F.col("id") * 20 + j),
                    F.lit(37 + (j * 53) % 997),
                ).cast("string"),
            )
            for j in range(20)
        ],
    )
    corpus = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), text_expr.alias("text"))
        .localCheckpoint(eager=True)
    )

    whole = lm_train(corpus)
    whole_uni = _timed(
        f"lm_train @{n} docs (unigram frame)",
        lambda: whole.unigrams.localCheckpoint(eager=True),
    )
    whole_bi = whole.bigrams.localCheckpoint(eager=True)

    from flink_stream_processing_spark.operators.lm import LMModel

    shards = [
        LMModel(
            *[
                df.localCheckpoint(eager=True)
                for df in lm_train(
                    corpus.filter(F.pmod(F.col("doc_id"), F.lit(16)) == s)
                )
            ]
        )
        for s in range(16)
    ]
    merged = _timed(
        "lm 16-shard pairwise merge",
        lambda: reduce(
            lambda a, b: LMModel(
                *[
                    df.localCheckpoint(eager=True)
                    for df in lm_merge(a, b)
                ]
            ),
            shards,
        ),
    )
    assert merged.unigrams.exceptAll(whole_uni).count() == 0
    assert whole_uni.exceptAll(merged.unigrams).count() == 0
    assert merged.bigrams.exceptAll(whole_bi).count() == 0
    assert whole_bi.exceptAll(merged.bigrams).count() == 0

    batch = corpus.limit(10_000)
    scored = _timed(
        f"lm_score 10k docs vs {whole_bi.count()}-bigram model",
        lambda: lm_score(
            batch, LMModel(unigrams=whole_uni, bigrams=whole_bi)
        ).localCheckpoint(eager=True),
    )
    assert scored.count() == 10_000
    assert scored.filter(F.col("ppl").isNull()).count() == 0


def test_bpe_factorization_rung(spark):
    """The BPE trainer's scale rung (r19 library capability): the
    corpus-scale cost is ONE word-frequency aggregate over 50k×REPLICAS
    docs; the 10-merge training loop then runs on the VOCABULARY-sized
    frame — its cost must NOT scale with the corpus (the Sennrich
    factorization, measured), and encoding replays the merge table in
    one scan with only the scalar-array ride-in."""
    from flink_stream_processing_spark.operators.bpe import (
        bpe_encode,
        bpe_merges_df,
        bpe_train,
        bpe_word_freqs,
    )

    n = 50_000 * REPLICAS
    text_expr = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit("w"),
                F.pmod(
                    F.xxhash64(F.col("id") * 12 + j), F.lit(29 + (j * 31) % 499)
                ).cast("string"),
            )
            for j in range(12)
        ],
    )
    corpus = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), text_expr.alias("text"))
        .localCheckpoint(eager=True)
    )
    wf = _timed(
        f"bpe_word_freqs @{n} docs (the ONE corpus-scale job)",
        lambda: bpe_word_freqs(corpus).localCheckpoint(eager=True),
    )
    v = wf.count()
    model = _timed(
        f"bpe_train 10 merges over {v}-word vocab (corpus-independent)",
        lambda: bpe_train(wf, 10),
    )
    assert len(model.merges) == 10
    enc = _timed(
        f"bpe_encode {v} words",
        lambda: bpe_encode(wf, bpe_merges_df(model, spark)).localCheckpoint(
            eager=True
        ),
    )
    bad = enc.filter(
        F.concat_ws("", F.col("pieces")) != F.col("word")
    ).count()
    assert bad == 0


def test_pca_moment_state_rung(spark):
    """The PCA moment state's scale rung (r19 library capability): the
    corpus-scale cost is ONE aggregate producing d(d+1)/2 + d + 1 rows
    (d=16 here) over 50k×REPLICAS vectors; a 16-shard pairwise merge
    equals the whole state at float tolerance and fits to the same
    spectrum; the transform is one scan. The fit itself is bounded
    driver math — corpus-independent by construction."""
    from functools import reduce

    import numpy as np

    from flink_stream_processing_spark.operators.pca import (
        pca_fit,
        pca_model_df,
        pca_moment_merge,
        pca_moment_state,
        pca_transform,
        PCAMomentState,
    )

    n, d = 50_000 * REPLICAS, 16
    # anisotropic data: dim j scaled by (j+1), plus an id-driven mean
    vec_expr = F.expr(
        f"transform(sequence(0, {d - 1}), j -> "
        "CAST((pmod(xxhash64(id * 16 + j), 1000) - 500) AS DOUBLE) / 500.0 "
        "* (j + 1))"
    )
    vecs = (
        spark.range(n)
        .select(F.col("id").alias("vec_id"), vec_expr.alias("embedding"))
        .localCheckpoint(eager=True)
    )
    whole = _timed(
        f"pca_moment_state @{n} vectors d={d}",
        lambda: PCAMomentState(
            *[df.localCheckpoint(eager=True) for df in pca_moment_state(vecs)]
        ),
    )
    assert whole.cross_sums.count() == d * (d + 1) // 2

    shards = [
        PCAMomentState(
            *[
                df.localCheckpoint(eager=True)
                for df in pca_moment_state(
                    vecs.filter(F.pmod(F.col("vec_id"), F.lit(16)) == s)
                )
            ]
        )
        for s in range(16)
    ]
    merged = _timed(
        "pca 16-shard moment merge (d^2-sized steps)",
        lambda: reduce(
            lambda a, b: PCAMomentState(
                *[df.localCheckpoint(eager=True) for df in pca_moment_merge(a, b)]
            ),
            shards,
        ),
    )
    mw, mm = pca_fit(whole, 4), pca_fit(merged, 4)
    assert np.allclose(mw.eigenvalues, mm.eigenvalues, rtol=1e-9)
    assert np.allclose(
        np.array(mw.components), np.array(mm.components), atol=1e-7
    )
    # variance concentrates in the high-j dims by construction
    assert mw.explained_ratio[0] > 1.5 / d

    proj = _timed(
        f"pca_transform @{n} vectors -> 4 dims",
        lambda: pca_transform(vecs, pca_model_df(mw, spark)).localCheckpoint(
            eager=True
        ),
    )
    assert proj.count() == n


def test_pmi_counts_and_score_rung(spark):
    """The PMI miner's scale rung (r19 library capability): the
    corpus-scale cost is the one extraction pass (unigrams + in-array
    adjacent pairs) over 50k×REPLICAS 12-token docs; scoring then runs
    VOCABULARY-sized (two joins against the unigram table + the totals
    ride-in) — its cost must not scale with the corpus. Shard merge is
    exact."""
    from flink_stream_processing_spark.operators.pmi import (
        PMICounts,
        pmi_counts,
        pmi_merge,
        pmi_score,
    )

    n = 50_000 * REPLICAS
    text_expr = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit("w"),
                F.pmod(
                    F.xxhash64(F.col("id") * 12 + j), F.lit(23 + (j * 41) % 499)
                ).cast("string"),
            )
            for j in range(12)
        ],
    )
    corpus = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), text_expr.alias("text"))
        .localCheckpoint(eager=True)
    )
    whole = _timed(
        f"pmi_counts @{n} docs",
        lambda: PMICounts(
            *[df.localCheckpoint(eager=True) for df in pmi_counts(corpus)]
        ),
    )
    halves = [
        PMICounts(
            *[
                df.localCheckpoint(eager=True)
                for df in pmi_counts(
                    corpus.filter(F.pmod(F.col("doc_id"), F.lit(2)) == s)
                )
            ]
        )
        for s in range(2)
    ]
    merged = pmi_merge(halves[0], halves[1])
    for got, want in (
        (merged.unigrams, whole.unigrams),
        (merged.pairs, whole.pairs),
        (merged.totals, whole.totals),
    ):
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    scored = _timed(
        f"pmi_score over {whole.pairs.count()}-pair vocab (corpus-independent)",
        lambda: pmi_score(whole, min_count=20).localCheckpoint(eager=True),
    )
    assert scored.count() > 0
    assert scored.filter(F.col("pair_cnt") < 20).count() == 0


def test_cms_sharded_build_and_exact_delete_rung(spark):
    """The turnstile CMS store's scale rung (r19 library capability):
    32-shard build merged pairwise == whole state at 100k×REPLICAS
    items, delete-half == build-over-half (both cell-identical), state
    bounded by d·w, probe broadcasts."""
    from functools import reduce

    from flink_stream_processing_spark.operators.cms import (
        cms_counts,
        cms_merge,
        cms_query,
        cms_remove,
    )
    from flink_stream_processing_spark.plans.inspect import formatted_plan

    n = 100_000 * REPLICAS
    w, d = 1 << 14, 4
    items = spark.range(n).select(
        F.concat(F.lit("k"), F.pmod(F.col("id"), F.lit(5_000)).cast("string")).alias(
            "key"
        ),
        F.col("id").alias("id"),
    ).localCheckpoint(eager=True)

    whole = _timed(
        f"cms_counts @{n} items, w=2^14 d=4",
        lambda: cms_counts(items, w=w, d=d).localCheckpoint(eager=True),
    )
    assert whole.count() <= d * w

    shards = [
        cms_counts(
            items.filter(F.pmod(F.col("id"), F.lit(32)) == s), w=w, d=d
        ).localCheckpoint(eager=True)
        for s in range(32)
    ]
    merged = _timed(
        "cms 32-shard pairwise merge",
        lambda: reduce(
            lambda a, b: cms_merge(a, b).localCheckpoint(eager=True), shards
        ),
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0

    odd = items.filter(F.col("id") % 2 == 1)
    even = items.filter(F.col("id") % 2 == 0)
    after = _timed(
        f"cms_remove of {n // 2} items (exact inverse)",
        lambda: cms_remove(whole, odd, w=w, d=d).localCheckpoint(eager=True),
    )
    want = cms_counts(even, w=w, d=d)
    assert after.exceptAll(want).count() == 0
    assert want.exceptAll(after).count() == 0

    probe = even.select("key").distinct().limit(500)
    est = cms_query(probe, after, w=w, d=d)
    assert est.filter(F.col("cms_estimate") <= 0).count() == 0
    plan = formatted_plan(est)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_hll_overlap_rung(spark):
    """The overlap estimator's scale rung (r19 library capability): two
    500k×REPLICAS-key sides with a planted 40% overlap — side sketches
    are the only corpus-scale work (one aggregate each, O(2^lg_k)
    state), the report is scalar math, and the estimate lands within
    its own error budget of the planted truth."""
    from flink_stream_processing_spark.operators.hll_overlap import (
        hll_overlap_report,
        hll_side_sketch,
    )

    n = 500_000 * REPLICAS
    shared = int(n * 0.4)
    a = spark.range(0, n).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key")
    )
    b = spark.range(n - shared, 2 * n - shared).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key")
    )
    sa = _timed(
        f"hll_side_sketch @{n} keys",
        lambda: hll_side_sketch(a).localCheckpoint(eager=True),
    )
    sb = hll_side_sketch(b).localCheckpoint(eager=True)
    rep = _timed(
        "hll_overlap_report (scalar math)",
        lambda: hll_overlap_report(sa, sb).localCheckpoint(eager=True),
    ).collect()[0]
    print(
        f"\n  [{REPLICAS * 5}k] overlap est {rep['est_intersection']} vs "
        f"true {shared} (budget {rep['err_budget']})",
        file=__import__('sys').stderr,
    )
    assert abs(rep["est_intersection"] - shared) <= rep["err_budget"]
