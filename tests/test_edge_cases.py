"""Operator unit tests for the edge cases in FIXTURES.md §3: all-failure
windows, single-event windows, boundary timestamps, empty input, and the
multimodal plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from flink_stream_processing_spark.operators.multimodal import (
    attach_media,
    decode_media,
    fake_feature_extract,
)
from flink_stream_processing_spark.operators.window_metrics import window_metrics

TX_SCHEMA = "transactionId string, amount double, exchangeRate double, ts timestamp"


def _tx(spark, rows):
    from datetime import datetime

    rows = [(*r[:-1], datetime.fromisoformat(r[-1])) for r in rows]
    return spark.createDataFrame(rows, TX_SCHEMA)


def test_all_failure_window_zero_guards(spark):
    """exchangeRate==0 everywhere: averages and min/max forced to 0.0.

    This is this engine's documented intended-semantics deviation (SURVEY.md
    A4/A5), NOT reference parity: the reference's zero-guard
    (StreamJob.java:140-147) only fires when totalCount==0 — unreachable
    inside a non-empty window — so the reference would emit
    Double.MAX_VALUE/MIN_VALUE seeds for an all-failure window."""
    df = _tx(
        spark,
        [("a", 5.0, 0.0, "2024-01-01 00:00:01"), ("b", 7.0, 0.0, "2024-01-01 00:00:02")],
    )
    [r] = window_metrics(df).collect()
    assert r["cnt"] == 2 and r["failure_count"] == 2 and r["success_count"] == 0
    assert r["avg_amount"] == 0.0 and r["avg_exchange_rate"] == 0.0
    assert r["min_amount"] == 0.0 and r["max_amount"] == 0.0


def test_single_event_window(spark):
    df = _tx(spark, [("a", 5.0, 1.1, "2024-01-01 00:00:01")])
    [r] = window_metrics(df).collect()
    assert r["cnt"] == 1 and r["success_count"] == 1
    assert r["avg_amount"] == 5.0 and r["min_amount"] == 5.0 == r["max_amount"]


def test_boundary_event_belongs_to_window_it_starts(spark):
    """An event exactly on a 10 s boundary goes to the window starting
    there (Flink and Spark agree: start inclusive, end exclusive)."""
    df = _tx(
        spark,
        [("a", 1.0, 1.0, "2024-01-01 00:00:10"), ("b", 2.0, 1.0, "2024-01-01 00:00:09.999")],
    )
    rows = {r["window_start"]: r["cnt"] for r in window_metrics(df).collect()}
    epoch = 1704067200000
    assert rows[epoch] == 1  # 09.999 -> [00, 10)
    assert rows[epoch + 10000] == 1  # 10.000 -> [10, 20)


def test_session_gap_tie_merges_in_spark_and_oracle(spark):
    """Events exactly one gap (10 min) apart share a session; 1 ms more
    splits them. Spark's session_window and the DuckDB gaps-and-islands
    oracle must agree on both sides of the tie."""
    import duckdb

    from flink_stream_processing_spark.operators.window_metrics import session_windows
    from flink_stream_processing_spark.queries_impl.windows_extra import _SESSION_ORACLE

    epoch, gap = 1704067200000, 600000
    events = [(1, epoch), (1, epoch + gap), (2, epoch), (2, epoch + gap + 1)]
    expected = [
        (1, epoch, epoch + 2 * gap, 2),
        (2, epoch, epoch + gap, 1),
        (2, epoch + gap + 1, epoch + 2 * gap + 1, 1),
    ]
    df = spark.createDataFrame(events, "user_id long, ms long").select(
        "user_id", F.timestamp_millis("ms").alias("ts"))
    got = sorted(tuple(r) for r in session_windows(df).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, make_timestamp(?))",
                    [(u, ms * 1000) for u, ms in events])
    oracle = sorted(tuple(int(v) for v in r) for r in con.execute(_SESSION_ORACLE).fetchall())
    assert got == expected
    assert oracle == expected


def test_empty_input_no_windows(spark):
    df = _tx(spark, [])
    assert window_metrics(df).count() == 0


def test_mixed_window_excludes_failures_from_stats(spark):
    df = _tx(
        spark,
        [
            ("a", 10.0, 2.0, "2024-01-01 00:00:01"),
            ("b", 99.0, 0.0, "2024-01-01 00:00:02"),  # failure: excluded from stats
            ("c", 20.0, 4.0, "2024-01-01 00:00:03"),
        ],
    )
    [r] = window_metrics(df).collect()
    assert r["cnt"] == 3 and r["success_count"] == 2 and r["failure_count"] == 1
    assert r["avg_amount"] == 15.0 and r["min_amount"] == 10.0 and r["max_amount"] == 20.0
    assert r["avg_exchange_rate"] == 3.0


def test_multimodal_plumbing_matches_hashlib(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "spark engine")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in fake_feature_extract(attach_media(df)).collect()}
    for doc_id, text in [(1, "hello world"), (2, "spark engine")]:
        assert out[doc_id]["byte_len"] == len(text.encode())
        assert out[doc_id]["sha256"] == hashlib.sha256(text.encode()).hexdigest()


def test_decode_media_unknown_for_non_container_payloads(spark):
    """decode_media is a real header decoder now (round 3); a text/plain
    payload has no container magic and must decode as 'unknown' with all
    fields NULL, not raise."""
    df = attach_media(spark.createDataFrame([(1, "x")], "doc_id long, text string"))
    row = decode_media(df).collect()[0]
    assert row.kind == "unknown"
    assert row.width is None and row.sample_rate is None


def test_sequence_packing_spans_partition_token_stream(spark):
    """Packing invariants: spans are contiguous (token_start of doc i+1 ==
    token_start + n_tokens of doc i in doc_id order), start at 0, and chunk
    ranges cover exactly ceil(total/capacity) windows."""
    from flink_stream_processing_spark.queries import QUERIES

    from .conftest import SF_SMALL

    rows = sorted(
        QUERIES["sequence_packing"](spark, SF_SMALL).collect(),
        key=lambda r: r.doc_id,
    )
    assert rows[0].token_start == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.token_start == prev.token_start + prev.n_tokens
    total = rows[-1].token_start + rows[-1].n_tokens
    assert rows[-1].last_chunk == (total - 1) // 256
    for r in rows:
        assert r.n_chunks == r.last_chunk - r.first_chunk + 1 >= 1


def test_domain_frequency_cap_passthrough_and_ranked_branches(spark):
    """Both plan branches must agree with plain ranking: an under-cap
    domain passes through entirely (no sort), an over-cap domain keeps
    exactly the cap, chosen by (n_chars desc, doc_id)."""
    import flink_stream_processing_spark.queries_impl.llm_pipeline4 as m

    rows = []
    for i in range(3):          # small domain: 3 docs, under cap
        rows.append((i, "small", 100 + i))
    for i in range(30):         # big domain: 30 docs, over cap of 20
        rows.append((100 + i, "big", 1000 - i))
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="domcap_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r.source: r for r in m.q_domain_frequency_cap(spark, d).collect()}
    assert out["small"].n_docs == 3 and out["small"].n_kept == 3
    assert out["small"].chars_kept == 100 + 101 + 102
    assert out["big"].n_docs == 30 and out["big"].n_kept == 20
    # top 20 by n_chars desc: 1000..981
    assert out["big"].chars_kept == sum(range(981, 1001))


def test_fuzzy_name_pairs_cross_length_edits(spark):
    """Symmetric-delete keys must find insert/delete pairs (lengths differ
    by 1), not just substitutions — the gap position-wildcard keys had."""
    from flink_stream_processing_spark.operators.text import fuzzy_name_pairs

    df = spark.createDataFrame(
        [("abc",), ("abcd",), ("abd",), ("xyz",)], "name string"
    )
    got = {
        (r.name_a, r.name_b)
        for r in fuzzy_name_pairs(df, "name", max_dist=1).collect()
    }
    assert ("abc", "abcd") in got   # insertion
    assert ("abc", "abd") in got    # substitution
    assert ("abcd", "abd") in got   # deletion (abcd -> abd removes 'c')
    assert not any("xyz" in p for p in got)


def test_band_hashes_rejects_bad_band_count(spark):
    import pytest

    from flink_stream_processing_spark.operators.dedup import band_hashes

    sigs = spark.createDataFrame([(1, 2, 3)], "doc_id long, mh0 long, mh1 long")
    with pytest.raises(ValueError, match="divisor"):
        band_hashes(sigs, num_perm=2, bands=64)
    with pytest.raises(ValueError, match="divisor"):
        band_hashes(sigs, num_perm=32, bands=12)


def test_fuzzy_name_pairs_d2_matches_brute_force(spark):
    """Radius-2 edit-class decomposition vs brute-force Levenshtein on a
    vocabulary engineered to hit every class: 1-sub, 2-sub (incl.
    adjacent transposition), same-length delete+insert (rotation-style,
    hamming 3 but lev 2), insert, insert+sub, double insert, repeated
    characters, and an empty string."""
    import itertools

    from pyspark.sql import functions as F

    from flink_stream_processing_spark.operators.text import fuzzy_name_pairs

    from tests.oracle_utils import FUZZY_CLASS_VOCAB as vocab
    df = spark.createDataFrame([(v,) for v in vocab], "name string")
    got = {
        (r.name_a, r.name_b): r.dist
        for r in fuzzy_name_pairs(df, "name", max_dist=2).collect()
    }

    from tests.oracle_utils import brute_levenshtein as lev

    want = {
        (min(a, b), max(a, b)): lev(a, b)
        for a, b in itertools.combinations(sorted(set(vocab)), 2)
        if lev(a, b) <= 2
    }
    assert got == want


def test_fuzzy_name_pairs_d2_refuses_overlong_names(spark):
    import pytest

    from flink_stream_processing_spark.operators.text import fuzzy_name_pairs

    df = spark.createDataFrame([("x" * 80,), ("y",)], "name string")
    with pytest.raises(Exception, match="max_name_len"):
        fuzzy_name_pairs(df, "name", max_dist=2).collect()
    # raising the cap admits the long string
    ok = fuzzy_name_pairs(df, "name", max_dist=2, max_name_len=100)
    assert ok.count() == 0  # far apart, but the plan executes


def test_fuzzy_name_pairs_plan_has_no_broadcast_joins(spark):
    """The key relations are O(n·L) / O(n·L²); broadcasting them is the
    r4 setsim failure mode all over again. Pin shuffle joins in the
    executed plan at both radii."""
    from flink_stream_processing_spark.operators.text import fuzzy_name_pairs

    df = spark.createDataFrame([("abc",), ("abd",)], "name string")
    for d in (1, 2):
        plan = (
            fuzzy_name_pairs(df, "name", max_dist=d)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan, f"max_dist={d}"


def test_fuzzy_name_pairs_d2_plan_has_no_shuffled_hash_join(spark):
    """The K2 self-join's build side is O(n·L²) rows. A hinted hash build
    does not fall back by size, so no estimate of the base relation can
    certify it fits: the radius-2 plan must carry no ShuffledHashJoin,
    even on an input whose size estimate is tiny (a VALUES relation has
    exact stats; a createDataFrame relation has none)."""
    from flink_stream_processing_spark.operators.text import fuzzy_name_pairs

    df = spark.sql("SELECT * FROM VALUES ('abc'), ('abd') AS t(name)")
    plan = (
        fuzzy_name_pairs(df, "name", max_dist=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" not in plan, plan


def test_fuzzy_name_pairs_d1_matches_brute_force(spark):
    """Radius-1 edit-class joins vs brute-force Levenshtein on the same
    class-covering vocabulary as the d2 test."""
    import itertools

    from flink_stream_processing_spark.operators.text import fuzzy_name_pairs

    from tests.oracle_utils import FUZZY_CLASS_VOCAB as vocab
    df = spark.createDataFrame([(v,) for v in vocab], "name string")
    got = {
        (r.name_a, r.name_b): r.dist
        for r in fuzzy_name_pairs(df, "name", max_dist=1).collect()
    }

    from tests.oracle_utils import brute_levenshtein as lev

    want = {
        (min(a, b), max(a, b)): lev(a, b)
        for a, b in itertools.combinations(sorted(set(vocab)), 2)
        if lev(a, b) <= 1
    }
    assert got == want


def test_fuzzy_name_pairs_unicode_codepoint_semantics(spark):
    """Deletion keys are built with substring/length (codepoint-based) and
    verified with levenshtein — both must count an astral-plane emoji as
    ONE edit or deletion keys and the verify disagree and recall drops."""
    from flink_stream_processing_spark.operators.text import fuzzy_name_pairs

    vocab = ["café", "cafe", "naïve", "naive", "🦊fox", "fox", "🦊fax"]
    df = spark.createDataFrame([(v,) for v in vocab], "name string")
    got1 = {
        (r.name_a, r.name_b): r.dist
        for r in fuzzy_name_pairs(df, "name", max_dist=1).collect()
    }
    assert got1[("cafe", "café")] == 1        # accented char = 1 sub
    assert got1[("fox", "🦊fox")] == 1        # emoji insert = 1 edit
    assert got1[("🦊fax", "🦊fox")] == 1      # sub next to an emoji
    got2 = {
        (r.name_a, r.name_b): r.dist
        for r in fuzzy_name_pairs(df, "name", max_dist=2).collect()
    }
    assert got2[("fox", "🦊fax")] == 2        # insert + sub across planes


def test_leakage_safe_split_never_separates_near_dups(spark):
    """The whole point of leakage_safe_split: no near-dup pair may
    straddle train/validation. Checked directly — every LSH-verified pair
    joined against the split assignment must land on one side."""
    from flink_stream_processing_spark.operators.dedup import minhash_near_dups
    from flink_stream_processing_spark.queries import QUERIES
    from flink_stream_processing_spark.sources.batch import load_table

    from .conftest import SF_DIR

    split = QUERIES["leakage_safe_split"](spark, SF_DIR).select(
        "doc_id", "split"
    )
    pairs = minhash_near_dups(
        load_table(spark, SF_DIR, "documents"), threshold=0.5
    ).select("doc_a", "doc_b")
    crossers = (
        pairs.join(split.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("split", "split_a")
        .join(split.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .filter(F.col("split_a") != F.col("split"))
        .count()
    )
    assert crossers == 0
    # and it is a real split: both sides populated on this corpus
    sides = {r["split"] for r in split.select("split").distinct().collect()}
    assert sides == {"train", "validation"}


def test_bpe_merge_candidates_on_fixture(spark):
    """Hand-checked BPE counting: corpus 'aab aab ab x' -> word freqs
    {aab: 2, ab: 1} (single-char 'x' drops) -> pair counts
    aa = 2 (from aab x2), ab = 2*1 + 1*1 = 3."""
    df = spark.createDataFrame([(0, "aab aab ab x")], "doc_id long, text string")

    # drive the query's expression pipeline directly on the fixture frame
    # (the registered query itself is oracle-gated over the real corpus)
    import pyspark.sql.functions as F2

    words = df.select(
        F2.explode(F2.split(F2.lower(F2.trim(F2.col("text"))), r"\s+")).alias("word")
    ).filter(F2.length("word") >= 2)
    wf = words.groupBy("word").agg(F2.count(F2.lit(1)).alias("freq"))
    pairs = wf.select(
        "freq",
        F2.explode(
            F2.expr(
                "transform(sequence(1, char_length(word) - 1), "
                "i -> concat(substring(word, i, 1), substring(word, i + 1, 1)))"
            )
        ).alias("pair"),
    )
    got = {
        r["pair"]: r["cnt"]
        for r in pairs.groupBy("pair")
        .agg(F2.sum("freq").cast("long").alias("cnt"))
        .collect()
    }
    assert got == {"aa": 2, "ab": 3}
