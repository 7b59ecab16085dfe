"""Focused tests for operators.parallelism.spread_fanout (r19 internals)
and its converse gather_for_python.

The r19 optimization round re-spreads narrow fanout-heavy inputs across the
session's cores; the gate is the optimizer's logical-plan size estimate (the
same statistics broadcast planning reads), so it must
- FIRE for a relation estimated under one scan-split per core (the driver's
  single-row-group test parquet), adding exactly one round-robin exchange,
- be IDENTITY when the estimate reaches one split per core (a real cluster's
  corpus-scale input) and for plans with no statistics (streaming),
- preserve the row multiset exactly (round-robin re-buckets, never drops).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_stream_processing_spark.operators.parallelism import (
    _estimated_bytes,
    gather_for_python,
    spread_fanout,
)

SPLIT_CONF = "spark.sql.files.maxPartitionBytes"


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_spread_fires_on_narrow_relation(spark):
    df = spark.range(1_000).select(
        F.col("id"), F.repeat(F.lit("x"), 16).alias("payload")
    )
    est = _estimated_bytes(df)
    assert est is not None and 0 < est < 1 << 20  # tiny relation, stats exist
    out = spread_fanout(df)
    assert out is not df
    assert "Repartition" in _optimized_plan(out)  # exactly the inserted spread
    assert "Repartition" not in _optimized_plan(df)


def test_spread_identity_above_one_split_per_core(spark):
    """Scale-adaptive claim: when the estimate reaches one scan split per
    session core, the relation's scan can already parallelize — no exchange.
    Simulated by shrinking the split size under the tiny test relation."""
    df = spark.range(1_000).select(F.col("id"))
    old = spark.conf.get(SPLIT_CONF)
    try:
        spark.conf.set(SPLIT_CONF, "1")
        assert spread_fanout(df) is df
    finally:
        spark.conf.set(SPLIT_CONF, old)


def test_spread_identity_without_statistics(spark):
    sdf = spark.readStream.format("rate").load()
    assert _estimated_bytes(sdf) is None
    assert spread_fanout(sdf) is sdf


def test_spread_preserves_row_multiset(spark):
    df = spark.range(5_000).select(
        (F.col("id") % 7).alias("k"), F.sha1(F.col("id").cast("string")).alias("h")
    )
    spread = spread_fanout(df)
    assert spread is not df
    base = df.groupBy("k").agg(
        F.count("*").alias("n"), F.sum(F.crc32(F.col("h"))).alias("hsum")
    )
    got = spread.groupBy("k").agg(
        F.count("*").alias("n"), F.sum(F.crc32(F.col("h"))).alias("hsum")
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, got.collect()))


def test_spread_explicit_target(spark):
    df = spark.range(100)
    out = spread_fanout(df, target=5)
    assert "Repartition" in _optimized_plan(out)


def test_gather_coalesces_a_small_spread_relation_in_order(spark):
    """A relation far under one Python task's worth of input runs as one
    partition; coalescing is narrow, so rows keep their collect order."""
    df = spark.range(0, 4_000, 1, 8).select(F.col("id"), F.sha1(F.col("id").cast("string")))
    assert _estimated_bytes(df) < 1 << 20
    out = gather_for_python(df)
    assert out.rdd.getNumPartitions() == 1
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.collect() == df.collect()


def test_gather_identity_without_statistics(spark):
    sdf = spark.readStream.format("rate").load()
    assert gather_for_python(sdf) is sdf
