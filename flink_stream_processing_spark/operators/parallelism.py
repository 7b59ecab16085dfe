"""Scan-parallelism guard for fanout-heavy map stages.

The driver's test tables are single-file, SINGLE-ROW-GROUP parquet, so every
scan is one task no matter what ``spark.sql.files.*`` says (a parquet split
cannot be narrower than a row group). Everything map-side before the first
exchange — tokenization, window hashing, shingle construction, signature
folds — therefore ran on ONE core at bench scale (measured r19: 3-5 s
single-task stages behind `AQEShuffleRead coalesced` or 1-split scans,
across the fuzzy/dedup/span families).

``spread_fanout`` is the guide §2.5 fix ("input skew: one huge unsplittable
file — repartition immediately after the read"), made SCALE-ADAPTIVE via
the optimizer's own size statistics (the same estimates broadcast planning
uses): a relation is re-spread only when its estimated bytes are below one
scan-split per session core — i.e. when its scan parallelism CANNOT reach
the core count. On a real cluster the corpus-scale inputs these operators
see are orders of magnitude past that bound, so the exchange never appears;
where it does fire, it moves the narrow input relation once while the
stages it parallelizes do O(fanout) hash/serde work per row — the trade
that wins whenever it fires (and loses for plain tokenize/aggregate inputs,
which is why call sites are curated per the r19 A/B measurements rather
than blanket). The gate reads only the input: its size estimate against
the session's core count and scan split size, under a fixed 4 GiB cap.

``gather_for_python`` is the converse for stages that run in Python
workers: there a task costs a fixed worker round trip, so a small input
is coalesced to fewer partitions, by the same size estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Absolute ceiling on the re-spread gate (r19 ADVICE, medium): the
# per-core threshold ``cores x maxPartitionBytes`` grows unboundedly with
# cluster width (2000 cores -> 256 GB), so on a big cluster a
# CBO-underestimated corpus relation could be round-robin re-shuffled
# wholesale. With the cap, a stats misestimate can at worst re-shuffle a
# few GB — the same order a single join exchange moves anyway. 4 GiB is
# the local[32] per-core bound, so bench behavior is unchanged.
_SPREAD_CAP_BYTES = 4 << 30

# Least input a Python-worker task should carry. PySpark 4.1's worker
# re-reads the index of its zipped package on every task (worker_util
# ``setup_spark_files`` calls ``importlib.invalidate_caches()``), about
# 0.24 s of CPU per task even for an empty partition (4-vCPU VM, two
# cores). The MinHash pass hashes about 2M shingles/s per task there, so
# 16 MB of shingle arrays (about 1M shingles) is about twice that cost.
_PY_TASK_MIN_BYTES = 16 << 20


def _estimated_bytes(df: DataFrame):
    """Optimizer size estimate of the relation (logical-plan statistics —
    no execution, the same numbers auto-broadcast thresholds read).
    None when unavailable (e.g. streaming plans)."""
    try:
        # py4j maps the Scala BigInt to a Python int; str() also covers the
        # JavaObject case so the conversion is version-proof.
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


def spread_fanout(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin ``df`` across the session's parallelism IF its estimated
    size says its scan cannot reach core-count parallelism — under one
    scan split per session core AND under the absolute
    ``_SPREAD_CAP_BYTES`` ceiling — identity otherwise, and identity when
    stats are missing (at corpus scale, every default must be the
    scale-safe plan). Row-multiset preserved (round-robin repartition
    re-buckets rows, never drops/dups them); only safe above
    order-insensitive consumers, which every caller here is
    (hash/count/min aggregates, per-row projections)."""
    spark = df.sparkSession
    goal = target or spark.sparkContext.defaultParallelism
    try:
        # Canonical byte value (conf.get returns size strings like "134217728b").
        split_bytes = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except Exception:
        split_bytes = 128 * 1024 * 1024
    est = _estimated_bytes(df)
    if est is None or est >= min(goal * split_bytes, _SPREAD_CAP_BYTES):
        return df
    return df.repartition(goal)


def gather_for_python(df: DataFrame) -> DataFrame:
    """Coalesce ``df`` to one partition per ``_PY_TASK_MIN_BYTES`` of its
    estimated size when that is fewer partitions than the session's
    parallelism; identity otherwise, and identity when stats are missing.

    For inputs of a stage that runs in Python workers (``mapInArrow``):
    every such task pays a fixed worker round trip whatever its row
    count, so a small relation spread across every core (``spread_fanout``)
    spends more on those round trips than on its rows. Coalescing is
    narrow (no exchange) and keeps row order."""
    est = _estimated_bytes(df)
    if est is None:
        return df
    n = max(1, -(-est // _PY_TASK_MIN_BYTES))
    if n >= df.sparkSession.sparkContext.defaultParallelism:
        return df
    return df.coalesce(n)
