"""Flagship operator: global tumbling event-time window metrics.

Reference semantics (SURVEY.md §2.5; StreamJob.java:109-173):
- 10-second tumbling event-time window over the whole stream (``windowAll``,
  StreamJob.java:109) — in Spark, ``groupBy(window(ts, "10 seconds"))``;
  grouping by the window alone reproduces the "global" (non-keyed) window.
- Per window: total count, success/failure split on ``exchangeRate == 0``
  (StreamJob.java:125-137 — a zero rate throws inside the loop and is counted
  as a failure, excluded from sums/avg/min/max), averages guarded to 0.0 when
  there are no successes (StreamJob.java:140-147).

Spark-first design: the reference buffers every event per window
(``AllWindowFunction`` — O(window) memory, parallelism 1). Here the same
result is a declarative conditional aggregation: partial (map-side) + final
hash agg, so at 100 TB each executor pre-aggregates its partitions and only
tiny per-window partial states shuffle — the shuffle volume is O(windows),
not O(events). No custom code, whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic event_type -> exchange-rate mapping so the driver's ``events``
# table stands in for the remittance stream (FIXTURES.md §1): 'error' plays
# the CNY role — rate 0.0, the poison value that drives failureCount
# (RemittanceGenerator.java:70, StreamJob.java:125-127).
EVENT_TYPE_RATES: dict[str, float] = {
    "click": 1.0,
    "view": 0.92,
    "purchase": 83.2,
    "signup": 132.5,
    "error": 0.0,
}


def as_transactions(events: DataFrame) -> DataFrame:
    """Adapt the driver ``events`` table to the transaction-stream shape.

    event_id -> transactionId, value -> amount, event_type -> exchangeRate
    via the static table above (mirrors the generator's currency->rate map,
    RemittanceGenerator.java:65-74). Pure column expressions — stays in
    whole-stage codegen.
    """
    rate = F.lit(None).cast("double")
    expr = None
    for etype, r in EVENT_TYPE_RATES.items():
        cond = F.col("event_type") == etype
        expr = F.when(cond, F.lit(r)) if expr is None else expr.when(cond, F.lit(r))
    rate = expr.otherwise(F.lit(1.0))
    return events.select(
        F.col("event_id").cast("string").alias("transactionId"),
        F.col("value").alias("amount"),
        rate.alias("exchangeRate"),
        F.col("ts"),
    )


def metric_agg_exprs() -> list[Column]:
    """The 8 aggregate expressions of the reference window function
    (exact mapping in SURVEY.md §2.5). Success rows are exchangeRate != 0;
    failed rows count toward ``cnt``/``failure_count`` only.
    """
    ok = F.col("exchangeRate") != 0.0
    ok_amount = F.when(ok, F.col("amount"))
    ok_rate = F.when(ok, F.col("exchangeRate"))
    success = F.sum(F.when(ok, 1).otherwise(0))
    return [
        F.count(F.lit(1)).alias("cnt"),                                   # :140
        success.cast("long").alias("success_count"),                      # :134
        F.sum(F.when(ok, 0).otherwise(1)).cast("long").alias("failure_count"),  # :136
        F.round(F.coalesce(F.sum(ok_amount) / F.nullif(success, F.lit(0)), F.lit(0.0)), 6)
        .alias("avg_amount"),                                             # :129,:141
        F.round(F.coalesce(F.sum(ok_rate) / F.nullif(success, F.lit(0)), F.lit(0.0)), 6)
        .alias("avg_exchange_rate"),                                      # :130,:142
        F.coalesce(F.min(ok_amount), F.lit(0.0)).alias("min_amount"),     # :131,:144-147
        F.coalesce(F.max(ok_amount), F.lit(0.0)).alias("max_amount"),     # :132,:144-147
    ]


def window_metrics(tx: DataFrame, window_duration: str = "10 seconds") -> DataFrame:
    """Batch form of the flagship query: tumbling windows over ``ts``.

    Output columns mirror the ``Metric`` row (FIXTURES.md §1) with epoch-ms
    window bounds; doubles rounded to 6 so any SQL oracle can match exactly.
    """
    w = F.window(F.col("ts"), window_duration)
    return (
        tx.groupBy(w.alias("w"))
        .agg(*metric_agg_exprs())
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start"),
            F.unix_millis(F.col("w.end")).alias("window_end"),
            "cnt",
            "success_count",
            "failure_count",
            "avg_amount",
            "avg_exchange_rate",
            "min_amount",
            "max_amount",
        )
    )


def window_metrics_over_events(events: DataFrame, window_duration: str = "10 seconds") -> DataFrame:
    return window_metrics(as_transactions(events), window_duration)


def sliding_window_counts(
    events: DataFrame,
    duration: str = "30 seconds",
    slide: str = "10 seconds",
    value_col: str = "value",
) -> DataFrame:
    """Sliding (hopping) event-time window — beyond the reference, which has
    only tumbling (§2.6). Each event lands in duration/slide windows; Spark
    expands via the window generator, the aggregation stays partial+final."""
    w = F.window(F.col("ts"), duration, slide)
    return (
        events.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start"),
            F.unix_millis(F.col("w.end")).alias("window_end"),
            "cnt",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "10 minutes", key: str = "user_id"
) -> DataFrame:
    """Per-key session windows with a fixed inactivity gap (§2.6 — absent in
    the reference). Spark's ``session_window`` merges events whose gap is
    at most ``gap`` (events exactly ``gap`` apart share a session); the
    window end is last-event-time + gap."""
    sw = F.session_window(F.col("ts"), gap)
    return (
        events.groupBy(F.col(key), sw.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.unix_millis(F.col("w.start")).alias("session_start"),
            F.unix_millis(F.col("w.end")).alias("session_end"),
            "n_events",
        )
    )
