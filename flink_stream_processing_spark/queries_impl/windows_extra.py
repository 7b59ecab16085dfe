"""Window-variant queries beyond the reference's single tumbling window
(SURVEY.md §2.6): sliding windows and per-key session windows, both with
full DuckDB oracles (window expansion / gaps-and-islands SQL), plus the
STREAMING flagship aggregate materialized through a real
Structured-Streaming query and hash-checked against the batch oracle."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..operators.window_metrics import (
    as_transactions,
    session_windows,
    sliding_window_counts,
)
from ..queries import query
from ..sources.batch import load_table
from ._stream_helpers import _run_stream_to_table, _stream_session, table_stream_dir
from ._shared_exprs import WINDOW_METRICS_ORACLE as _WINDOW_METRICS_ORACLE
from ._shared_oracles import INTERVAL_ORACLE as _INTERVAL_ORACLE

# Sliding window 30s/10s: each event belongs to 3 windows; the oracle
# expands explicitly (time_bucket minus k*slide covers exactly the Spark
# window-assignment rule).
_SLIDING_ORACLE = """
WITH w AS (
  SELECT value,
         epoch_ms(time_bucket(INTERVAL 10 SECONDS, ts)) - k * 10000 AS window_start
  FROM events, UNNEST([0, 1, 2]) AS u(k)
)
SELECT window_start,
       window_start + 30000 AS window_end,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 2) AS sum_value
FROM w
GROUP BY window_start
"""


@query("sliding_window_counts", oracle=_SLIDING_ORACLE)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_counts(load_table(spark, sf_dir, "events"))


# Session windows, gap 10 min: oracle is the classic gaps-and-islands
# construction. New session only when the gap is > 10 min: Spark merges
# an event exactly at last+gap into the open session.
_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 10 MINUTES
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM o
)
SELECT user_id,
       epoch_ms(min(ts)) AS session_start,
       epoch_ms(max(ts)) + 600000 AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sess_id
"""


@query("session_windows_per_user", oracle=_SESSION_ORACLE)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(load_table(spark, sf_dir, "events"))


# Stream-harness plumbing (session clone, memory-sink materializer,
# symlink stream dirs) lives in the registry-free ``_stream_helpers``
# leaf module so that alphabetically-earlier siblings (web_dedup_stream)
# can share it without a circular import through ``..queries``.


def _events_stream_dir(sf_dir: str) -> str:
    return table_stream_dir(sf_dir, "events")


@query("streaming_window_metrics", oracle=_WINDOW_METRICS_ORACLE)
def q_streaming_window_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship aggregate through the real Structured-Streaming path
    (file stream -> watermarked-window-capable agg -> memory sink, complete
    mode, availableNow) — hash-checked against the same batch oracle, i.e.
    streaming/batch parity as a first-class correctness gate."""
    from ..streaming.pipeline import events_file_stream, streaming_window_metrics

    tx = as_transactions(events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir)))
    agg = streaming_window_metrics(tx, window_duration="10 seconds")
    return _run_stream_to_table(agg, "complete")


@query("streaming_sliding_window_counts", oracle=_SLIDING_ORACLE)
def q_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows through the real streaming path, complete
    mode — same window-expansion oracle as the batch operator, so every
    window-variant aggregation (tumbling/sliding/session) now has a
    streaming/batch-parity gate."""
    from ..streaming.pipeline import events_file_stream

    events = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    return _run_stream_to_table(sliding_window_counts(events), "complete")


_DEDUP_KEYS_ORACLE = """
SELECT user_id, event_type FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


@query("streaming_dedup_keys", oracle=_DEDUP_KEYS_ORACLE)
def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream deduplication (the stream twin of exact dedup): emit each
    (user_id, event_type) key once, on first sight, via streaming
    dropDuplicates in append mode. State is one entry per distinct key —
    fine for a bounded backfill like this; an unbounded 24/7 stream would
    use dropDuplicatesWithinWatermark to bound state at the cost of
    re-emitting keys not seen within the watermark horizon."""
    from ..streaming.pipeline import events_file_stream

    events = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    deduped = events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_stream_to_table(deduped, "append")


@query("streaming_dedup_within_watermark", oracle=_DEDUP_KEYS_ORACLE)
def q_streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-BOUNDED streaming dedup: dropDuplicatesWithinWatermark keeps a
    key's state only for the watermark horizon instead of forever — the
    24/7 form of `streaming_dedup_keys`. With the horizon (45 days) wider
    than the finite corpus' time span, no key can be re-emitted, so the
    result equals the batch distinct oracle; an unbounded deployment picks
    the horizon as its dedup guarantee window and trades re-emission beyond
    it for bounded state."""
    from pyspark.sql import functions as F

    from ..streaming.pipeline import events_file_stream

    events = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    deduped = (
        events.withWatermark("ts", "45 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_stream_to_table(deduped, "append")


_RUNNING_COUNT_ORACLE = """
SELECT user_id, event_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
         AS running_count
FROM events
ORDER BY user_id, event_id
"""


@query("streaming_running_counts", oracle=_RUNNING_COUNT_ORACLE)
def q_streaming_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event counter with GroupState across batches. Over the finite stream
    (single availableNow batch per key here) the result equals the batch
    row_number window — the full oracle gates the custom-state path the
    same way the built-in aggregations are gated."""
    from ..streaming.pipeline import events_file_stream
    from ..streaming.stateful import running_event_counts

    events = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    return _run_stream_to_table(running_event_counts(events), "append")



_INTERVAL_JOIN_COND = (
    "c_user = e_user AND e_ts >= c_ts - INTERVAL 1 HOUR"
    " AND e_ts <= c_ts + INTERVAL 1 HOUR"
)


def _click_error_streams(spark: SparkSession, d: str, watermark: str):
    """The clicks/errors halves of the events file stream (one source
    DataFrame fanned out to both sides, each independently watermarked)
    plus the shared ±1 h interval-join predicate — the single definition
    behind the inner / left-outer / left-semi interval-join queries, so the
    range bound and watermark policy cannot silently diverge between
    them."""
    from pyspark.sql import functions as F

    from ..streaming.pipeline import events_file_stream

    s = events_file_stream(spark, d)
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    errors = (
        s.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("value").alias("e_value"),
        )
        .withWatermark("e_ts", watermark)
    )
    return clicks, errors, F.expr(_INTERVAL_JOIN_COND)


@query("streaming_interval_join", oracle=_INTERVAL_ORACLE)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join — Structured Streaming's marquee stateful
    operator: two independently-watermarked streams (clicks, errors) joined
    on user with an event-time range condition. The watermarks plus the
    range bound let Spark expire join state on both sides (without them a
    stream-stream join's state grows forever); inner-join results emit as
    matched, so the finite availableNow run produces exactly the batch
    interval-join result and is hash-checked against the SAME oracle as
    `interval_join_click_errors`."""
    from pyspark.sql import functions as F

    clicks, errors, cond = _click_error_streams(
        _stream_session(spark), _events_stream_dir(sf_dir), "2 hours"
    )
    joined = clicks.join(errors, cond).select(
        "click_id",
        "error_id",
        F.col("c_user").alias("user_id"),
        F.round("e_value", 6).alias("error_value"),
    )
    return _run_stream_to_table(joined, "append")


_OUTER_INTERVAL_ORACLE = """
SELECT c.event_id AS click_id, e.event_id AS error_id,
       c.user_id AS user_id, round(e.value, 6) AS error_value
FROM events c
LEFT JOIN events e
  ON c.user_id = e.user_id
 AND e.event_type = 'error'
 AND e.ts >= c.ts - INTERVAL 1 HOUR
 AND e.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
ORDER BY click_id, error_id
"""

# One watermark-flush sentinel dir per sf_dir (symlink to events.parquet +
# one sentinel file holding a click and an error 3 h past max event time).
_OUTER_DIRS: dict[str, str] = {}


def _events_outer_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    d = _OUTER_DIRS.get(sf_dir)
    if d is None or not os.path.isdir(d):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        d = tempfile.mkdtemp(prefix="events_outer_")
        os.symlink(f"{sf_dir}/events.parquet", os.path.join(d, "events.parquet"))
        mx_us = (
            load_table(spark, sf_dir, "events").agg(F.max(F.unix_micros("ts"))).head()[0]
        )
        sent_us = mx_us + 3 * 3600 * 10**6
        # The sentinel file must carry ts in the SAME physical encoding as
        # the real events file (the stream schema is fixed per directory):
        # TIMESTAMP(MICROS) when the driver generated timestamps natively,
        # raw int64 epoch-nanos when it generated TIMESTAMP(NANOS) (which
        # nanosAsLong surfaces as LongType).
        ts_type = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
        if pa.types.is_timestamp(ts_type) and ts_type.unit == "us":
            sent_ts = pa.array([sent_us, sent_us], ts_type)
        else:
            sent_ts = pa.array([sent_us * 1000, sent_us * 1000], pa.int64())
        tbl = pa.table(
            {
                "event_id": pa.array([-1, -2], pa.int64()),
                "ts": sent_ts,
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["click", "error"]),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"]),
            }
        )
        pq.write_table(tbl, os.path.join(d, "z_sentinel.parquet"))
        _OUTER_DIRS[sf_dir] = d
    return d


@query("streaming_interval_join_outer", oracle=_OUTER_INTERVAL_ORACLE)
def q_streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM **LEFT OUTER** interval join — the hardest streaming
    join semantics: an unmatched left row may only emit (with nulls) once
    the watermark proves no future match can arrive, so the finite stream
    needs its watermark pushed past the last click's join window. A
    SENTINEL event pair 3 h after max event time does that (the punctuation
    /heartbeat pattern real pipelines use), and the availableNow run's
    trailing no-data microbatch flushes the outer state.

    Two traps this query pins down, on purpose:
    - The sentinel must flow through BOTH watermark nodes (the global
      watermark is the min across inputs), hence one sentinel per side.
    - Sentinels must be removed AFTER materialization, in the batch read of
      the memory table. Filtering `user_id >= 0` inside the streaming plan
      propagates through the join's equi-condition into the parquet scans,
      where min/max stats skip the whole sentinel file — silently deleting
      the watermark advance and withholding the late tail. (Predicate
      pushdown and watermark punctuation interact!)

    Hash-checked against the batch LEFT JOIN oracle: every click appears,
    matched rows carry the error, unmatched carry nulls."""
    from pyspark.sql import functions as F

    clicks, errors, cond = _click_error_streams(
        _stream_session(spark), _events_outer_stream_dir(spark, sf_dir), "10 minutes"
    )
    joined = clicks.join(errors, cond, "leftOuter").select(
        "click_id",
        "error_id",
        F.col("c_user").alias("user_id"),
        F.round("e_value", 6).alias("error_value"),
    )
    out = _run_stream_to_table(joined, "append")
    # batch-side sentinel removal (see docstring: NOT inside the stream)
    return out.filter(F.col("click_id") >= 0).orderBy("click_id", "error_id")


@query("streaming_session_windows", oracle=_SESSION_ORACLE)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows through the REAL streaming path —
    ``session_window`` under a watermark is where streaming state semantics
    actually bite (merging sessions, not just accumulating panes). Complete
    mode over the finite stream, hash-checked against the same
    gaps-and-islands batch oracle as the batch query."""
    from ..streaming.pipeline import events_file_stream, streaming_session_windows

    events = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    agg = streaming_session_windows(events, gap="10 minutes", watermark="5 seconds")
    return _run_stream_to_table(agg, "complete")

_CHAINED_ORACLE = """
WITH hourly AS (
  SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, epoch_ms(date_trunc('day', h))::BIGINT AS day_ms,
       max(n) AS max_hourly, CAST(count(*) AS BIGINT) AS n_hours
FROM hourly
WHERE date_trunc('day', h) + INTERVAL 1 DAY
      <= (SELECT max(ts) - INTERVAL 5 SECONDS FROM events)
GROUP BY 1, 2
ORDER BY event_type, day_ms
"""


@query("streaming_chained_agg", oracle=_CHAINED_ORACLE)
def q_streaming_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED windowed aggregations in one streaming query — two stateful
    operators stacked (hourly counts re-aggregated into daily max/count) —
    exercising multi-stateful-operator watermark propagation (Spark 3.4+:
    the downstream agg windows over ``window_time`` of the upstream window
    column). Flink expresses this as window(...).aggregate() feeding a
    second keyed window; here both levels stay declarative and the state
    for each level is bounded by its own watermark horizon. Append mode
    emits each day's row once its watermark passes. A day finalizes iff
    the FINAL watermark (max event ts minus the 5 s delay) reaches its
    window END — and the oracle encodes exactly that bound
    (``day + 1 day <= max(ts) - 5 s``), not the superficially-equivalent
    "every day before max(ts)'s day": the two disagree precisely when max
    ts falls within 5 s after midnight, where the last closed day's window
    is still held open by the watermark delay."""
    from pyspark.sql import functions as F

    from ..streaming.pipeline import events_file_stream

    events = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    hourly = (
        events.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w1"), "1 day").alias("w2"), "event_type"
        )
        .agg(F.max("n").alias("max_hourly"), F.count(F.lit(1)).alias("n_hours"))
        .select(
            "event_type",
            F.unix_millis(F.col("w2.start")).alias("day_ms"),
            "max_hourly",
            "n_hours",
        )
    )
    out = _run_stream_to_table(daily, "append")
    return out.orderBy("event_type", "day_ms")


from ._shared_oracles import CEP_FUNNEL_ORACLE  # noqa: E402


@query("streaming_cep_funnel", oracle=CEP_FUNNEL_ORACLE)
def q_streaming_cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `cep_funnel_sequences` (Flink CEP analogue): the
    view->click->purchase pattern matched INCREMENTALLY by a custom
    stateful operator whose per-key state is three longs (the running
    'last view' / 'last qualifying click' / its view) — the monotone-state
    reduction of the NFA, advanced vectorized per micro-batch. Shares the
    batch query's full oracle, so the incremental matcher is hash-gated
    against the declarative window formulation."""
    from ..streaming.pipeline import events_file_stream
    from ..streaming.stateful import cep_funnel_matches

    events = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    out = _run_stream_to_table(cep_funnel_matches(events), "append")
    return out.orderBy("user_id", "purchase_id")



from ._shared_oracles import EWMA_ORACLE as _EWMA_ORACLE_BATCH  # noqa: E402


@query("streaming_ewma", oracle=_EWMA_ORACLE_BATCH)
def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `ewma_smoothing`: the per-key recursion carried
    across micro-batches in ONE double of GroupState — the minimal
    stateful-smoothing operator (Flink's keyed-process-function staple).
    Same operand order as the batch operator and the recursive-CTE oracle,
    so all three are hash-identical on the finite stream."""
    from ..streaming.pipeline import events_file_stream
    from ..streaming.stateful import ewma_events

    events = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    out = _run_stream_to_table(ewma_events(events), "append")
    return out.orderBy("user_id", "event_id")


_STREAM_STATIC_ORACLE = """
WITH profile AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS lifetime_events,
         round(avg(value), 6) AS lifetime_avg
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, round(e.value, 6) AS value,
       p.lifetime_events, p.lifetime_avg
FROM events e JOIN profile p ON e.user_id = p.user_id
WHERE e.event_type = 'purchase'
ORDER BY e.event_id
"""


@query("streaming_static_enrich", oracle=_STREAM_STATIC_ORACLE)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the enrichment pattern every production stream
    runs (events against a dimension/profile table): the static side is a
    batch DataFrame joined per micro-batch, no watermark or join state
    needed (unlike stream-stream). The static side here is the per-user
    profile aggregate built batch-side; Spark broadcasts it into each
    micro-batch. Finite-stream result equals the batch join oracle."""
    from pyspark.sql import functions as F

    from ..streaming.pipeline import events_file_stream

    # Both sides on ONE clone session: a static/stream join must resolve
    # within a single SparkSession, so the profile aggregate is built on
    # the stream's session, not the shared one.
    stream_spark = _stream_session(spark)
    profile = (
        load_table(stream_spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("lifetime_events"),
            F.round(F.avg("value"), 6).alias("lifetime_avg"),
        )
    )
    stream = events_file_stream(stream_spark, _events_stream_dir(sf_dir)).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream.join(F.broadcast(profile), "user_id").select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
        "lifetime_events",
        "lifetime_avg",
    )
    out = _run_stream_to_table(joined, "append")
    return out.orderBy("event_id")


from ._shared_oracles import ZSCORE_ORACLE  # noqa: E402


@query("streaming_zscore_anomalies", oracle=ZSCORE_ORACLE)
def q_streaming_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `zscore_anomalies`: the bounded ROWS frame
    becomes a 20-value ring buffer per key in GroupState (O(frame) state —
    the streaming form of the batch frame bound), each event scored
    out-of-sample before entering the buffer. Same full oracle as the
    batch query, so the incremental statistics are hash-gated against the
    declarative window formulation."""
    from ..streaming.pipeline import events_file_stream
    from ..streaming.stateful import zscore_anomaly_stream

    events = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    out = _run_stream_to_table(zscore_anomaly_stream(events), "append")
    return out.select("event_id", "user_id", "value", "zscore").orderBy("event_id")


# --- stream-stream LEFT SEMI join ----------------------------------------

_SEMI_JOIN_ORACLE = """
SELECT c.event_id AS click_id, c.user_id,
       epoch_ms(c.ts)::BIGINT AS click_ms
FROM events c
WHERE c.event_type = 'click' AND EXISTS (
  SELECT 1 FROM events e
  WHERE e.event_type = 'error' AND e.user_id = c.user_id
    AND e.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts + INTERVAL 1 HOUR)
ORDER BY click_id
"""


@query("streaming_semi_join", oracle=_SEMI_JOIN_ORACLE)
def q_streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join (supported since Spark 3.1):
    clicks that had SOME error from the same user within ±1 hour — the
    existence filter emitted without duplicating per-error rows (the inner
    interval join's fan-out) and without carrying error columns. Same
    watermark + range state-expiry mechanics as the inner join; the oracle
    is the batch EXISTS subquery, so the semi semantics (at-most-once per
    click) are hash-gated."""
    from pyspark.sql import functions as F

    clicks, errors, cond = _click_error_streams(
        _stream_session(spark), _events_stream_dir(sf_dir), "2 hours"
    )
    joined = clicks.join(errors, cond, "left_semi").select(
        "click_id",
        F.col("c_user").alias("user_id"),
        F.unix_millis("c_ts").alias("click_ms"),
    )
    return _run_stream_to_table(joined, "append").orderBy("click_id")


# --- streaming shard manifest (incremental integrity fingerprint) ---------

_STREAM_MANIFEST_ORACLE = """
WITH t AS (
  SELECT ('0x' || substr(md5('mf:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
           % 8 AS shard,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' || event_type), 1, 15))::BIGINT
           AS row_hash,
         value
  FROM events
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(value), 2) AS total_value,
       CAST(bit_xor(row_hash) AS BIGINT) AS content_xor
FROM t GROUP BY shard ORDER BY shard
"""


@query("streaming_shard_manifest", oracle=_STREAM_MANIFEST_ORACLE)
def q_streaming_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-addressed shard manifest (shard_manifest_integrity)
    maintained INCREMENTALLY by the streaming engine: bit_xor and count are
    both mergeable, so the running manifest of an ingest stream updates
    per micro-batch in O(shards) state — continuous integrity accounting
    for an ingest pipeline, no post-hoc full scan. The finite availableNow
    run must produce the same cells as the batch manifest (the oracle):
    commutativity of xor across arbitrary micro-batch splits is exactly
    the property being gated."""
    from pyspark.sql import functions as F

    from ..streaming.pipeline import events_file_stream

    ev = events_file_stream(_stream_session(spark), _events_stream_dir(sf_dir))
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mf:"), F.col("event_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 8
    )
    row_hash = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("event_id").cast("string"), "event_type")),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    agg = (
        ev.select(shard.alias("shard"), row_hash.alias("row_hash"), "value")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.bit_xor("row_hash").cast("bigint").alias("content_xor"),
        )
    )
    return _run_stream_to_table(agg, "complete").orderBy("shard")


# --- streaming mergeable distinct-count sketch ----------------------------

_STREAM_THETA_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS est_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("streaming_theta_distinct", oracle=_STREAM_THETA_ORACLE)
def q_streaming_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct users via a THETA SKETCH maintained by the
    streaming engine: the sketch is the mergeable-aggregate answer to
    streaming COUNT(DISTINCT) — O(k) state per group regardless of
    cardinality, unioned associatively across micro-batches (exact
    distinct in a stream would need unbounded state). The finite
    availableNow run's estimate must land within 3% of the batch exact
    count (bound-in-oracle pattern); at the sketch's exact-mode
    cardinalities the estimate is literally exact, so the gate is really
    testing cross-batch union associativity."""
    from pyspark.sql import functions as F

    from ..sources.batch import load_table
    from ..streaming.pipeline import events_file_stream

    # Stream AND the exact-count comparison side on ONE clone session —
    # the final join must resolve within a single SparkSession.
    stream_spark = _stream_session(spark)
    ev = events_file_stream(stream_spark, _events_stream_dir(sf_dir))
    agg = ev.groupBy("event_type").agg(F.theta_sketch_agg("user_id").alias("sk"))
    tbl = _run_stream_to_table(agg, "complete")
    exact = (
        load_table(stream_spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )
    est = F.theta_sketch_estimate("sk")
    return (
        tbl.join(exact, "event_type")
        .select(
            "event_type",
            "n_users",
            (F.abs(est - F.col("n_users")) <= 0.03 * F.col("n_users")).alias("est_ok"),
        )
        .orderBy("event_type")
    )
