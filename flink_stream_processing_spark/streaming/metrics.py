"""Observability (SURVEY.md §2.7 O1-O3): the reference polls Prometheus
every 5 s and pushes formatted metrics over STOMP (MetricsService.java:78-112).
Spark inverts this: ``StreamingQueryListener`` receives progress events
push-style — no polling, no scrape gap.

Metric mapping (O1), in one place: ``progress_record`` turns one
``StreamingQueryProgress`` (a listener event's or a ``recentProgress``
entry) into one flat record, and every listener — ``ProgressCollector``,
the Prometheus endpoint (streaming/prometheus.py) and the WebSocket push
(streaming/push.py) — reads that same record. Its fields:

- ``query`` (name, else id), ``batch_id``, ``num_input_rows``;
- ``input_rows_per_sec`` / ``processed_rows_per_sec`` (records in/out);
- ``batch_duration_ms`` (``triggerExecution``, the batch latency) and the
  ``durationMs`` phases ``add_batch_ms``, ``commit_offsets_ms``,
  ``get_batch_ms``, ``latest_offset_ms``, ``query_planning_ms``,
  ``wal_commit_ms``;
- sums over EVERY state operator: ``state_rows``, ``state_bytes`` (and
  ``state_memory_mb``), ``state_commit_ms``, ``state_update_ms``,
  ``late_rows_dropped`` (behind the watermark) and ``dup_rows_dropped``;
- ``state_partitions``: the largest ``numShufflePartitions`` over the
  state operators (0 without state), the state-store count each operator
  commits per batch (``session.get_spark``);
- ``watermark_ms``, and ``event_time_lag_ms``: batch end (start +
  ``triggerExecution``) minus the newest event time, the reference's
  ``Latency`` field. Each is None when the batch reports no event time.

Backpressure has no direct analogue (micro-batch pulls; a growing batch
duration is the signal).
"""

from __future__ import annotations

import math
from datetime import datetime
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener


def bytes_to_mb(b: float) -> float:
    """O3 unit formatting (MetricsService.java:117-140)."""
    return b / (1024.0 * 1024.0)


def ratio_to_pct(r: float) -> float:
    return r * 100.0


# durationMs phase -> record key; triggerExecution (the batch total) is batch_duration_ms
_PHASES = {"addBatch": "add_batch_ms", "commitOffsets": "commit_offsets_ms", "getBatch": "get_batch_ms",
           "latestOffset": "latest_offset_ms", "queryPlanning": "query_planning_ms", "walCommit": "wal_commit_ms"}


def _epoch_ms(iso: str | None) -> int | None:
    return None if iso is None else round(datetime.fromisoformat(iso).timestamp() * 1000)


def _rate(x: float | None) -> float | None:
    """Spark's progress JSON drops NaN rates and rounds the rest half up to
    one decimal; a listener event keeps the raw double. Round alike."""
    if x is None or not math.isfinite(x):
        return None
    return float(Decimal(repr(x)).quantize(Decimal("0.1"), ROUND_HALF_UP))


def progress_record(progress) -> dict[str, Any]:
    """One flat metrics record (fields in the module docstring) from a
    listener's ``StreamingQueryProgress`` or a ``recentProgress`` entry;
    both are dicts with the progress JSON's keys."""
    p = progress
    d, ops, ev = p["durationMs"], p["stateOperators"], p["eventTime"]
    trigger_ms = d.get("triggerExecution", 0)
    state_bytes = sum(o["memoryUsedBytes"] for o in ops)
    newest = _epoch_ms(ev.get("max"))
    return {
        "query": p["name"] or str(p["id"]),
        "batch_id": p["batchId"],
        "num_input_rows": p["numInputRows"],
        "input_rows_per_sec": _rate(p["inputRowsPerSecond"]),
        "processed_rows_per_sec": _rate(p["processedRowsPerSecond"]),
        "batch_duration_ms": trigger_ms,
        **{key: d.get(phase, 0) for phase, key in _PHASES.items()},
        "state_rows": sum(o["numRowsTotal"] for o in ops),
        "state_bytes": state_bytes,
        "state_memory_mb": bytes_to_mb(state_bytes),
        "state_commit_ms": sum(o["commitTimeMs"] for o in ops),
        "state_update_ms": sum(o["allUpdatesTimeMs"] for o in ops),
        "late_rows_dropped": sum(o["numRowsDroppedByWatermark"] for o in ops),
        "dup_rows_dropped": sum(o["customMetrics"].get("numDroppedDuplicateRows", 0) for o in ops),
        "state_partitions": max((o["numShufflePartitions"] for o in ops), default=0),
        "watermark_ms": _epoch_ms(ev.get("watermark")),
        "event_time_lag_ms": None if newest is None else _epoch_ms(p["timestamp"]) + trigger_ms - newest,
    }


class ProgressListener(StreamingQueryListener):
    """Listener boilerplate, written once (``onQueryIdle`` is a no-op by default)."""

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class ProgressCollector(ProgressListener):
    """Collects one ``progress_record`` per batch (O2's poll loop, push-style)."""

    def __init__(self) -> None:
        self.progress: list[dict[str, Any]] = []

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(progress_record(event.progress))


def observed(df, name: str, *metric_cols):
    """Attach ``Dataset.observe`` metrics to a pipeline stage (Spark's
    zero-cost in-flight accumulators — the batch/streaming analogue of the
    reference's per-operator Prometheus counters, MetricsService.java:33-63):
    the returned (DataFrame, Observation) pair lets a caller read row
    counts / null counts / sums AFTER the next action without a second
    scan of the data. In streaming, the same metrics surface per-batch via
    QueryProgress.observedMetrics under ``name``."""
    from pyspark.sql import Observation

    if df.isStreaming:
        # Streaming rejects Observation objects (one value per micro-batch);
        # the string form routes metrics into QueryProgress.observedMetrics.
        return df.observe(name, *metric_cols), None
    obs = Observation(name)
    return df.observe(obs, *metric_cols), obs
