"""``progress_record``: the one progress-to-metrics mapping every listener
reads. Checked on a live query with two state operators
(``dropDuplicates`` -> streaming session windows) against a recomputation
from the raw progress JSON, and through all three shipped listeners."""

from __future__ import annotations

import json
import os
import time
import uuid
from types import SimpleNamespace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_stream_processing_spark.streaming.metrics import (
    ProgressCollector,
    ProgressListener,
    progress_record,
)
from flink_stream_processing_spark.streaming.pipeline import (
    streaming_session_windows,
    write_memory,
)
from flink_stream_processing_spark.streaming.prometheus import (
    PrometheusMetricsListener,
    PrometheusRegistry,
)
from flink_stream_processing_spark.streaming.push import WebSocketMetricsPush

EPOCH = 1704067200000  # 2024-01-01 00:00:00 UTC


class _Capture(ProgressListener):
    """Keeps each listener event's raw ``StreamingQueryProgress``."""

    def __init__(self) -> None:
        self.events: list = []

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.events.append(event.progress)


class _Broadcasts:
    """Stands in for ``MetricsPushServer``: keeps each pushed payload."""

    def __init__(self) -> None:
        self.payloads: list[dict] = []

    def broadcast(self, text: str) -> None:
        self.payloads.append(json.loads(text))


@pytest.fixture(scope="module")
def two_state_stream(spark, tmp_path_factory):
    """Two files of five events for two users, each with one redelivered
    event; deduplicated, then sessionized (10 s gap). Listeners sit on a
    session clone so only this query reaches them."""
    d = tmp_path_factory.mktemp("dedup_sessions")
    for f in range(2):
        rows = [(f * 10 + i, EPOCH + f * 20000 + i * 1000) for i in range(5)]
        rows.append(rows[0])
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] * 1000 for r in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[0] % 2 for r in rows], pa.int64()),
        })
        path = d / f"f{f}.parquet"
        pq.write_table(tbl, path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))

    stream_spark = spark.newSession()
    s = SimpleNamespace(capture=_Capture(), collector=ProgressCollector(),
                        registry=PrometheusRegistry(), push=_Broadcasts(),
                        name=f"two_state_{uuid.uuid4().hex[:8]}")
    listeners = [s.capture, s.collector, PrometheusMetricsListener(s.registry),
                 WebSocketMetricsPush(s.push)]
    for listener in listeners:
        stream_spark.streams.addListener(listener)
    try:
        events = (stream_spark.readStream.schema("event_id long, ts timestamp, user_id long")
                  .option("maxFilesPerTrigger", 1).parquet(str(d)))
        agg = streaming_session_windows(events.dropDuplicates(["event_id"]), gap="10 seconds")
        q = write_memory(agg, s.name)
        assert q.awaitTermination(120)
        s.recent = q.recentProgress
        deadline = time.time() + 30  # the listener bus delivers asynchronously
        while time.time() < deadline and len(s.push.payloads) < len(s.recent):
            time.sleep(0.1)
    finally:
        for listener in listeners:
            stream_spark.streams.removeListener(listener)
    s.raw = [json.loads(p.json) for p in s.recent]
    assert len(s.raw) >= 2 and all(len(e["stateOperators"]) == 2 for e in s.raw)
    assert len(s.capture.events) == len(s.collector.progress) == len(s.push.payloads) == len(s.raw)
    return s


def _ms(iso: str) -> int:
    return pd.Timestamp(iso).value // 1_000_000


def _expected(e: dict) -> dict:
    """The record recomputed from one raw progress JSON object."""
    d, ops, ev = e["durationMs"], e["stateOperators"], e["eventTime"]
    state_bytes = sum(o["memoryUsedBytes"] for o in ops)
    return {
        "query": e["name"],
        "batch_id": e["batchId"],
        "num_input_rows": e["numInputRows"],
        "input_rows_per_sec": e.get("inputRowsPerSecond"),
        "processed_rows_per_sec": e.get("processedRowsPerSecond"),
        "batch_duration_ms": d["triggerExecution"],
        "add_batch_ms": d.get("addBatch", 0),
        "commit_offsets_ms": d.get("commitOffsets", 0),
        "get_batch_ms": d.get("getBatch", 0),
        "latest_offset_ms": d.get("latestOffset", 0),
        "query_planning_ms": d.get("queryPlanning", 0),
        "wal_commit_ms": d.get("walCommit", 0),
        "state_rows": sum(o["numRowsTotal"] for o in ops),
        "state_bytes": state_bytes,
        "state_memory_mb": state_bytes / 2**20,
        "state_commit_ms": sum(o["commitTimeMs"] for o in ops),
        "state_update_ms": sum(o["allUpdatesTimeMs"] for o in ops),
        "late_rows_dropped": sum(o["numRowsDroppedByWatermark"] for o in ops),
        "dup_rows_dropped": sum(o["customMetrics"].get("numDroppedDuplicateRows", 0) for o in ops),
        "state_partitions": max(o["numShufflePartitions"] for o in ops),
        "watermark_ms": _ms(ev["watermark"]),
        "event_time_lag_ms": (_ms(e["timestamp"]) + d["triggerExecution"] - _ms(ev["max"])
                              if "max" in ev else None),
    }


def test_record_matches_raw_progress_json(two_state_stream):
    s = two_state_stream
    records = [progress_record(p) for p in s.recent]
    assert records == [_expected(e) for e in s.raw]
    # the stream exercised the fields: duplicates dropped, event time seen
    assert sum(r["dup_rows_dropped"] for r in records) == 2
    assert any(r["event_time_lag_ms"] is not None for r in records)


def test_listener_event_and_recent_progress_give_one_record(two_state_stream):
    s = two_state_stream
    from_events = {(p["batchId"], p["timestamp"]): progress_record(p) for p in s.capture.events}
    for p in s.recent:
        assert from_events[(p["batchId"], p["timestamp"])] == progress_record(p)


def test_every_listener_sums_all_state_operators(two_state_stream):
    """ProgressCollector, the Prometheus gauge and the push payload report
    state summed over both operators (dedupe + session store), not the
    first operator alone."""
    s = two_state_stream
    rows = {e["batchId"]: sum(o["numRowsTotal"] for o in e["stateOperators"]) for e in s.raw}
    mb = {e["batchId"]: sum(o["memoryUsedBytes"] for o in e["stateOperators"]) / 2**20
          for e in s.raw}
    assert {r["batch_id"]: r["state_rows"] for r in s.collector.progress} == rows
    assert {m["batch_id"]: m["state_memory_mb"] for m in s.push.payloads} == mb
    exposition = s.registry.render()
    last = s.raw[-1]["batchId"]
    assert f'spark_streaming_state_rows{{query="{s.name}"}} {float(rows[last])}' in exposition


def test_every_listener_reports_one_state_partition(two_state_stream):
    """On ``get_spark``'s local session both state operators commit one
    store per batch, and ProgressCollector, the push payload and the
    Prometheus gauge all say so."""
    s = two_state_stream
    assert {o["numShufflePartitions"] for e in s.raw for o in e["stateOperators"]} == {1}
    assert {r["state_partitions"] for r in s.collector.progress} == {1}
    assert {m["state_partitions"] for m in s.push.payloads} == {1}
    assert f'spark_streaming_state_partitions{{query="{s.name}"}} 1.0' in s.registry.render()
