"""The ``keyed_state_stream`` workload: the reference job, open loop, over
keyed, redelivered traffic.

A seeded generator publishes JSON-wire transactions (the Kafka value
format) into a file-source directory on a fixed schedule. Sender keys are
Zipf-skewed over a million senders and a share of records is redelivered
at least once. The parsed stream is deduplicated on ``transactionId`` and
fans out to three queries: ``risk_stream`` into a foreachBatch sink,
``streaming_window_metrics`` and per-sender ``streaming_session_windows``,
each through ``write_jdbc_metrics`` into embedded Derby. Deduplication and
sessions keep keyed state that is read and written on every batch.

Each run measures the open loop for ``--seconds`` (latency per event),
drains a pre-published backlog through the same pipeline twice
(throughput at a fixed batch size), and checks every delivered row
against a pandas recomputation.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from flink_stream_processing_spark.operators.window_metrics import metric_agg_exprs
from flink_stream_processing_spark.sources.kafka import parse_transaction_wire
from flink_stream_processing_spark.streaming.pipeline import (
    risk_stream,
    streaming_session_windows,
    streaming_window_metrics,
    write_jdbc_metrics,
)

import checks
import gen
from harness import DERBY, Run, jvm_pid, phase, stop_session, timed_setup
from spans import ProgressLog, RssSampler, group_counts, iso_ms, pct

PERIOD_MS = 100  # one file published every 100 ms
# The offered open-loop rate, in events per second; see the README for how
# it follows from the measured latency at a range of rates. ``--rate``
# overrides it.
OPEN_RATE = 1000
# The open loop publishes this many files (8 s) before the measured ones,
# so the measured events meet a warmed, steady pipeline: with 3 s, latency
# in the first half of the measured part ran about 10 % above the second.
WARM_FILES = 80
DRAIN_FILES = 20
DRAIN_PER_FILE = 2000  # 40k-row backlog
DRAIN_FILES_PER_TRIGGER = 5
DRAINS = 2
# The generator must publish within one period of each due time.
GEN_LATE_LIMIT_MS = PERIOD_MS


@dataclass
class RiskSink:
    """foreachBatch sink for the risk rows: per published file, how many
    rows arrived and how many are labelled RISK, with the time the call
    ended (the delivery time of every row in the batch)."""

    batches: list = field(default_factory=list)  # (start, end, [(file, n, risk)])
    delivered: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        rows = (
            df.groupBy(F.substring("transactionId", 2, 6).cast("int").alias("f"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("line").contains("Risk=RISK"), 1).otherwise(0)).alias("risk"),
            )
            .collect()
        )
        t1 = time.time()
        with self._lock:
            self.batches.append((t0, t1, [(r["f"], r["n"], r["risk"]) for r in rows]))
            self.delivered += sum(r["n"] for r in rows)

    def per_file(self) -> pd.DataFrame:
        rows = [x for _, _, b in self.batches for x in b]
        return pd.DataFrame(rows, columns=["file", "n", "risk"]).groupby("file").sum()


@dataclass
class Pipeline:
    name: str
    sink: RiskSink
    risk: object  # StreamingQuery
    windows: object
    sessions: object

    @property
    def queries(self) -> tuple:
        return (self.risk, self.windows, self.sessions)


def derby_url(run: Run) -> str:
    return f"jdbc:derby:{run.path('derby', 'db')};create=true"


def start_pipeline(spark, run: Run, src: str, name: str, trigger: dict,
                   files_per_trigger: int | None = None) -> Pipeline:
    tr = run.tracer
    reader = spark.readStream.format("text")
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    with tr.span("sources.parse_transaction_wire", "sources"):
        tx = parse_transaction_wire(reader.load(src))
    # The package's window and session functions define their own
    # watermark, and Spark refuses a second one after a watermarked
    # deduplication; so redeliveries are dropped with a plain streaming
    # dropDuplicates, whose state holds every key seen.
    tx = tx.dropDuplicates(["transactionId"])
    with tr.span("streaming.risk_stream", "streaming"):
        risk = risk_stream(tx)
    with tr.span("streaming.streaming_window_metrics", "streaming"):
        windows = streaming_window_metrics(tx)
    with tr.span("streaming.streaming_session_windows", "streaming"):
        sessions = streaming_session_windows(tx, gap="3 seconds", key="senderId", watermark="5 seconds")

    def to_jdbc(df, kind: str):
        with tr.span("streaming.write_jdbc_metrics", "streaming"):
            writer = write_jdbc_metrics(
                df, derby_url(run), table=f"{kind}_{name}", properties=DERBY,
                checkpoint=run.dir("ckpt", f"{kind}_{name}"),
            )
        return writer.queryName(f"{kind}_{name}").trigger(**trigger).start()

    sink = RiskSink()
    risk_q = (
        risk.writeStream.foreachBatch(sink)
        .queryName(f"risk_{name}")
        .option("checkpointLocation", run.dir("ckpt", f"risk_{name}"))
        .trigger(**trigger)
        .start()
    )
    return Pipeline(name, sink, risk_q, to_jdbc(windows, "windows"), to_jdbc(sessions, "sessions"))


def stage(data: gen.StreamData, directory: str) -> None:
    """Write the files with increasing modification times, so the file
    source takes them in publish order."""
    gen.write_files(data, directory)
    now = time.time()
    n = len(data.files)
    for k in range(n):
        t = now - (n - k)
        os.utime(os.path.join(directory, gen.file_name(k)), (t, t))


def _wm_ms(progress) -> float:
    wm = (progress or {}).get("eventTime", {}).get("watermark")
    return iso_ms(wm) if wm else 0.0


def watermark_ms(q) -> float:
    return _wm_ms(q.lastProgress)


def batches(q) -> list[tuple[int, float]]:
    """(input rows, watermark ms) of each micro-batch the query ran. An idle
    trigger reports the next batch's id with no rows and no watermark, so
    per id the report with the most rows, then the highest watermark, is
    the batch's own. The session keeps every report (see
    ``harness.start_session``); a gap in the batch ids is an error."""
    seen: dict[int, tuple[int, float]] = {}
    for e in q.recentProgress:
        b = e["batchId"]
        seen[b] = max(seen.get(b, (0, 0.0)), (e["numInputRows"], _wm_ms(e)))
    if sorted(seen) != list(range(len(seen))):
        raise RuntimeError(f"{q.name}: progress reports miss a batch (ids {min(seen)}..{max(seen)}, {len(seen)} reports)")
    return [seen[b] for b in sorted(seen)]


def check_outputs(spark, run: Run, data: gen.StreamData, p: Pipeline) -> None:
    """Compare everything the pipeline delivered with the recomputation.
    The operations are the published events, and the windows and sessions
    either expected or delivered; each fails at most once."""
    events = data.events
    published = int(data.published_rows.sum())
    run.attempted += published
    bad = checks.compare_risk(p.sink.per_file(), checks.expected_risk(events))
    run.fail(min(bad, published), f"{p.name}: risk rows differ from the generated events")

    def table(kind: str) -> pd.DataFrame:
        return spark.read.jdbc(derby_url(run), f"{kind}_{p.name}", properties=DERBY).toPandas()

    def dropped(q) -> pd.DataFrame:
        return events.assign(late=checks.late_dropped(events, data.published_rows, batches(q)))

    want_w = checks.expected_windows(dropped(p.windows), watermark_ms(p.windows))
    bad, n = checks.compare_windows(table("windows"), want_w)
    run.attempted += n
    run.fail(bad, f"{p.name}: window metrics differ from the recomputation")
    want_s = checks.expected_sessions(dropped(p.sessions), watermark_ms(p.sessions))
    bad, n = checks.compare_sessions(table("sessions"), want_s)
    run.attempted += n
    run.fail(bad, f"{p.name}: session windows differ from the recomputation")


def wait_until(cond, timeout: float, what: str) -> None:
    end = time.time() + timeout
    while not cond():
        if time.time() > end:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


def open_loop(spark, run: Run, data: gen.StreamData, name: str) -> dict:
    """Publish ``data`` on schedule into a live pipeline; returns the
    latency of every measured event and what the traced run needs."""
    staging, src = run.dir(name, "staging"), run.dir(name, "src")
    gen.write_files(data, staging)
    p = start_pipeline(spark, run, src, name, {"processingTime": "0 seconds"})
    try:
        wait_until(lambda: all(q.lastProgress for q in p.queries), 60, "queries to start")
        t0 = time.time() + 0.5
        log = run.path(name, "publish.json")
        proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), "publish",
             "--staging", staging, "--target", src, "--t0", repr(t0),
             "--period-ms", str(PERIOD_MS), "--files", str(len(data.files)), "--log", log]
        )
        try:
            proc.wait(timeout=len(data.files) * PERIOD_MS / 1000 + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        with open(log) as f:
            late_ms = json.load(f)["late_ms"]
        want_rows = int(checks.expected_risk(data.events)["n"].sum())
        final_wm = checks.final_watermark(data.events)
        wait_until(
            lambda: p.sink.delivered >= want_rows
            and all(
                watermark_ms(q) >= final_wm
                and not q.status["isTriggerActive"]
                and not q.status["isDataAvailable"]
                for q in (p.windows, p.sessions)
            ),
            60,
            "the open-loop backlog to drain",
        )
    finally:
        for q in p.queries:
            q.stop()
    due = t0 + (np.arange(len(data.files)) + 1) * PERIOD_MS / 1000.0
    # A file is read whole by one batch: (file, events, latency ms), in
    # publish order.
    per_file = sorted(
        (f, n, (end - due[f]) * 1000.0) for _, end, b in p.sink.batches for f, n, _ in b if f >= WARM_FILES
    )
    lat = np.repeat(np.array([x for _, _, x in per_file], dtype=np.float64),
                    np.array([n for _, n, _ in per_file], dtype=np.int64))
    check_outputs(spark, run, data, p)
    gen_late = pct(late_ms, 99)
    if gen_late > GEN_LATE_LIMIT_MS:
        # The run is invalid: every event it published fails.
        run.fail(int(data.published_rows.sum()), f"generator fell behind: p99 publish lateness {gen_late:.1f} ms")
    return {"lat": lat, "pipeline": p, "due": due, "late_ms": late_ms}


def drain(spark, run: Run, data: gen.StreamData, name: str) -> float:
    """Rows per second through the same pipeline over a pre-published
    backlog (trigger availableNow, a few files per batch)."""
    src = run.dir(name, "src")
    stage(data, src)
    t0 = time.perf_counter()
    p = start_pipeline(spark, run, src, name, {"availableNow": True}, DRAIN_FILES_PER_TRIGGER)
    for q in p.queries:
        if not q.awaitTermination(150):
            raise TimeoutError(f"{q.name} did not drain its backlog")
    elapsed = time.perf_counter() - t0
    check_outputs(spark, run, data, p)
    return int(data.published_rows.sum()) / elapsed


def run_stream(run: Run) -> None:
    rate = run.rate or OPEN_RATE
    n_open = WARM_FILES + max(1, run.seconds * 1000 // PERIOD_MS)
    open_data = gen.generate_stream(
        run.seed, gen.StreamSpec(n_open, round(rate * PERIOD_MS / 1000), rate, first_late_file=40))
    # The backlog is the same traffic: DRAIN_FILES * DRAIN_PER_FILE / rate
    # seconds of it, as if the job had been down that long.
    backlogs = [
        gen.generate_stream(run.seed * 1000 + 1 + i,
                            gen.StreamSpec(DRAIN_FILES, DRAIN_PER_FILE, rate,
                                           first_late_file=2 * DRAIN_FILES_PER_TRIGGER))
        for i in range(DRAINS)
    ]
    warm_data = gen.generate_stream(run.seed * 1000, gen.StreamSpec(2, 200, rate, first_late_file=2))

    with phase("set-up"):
        # The warm-up runs the whole pipeline once over a small backlog.
        spark = timed_setup(run, lambda s: drain(s, run, warm_data, "warm"))
    try:
        with RssSampler(jvm_pid(spark)) as rss:
            with phase("open loop"):
                res = open_loop(spark, run, open_data, "open")
            with phase("drains"):
                rates = [drain(spark, run, b, f"drain{i}") for i, b in enumerate(backlogs)]
        lat = res["lat"]
        # A latency that climbs from the first half of the run to the
        # second is a growing backlog: the rate is not sustainable.
        half = len(lat) // 2
        print(f"perfbench: {rate} events/s, latency p50 {pct(lat[:half], 50):.0f} ms in the first half, "
              f"{pct(lat[half:], 50):.0f} ms in the second", file=sys.stderr)
        run.metric("latency_p50_ms", pct(lat, 50), "ms")
        run.metric("latency_p99_ms", pct(lat, 99), "ms")
        run.metric("rows_per_s", statistics.median(rates), "1/s")
        run.metric("peak_rss_mb", rss.peak_mb, "MB")
        if run.trace:
            traced_pass(spark, run, open_data, backlogs[0], pct(lat, 50))
    finally:
        stop_session(spark)


# ----------------------------------------------------------- traced pass

def _progress_spans(run: Run, events: list[dict], sink_batches, parent: int) -> None:
    """Micro-batch spans (streaming) with their list (sources) and sink
    children, rebuilt from the engine's progress reports."""
    tr = run.tracer
    batches = []
    for e in events:
        d = e["durationMs"]
        start = iso_ms(e["timestamp"]) / 1000.0
        sid = tr.add("streaming.batch", "streaming", start, start + d.get("triggerExecution", 0) / 1000.0, parent)
        list_s = (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0
        tr.add("sources.list", "sources", start, start + list_s, sid)
        if e["name"].startswith("risk_"):
            batches.append(tr.spans[sid])
    for s0, s1, _ in sink_batches:
        # The sink call runs inside a risk batch; parent it on that batch.
        inside = next((b.sid for b in batches if b.start <= s0 <= b.end), parent)
        tr.add("sink.risk_foreach_batch", "sink", s0, s1, inside)


def _progress_metrics(run: Run, res: dict, data: gen.StreamData, progress: ProgressLog) -> None:
    p = res["pipeline"]
    per_query = {q.name: [e for _, e in progress.for_query(q.name)] for q in p.queries}
    every = [e for evs in per_query.values() for e in evs]

    def dur(key: str) -> list:
        return [e["durationMs"].get(key, 0) for e in every]

    m = run.metric
    m("streaming.batches", len(every), "count")
    m("streaming.batch_rows_p50", pct([e["numInputRows"] for e in every if e["numInputRows"]], 50), "rows")
    m("streaming.trigger_ms_p50", pct(dur("triggerExecution"), 50), "ms")
    m("streaming.trigger_ms_p99", pct(dur("triggerExecution"), 99), "ms")
    m("streaming.planning_ms_p50", pct(dur("queryPlanning"), 50), "ms")
    m("streaming.commit_ms_p50", pct([a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))], 50), "ms")
    m("streaming.add_batch_ms_p50", pct(dur("addBatch"), 50), "ms")
    m("sources.list_ms_p50", pct([a + b for a, b in zip(dur("latestOffset"), dur("getBatch"))], 50), "ms")

    # State: each query's peak, summed over the queries.
    def ops(e: dict) -> list:
        return e.get("stateOperators", [])

    m("streaming.state_rows", sum(max(sum(o["numRowsTotal"] for o in ops(e)) for e in evs) for evs in per_query.values()), "rows")
    m("streaming.state_bytes", sum(max(sum(o["memoryUsedBytes"] for o in ops(e)) for e in evs) for evs in per_query.values()), "B")
    all_ops = [o for e in every for o in ops(e)]
    m("streaming.state_commit_ms_p50", pct([o["commitTimeMs"] for o in all_ops], 50), "ms")
    m("streaming.state_update_ms_p50", pct([o["allUpdatesTimeMs"] for o in all_ops], 50), "ms")

    # Every query deduplicates, and each must drop exactly the planted
    # redeliveries. Late rows are dropped after partial aggregation, so the
    # engine counts dropped partial rows, not input rows; that late rows
    # are excluded is checked exactly on the outputs instead.
    planted_dups = int(data.events["redelivered"].sum())
    for q in p.queries:
        q_ops = [o for e in per_query[q.name] for o in ops(e)]
        dups = sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in q_ops)
        run.fail(abs(dups - planted_dups), f"{q.name} dropped {dups} duplicate rows, planted {planted_dups}")
        if q is p.sessions:
            m("streaming.dup_rows_dropped", dups, "rows")
            m("streaming.late_rows_dropped", sum(o["numRowsDroppedByWatermark"] for o in q_ops), "rows")

    # Sink time: the risk foreachBatch calls and the JDBC queries' batches.
    sink_ms = [(s1 - s0) * 1000 for s0, s1, _ in p.sink.batches]
    sink_ms += [
        e["durationMs"].get("addBatch", 0)
        for q in (p.windows, p.sessions)
        for e in per_query[q.name]
        if e["numInputRows"] or e["sink"].get("numOutputRows", 0)
    ]
    m("sink.write_ms_p50", pct(sink_ms, 50), "ms")
    m("sink.write_ms_p99", pct(sink_ms, 99), "ms")

    # Backlog at the source: rows published minus rows the risk query read.
    published_at = res["due"] + np.asarray(res["late_ms"]) / 1000.0
    rows_cum = np.cumsum(data.published_rows)
    read, lag = 0, []
    for t, e in sorted(progress.for_query(p.risk.name), key=lambda x: x[0]):
        read += e["numInputRows"]
        n_pub = np.searchsorted(published_at, t, side="right")
        lag.append((rows_cum[n_pub - 1] if n_pub else 0) - read)
    m("sources.offset_lag_rows_max", max(lag, default=0), "rows")
    m("gen.late_ms_p99", pct(res["late_ms"], 99), "ms")

    # Window emission latency: end of the sink write that emitted a window
    # minus the due time of the file whose records closed it.
    ends, prev_wm = [], 0.0
    for e in sorted(per_query[p.windows.name], key=lambda e: e["batchId"]):
        wm = e.get("eventTime", {}).get("watermark")
        wm = iso_ms(wm) if wm else 0.0
        d = e["durationMs"]
        end = (iso_ms(e["timestamp"]) + d.get("triggerExecution", 0) - d.get("commitOffsets", 0)) / 1000.0
        ends.append((prev_wm, wm, end))
        prev_wm = max(prev_wm, wm)
    closed = checks.expected_windows(data.events, checks.final_watermark(data.events))["window_end"].to_numpy()
    lat = []
    for w_end, f in zip(closed, checks.closing_file(data.events, closed)):
        emit = next((end for lo, hi, end in ends if lo < w_end <= hi), None)
        if emit is not None:
            lat.append((emit - res["due"][f]) * 1000.0)
    m("streaming.window_latency_p50_ms", pct(lat, 50), "ms")
    m("streaming.window_latency_p99_ms", pct(lat, 99), "ms")


def traced_pass(spark, run: Run, open_data: gen.StreamData, batch_data: gen.StreamData,
                untraced_p50: float) -> None:
    """The traced run: the open loop again with the progress listener and
    spans, plus forced, timed calls of the parse and window aggregate over
    one workload batch."""
    tr = run.tracer
    progress = ProgressLog()
    spark.streams.addListener(progress)
    try:
        with tr.span("streaming.open_loop", "streaming") as loop_sid:
            res = open_loop(spark, run, open_data, "traced")
        time.sleep(0.5)  # let the listener bus deliver the last reports
    finally:
        spark.streams.removeListener(progress)
    _progress_spans(run, [e for _, e in progress.events], res["pipeline"].sink.batches, loop_sid)
    _progress_metrics(run, res, open_data, progress)
    run.metric("trace.overhead_ms", pct(res["lat"], 50) - untraced_p50, "ms")

    # Forced parse of one workload batch (the first drain backlog).
    sc = spark.sparkContext
    sc.setJobGroup("parse", "forced parse")
    t0 = time.perf_counter()
    with tr.span("sources.parse_forced", "sources"):
        parsed = parse_transaction_wire(spark.read.text(run.dir("drain0", "src"))).localCheckpoint(eager=True)
    run.metric("sources.parse_s", time.perf_counter() - t0, "s")
    n_ok = parsed.count()
    published = int(batch_data.published_rows.sum())
    run.metric("sources.parse_ok_ratio", n_ok / published, "ratio")
    run.attempted += published
    run.fail(abs(n_ok - (published - batch_data.malformed_rows)), "parse kept a malformed row or dropped a valid one")
    sc.setJobGroup("window_agg", "forced window aggregate")
    t0 = time.perf_counter()
    with tr.span("operators.window_agg", "operators"):
        parsed.groupBy(F.window("ts", "10 seconds")).agg(*metric_agg_exprs()).collect()
    run.metric("operators.window_agg_s", time.perf_counter() - t0, "s")
    sc.setLocalProperty("spark.jobGroup.id", None)
    for g in ("parse", "window_agg"):
        jobs, tasks = group_counts(spark, g)
        run.metric(f"spark.jobs.{g}", jobs, "count")
        run.metric(f"spark.tasks.{g}", tasks, "count")
