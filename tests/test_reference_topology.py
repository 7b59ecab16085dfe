"""The reference's WHOLE job graph composed in one live test: a single
events source fanned out to the risk path (P1-P3 -> sink) and the metrics
path (W1/A1-A5 -> K3 JDBC), with the complete observability plane attached
— WebSocket push (K5/O2) and Prometheus scrape (O6) — all running at once.

Every prior test exercises one leg; the reference (StreamJob.java) runs
them as ONE topology: the Kafka topic feeds both the risk labeler and the
windowed aggregate, whose metrics land in PostgreSQL while MetricsService
pushes to STOMP dashboards and Prometheus scrapes the reporter. This test
is the switch-over artifact: both paths verified against their batch
oracles AND the push/scrape planes observed live, concurrently.
"""

from __future__ import annotations

import json
import time
import urllib.request
import uuid

from pyspark.sql import functions as F

from flink_stream_processing_spark.operators.risk import format_risk_lines, label_risk
from flink_stream_processing_spark.operators.window_metrics import (
    as_transactions,
    window_metrics_over_events,
)
from flink_stream_processing_spark.sources.batch import load_table
from flink_stream_processing_spark.streaming.pipeline import (
    events_file_stream,
    streaming_window_metrics,
    write_jdbc_metrics,
    write_memory,
)
from flink_stream_processing_spark.streaming.prometheus import (
    PrometheusMetricsListener,
    PrometheusRegistry,
    PrometheusScrapeEndpoint,
)
from flink_stream_processing_spark.streaming.push import (
    MetricsPushServer,
    WebSocketMetricsPush,
)

from .conftest import SF_SMALL
from .test_observability import _ws_connect, _ws_read_text_frame

DERBY_PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}


def test_reference_topology_composed_end_to_end(spark, tmp_path):
    d = tmp_path / "events_dir"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{SF_SMALL}/events.parquet")

    # streams on a session clone, so only these queries reach the
    # listeners: they register on the clone's manager because the queries
    # start there
    stream_spark = spark.newSession()

    srv = MetricsPushServer()
    push_listener = WebSocketMetricsPush(srv)
    registry = PrometheusRegistry()
    endpoint = PrometheusScrapeEndpoint(registry)
    prom_listener = PrometheusMetricsListener(registry)
    stream_spark.streams.addListener(push_listener)
    stream_spark.streams.addListener(prom_listener)
    try:
        # dashboard client connects BEFORE the topology starts, like a
        # real dashboard session
        ws, _, _ = _ws_connect(srv.host, srv.port)
        deadline = time.time() + 10
        while srv.client_count == 0 and time.time() < deadline:
            time.sleep(0.05)

        # ONE source definition fanned out to both paths (S1/S2
        # single-read fan-out — the reference reads the topic twice)
        tx = as_transactions(events_file_stream(stream_spark, str(d)))

        # risk path: P2 label + P3 format (deterministic projection so the
        # sink content is oracle-comparable), memory sink as the print twin
        risk = format_risk_lines(
            label_risk(tx, with_latency=False), with_latency=False
        )
        risk_name = f"risk_{uuid.uuid4().hex[:8]}"
        q_risk = write_memory(risk, risk_name, output_mode="append")

        # metrics path: watermarked window aggregate -> JDBC append (K3)
        url = f"jdbc:derby:{tmp_path}/topodb;create=true"
        agg = streaming_window_metrics(tx, watermark="5 seconds")
        q_metrics = (
            write_jdbc_metrics(
                agg, url, properties=DERBY_PROPS, checkpoint=str(tmp_path / "ck")
            )
            .trigger(availableNow=True)
            .start()
        )

        assert q_risk.awaitTermination(180), "risk path did not finish"
        assert q_metrics.awaitTermination(180), "metrics path did not finish"

        # --- leg 1: risk sink content == batch oracle ---------------------
        events = load_table(spark, SF_SMALL, "events")
        batch_risk = sorted(
            tuple(r)
            for r in format_risk_lines(
                label_risk(as_transactions(events), with_latency=False),
                with_latency=False,
            ).collect()
        )
        got_risk = sorted(
            tuple(r) for r in stream_spark.table(risk_name).collect()
        )
        assert got_risk == batch_risk

        # --- leg 2: JDBC table == batch flagship (closed windows) ---------
        max_ts = events.agg(F.max("ts")).head()[0]
        wm_ms = int(max_ts.timestamp() * 1000) - 5000
        batch_metrics = sorted(
            tuple(r)
            for r in window_metrics_over_events(events)
            .filter(F.col("window_end") <= wm_ms)
            .collect()
        )
        written = sorted(
            tuple(r)
            for r in spark.read.jdbc(
                url, "remittance_metrics", properties=DERBY_PROPS
            ).collect()
        )
        assert written == batch_metrics
        assert len(written) > 0

        # --- leg 3: the dashboard client saw live metrics -----------------
        ws.settimeout(30)
        msg = json.loads(_ws_read_text_frame(ws))
        assert msg["topic"] == "/topic/metrics"
        assert msg["batch_id"] >= 0
        ws.close()

        # --- leg 4: Prometheus scrape carries the progress gauges ---------
        with urllib.request.urlopen(
            f"http://{endpoint.host}:{endpoint.port}/metrics", timeout=10
        ) as resp:
            body = resp.read().decode()
        assert "spark_streaming_input_rows_per_second" in body
        assert "spark_streaming_batch_duration_ms" in body
    finally:
        stream_spark.streams.removeListener(push_listener)
        stream_spark.streams.removeListener(prom_listener)
        endpoint.close()
        srv.close()
