"""Prometheus scrape endpoint: exposition-format rendering, HTTP serving,
and the live listener bridge (reference prometheus.yaml:5-12 — the pull
half of the observability plane; the push half is tests/test_observability
/ test_stomp)."""

from __future__ import annotations

import time
import urllib.request
import uuid

from flink_stream_processing_spark.streaming.prometheus import (
    PrometheusMetricsListener,
    PrometheusRegistry,
    PrometheusScrapeEndpoint,
)


def test_exposition_format_and_escaping():
    reg = PrometheusRegistry()
    reg.set_gauge("engine_up", 1.0, help_text="liveness")
    reg.set_gauge("rate", 12.5, {"query": 'a"b\\c'}, help_text="labeled")
    reg.inc_counter("rows_total", 100, {"query": "q1"})
    reg.inc_counter("rows_total", 50, {"query": "q1"})
    text = reg.render()
    assert "# HELP engine_up liveness\n# TYPE engine_up gauge\nengine_up 1.0" in text
    assert 'rate{query="a\\"b\\\\c"} 12.5' in text
    assert "# TYPE rows_total counter" in text
    assert 'rows_total{query="q1"} 150.0' in text  # counters accumulate
    assert text.endswith("\n")


def test_scrape_endpoint_serves_metrics():
    reg = PrometheusRegistry()
    reg.set_gauge("engine_up", 1.0)
    ep = PrometheusScrapeEndpoint(reg)
    try:
        url = f"http://{ep.host}:{ep.port}/metrics"
        with urllib.request.urlopen(url, timeout=10) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/plain; version=0.0.4")
            body = resp.read().decode()
        assert "engine_up 1.0" in body
        # non-/metrics paths 404 (scrapers probe only /metrics)
        try:
            urllib.request.urlopen(f"http://{ep.host}:{ep.port}/other", timeout=10)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        ep.close()


def test_listener_bridges_streaming_progress(spark):
    """End-to-end pull path: rate stream -> listener -> registry -> HTTP
    scrape, the same wiring the reference runs as flink-reporter ->
    prometheus scrape."""
    reg = PrometheusRegistry()
    listener = PrometheusMetricsListener(reg)
    ep = PrometheusScrapeEndpoint(reg)
    spark.streams.addListener(listener)
    qname = f"prom_{uuid.uuid4().hex[:8]}"
    try:
        df = spark.readStream.format("rate").option("rowsPerSecond", 200).load()
        q = (
            df.writeStream.format("memory")
            .queryName(qname)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 30
        body = ""
        while time.time() < deadline:
            with urllib.request.urlopen(
                f"http://{ep.host}:{ep.port}/metrics", timeout=10
            ) as resp:
                body = resp.read().decode()
            if f'spark_streaming_input_rows_total{{query="{qname}"}}' in body:
                break
            time.sleep(0.5)
        q.stop()
        assert f'query="{qname}"' in body, "scrape never saw the query's series"
        assert "# TYPE spark_streaming_batch_duration_ms gauge" in body
        assert "# TYPE spark_streaming_input_rows_total counter" in body
    finally:
        spark.streams.removeListener(listener)
        ep.close()
