"""Prometheus scrape endpoint (text exposition format 0.0.4).

The reference's observability plane is PULL-based: Prometheus scrapes
Flink's metrics reporter (reference ``flink-app/prometheus/prometheus.yaml:5-12``,
``flink-conf-taskmanager.yaml:9-23``) and a Spring service polls PromQL.
Our engine's native path is push (``StreamingQueryListener`` →
WebSocket/STOMP, streaming/push.py) — but anything already running a
Prometheus stack expects a ``/metrics`` endpoint to point at. This module
closes that gap with a dependency-free exposition server:

- ``PrometheusRegistry``: thread-safe gauge/counter store keyed by
  (metric name, frozen label set); its ``render()`` gives the text format —
  ``# HELP`` / ``# TYPE`` headers, ``name{label="value"} 1.23`` samples,
  label-value escaping per the spec.
- ``PrometheusScrapeEndpoint``: stdlib ThreadingHTTPServer answering
  ``GET /metrics`` with ``text/plain; version=0.0.4``.
- ``PrometheusMetricsListener``: exports each ``progress_record``
  (streaming/metrics.py) under the metric names the reference dashboards
  read off Flink's reporter (records in/out per second, latency, state
  size), labeled by query name.

Scale note: the registry holds one entry per (metric, query) — O(queries),
not O(events); a scrape renders kilobytes. Executors never touch this: all
numbers arrive driver-side via the listener bus, which is how Spark's own
metrics sink works, so the endpoint adds zero load to the data path.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .metrics import ProgressListener, progress_record

_LABEL_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n"}


def _escape_label(v: str) -> str:
    return "".join(_LABEL_ESCAPES.get(c, c) for c in str(v))


class PrometheusRegistry:
    """Gauge/counter store. ``set_gauge`` overwrites; ``inc_counter``
    accumulates (counters must be monotone per the exposition contract)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        # name -> (type, help, {frozenset(labels.items()) -> (labels, value)})
        self._metrics: dict[str, tuple[str, str, dict[frozenset, tuple[dict, float]]]] = {}

    def _slot(self, name: str, mtype: str, help_text: str):
        if name not in self._metrics:
            self._metrics[name] = (mtype, help_text, {})
        return self._metrics[name][2]

    def set_gauge(self, name: str, value: float, labels: dict[str, str] | None = None,
                  help_text: str = "") -> None:
        labels = labels or {}
        with self._lock:
            self._slot(name, "gauge", help_text)[frozenset(labels.items())] = (
                labels, float(value))

    def inc_counter(self, name: str, delta: float, labels: dict[str, str] | None = None,
                    help_text: str = "") -> None:
        labels = labels or {}
        with self._lock:
            series = self._slot(name, "counter", help_text)
            key = frozenset(labels.items())
            prev = series.get(key, (labels, 0.0))[1]
            series[key] = (labels, prev + float(delta))

    def render(self) -> str:
        with self._lock:
            out: list[str] = []
            for name in sorted(self._metrics):
                mtype, help_text, series = self._metrics[name]
                if help_text:
                    out.append(f"# HELP {name} {help_text}")
                out.append(f"# TYPE {name} {mtype}")
                for labels, value in sorted(series.values(), key=lambda lv: repr(lv[0])):
                    if labels:
                        lbl = ",".join(
                            f'{k}="{_escape_label(v)}"' for k, v in sorted(labels.items())
                        )
                        out.append(f"{name}{{{lbl}}} {value}")
                    else:
                        out.append(f"{name} {value}")
            return "\n".join(out) + "\n"


class PrometheusScrapeEndpoint:
    """``GET /metrics`` over stdlib HTTP; port 0 picks a free port. Pair
    with a ``PrometheusMetricsListener`` on the same registry and point a
    Prometheus ``scrape_configs`` target at ``host:port`` exactly as the
    reference's prometheus.yaml targets Flink's reporter."""

    def __init__(self, registry: PrometheusRegistry,
                 host: str = "127.0.0.1", port: int = 0) -> None:
        self.registry = registry
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                if self.path.split("?")[0] != "/metrics":
                    self.send_error(404)
                    return
                body = endpoint.registry.render().encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; version=0.0.4; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *_args):  # silence per-request stderr noise
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._httpd.server_address[:2]
        # A short poll: shutdown() waits for serve_forever to poll again.
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, args=(0.05,), daemon=True
        )
        self._thread.start()

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=5)


# (record field, metric name, type, help); every series is labeled by query
_METRICS = (
    ("input_rows_per_sec", "spark_streaming_input_rows_per_second", "gauge", "Source ingest rate (reference: flink records-in/s)"),
    ("processed_rows_per_sec", "spark_streaming_processed_rows_per_second", "gauge", "Sink emit rate (reference: flink records-out/s)"),
    ("batch_duration_ms", "spark_streaming_batch_duration_ms", "gauge", "Micro-batch latency (reference: flink latency metric)"),
    ("state_rows", "spark_streaming_state_rows", "gauge", "Keyed rows over every stateful operator"),
    ("state_bytes", "spark_streaming_state_bytes", "gauge", "Memory of every stateful operator (reference: managed memory)"),
    ("state_partitions", "spark_streaming_state_partitions", "gauge", "State-store partitions per stateful operator (largest)"),
    ("num_input_rows", "spark_streaming_input_rows_total", "counter", "Cumulative input rows (counter)"),
)


class PrometheusMetricsListener(ProgressListener):
    """Exports each ``progress_record`` as the metrics the reference scrapes
    from Flink's reporter (SURVEY.md §2.7 O1), one ``_METRICS`` row each."""

    def __init__(self, registry: PrometheusRegistry) -> None:
        self.registry = registry

    def onQueryProgress(self, event) -> None:  # noqa: N802
        r = progress_record(event.progress)
        for field, name, mtype, help_text in _METRICS:
            put = self.registry.set_gauge if mtype == "gauge" else self.registry.inc_counter
            put(name, float(r[field] or 0.0), {"query": r["query"]}, help_text)
