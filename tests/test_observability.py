"""O1-O3 (SURVEY.md §2.7): StreamingQueryListener progress collection and
unit formatting, plus the foreachBatch sink mechanics (K3's shape, exercised
against parquet since no PostgreSQL exists in CI)."""

from __future__ import annotations

import time
import uuid

from pyspark.sql import functions as F

from flink_stream_processing_spark.streaming.metrics import (
    ProgressCollector,
    bytes_to_mb,
    ratio_to_pct,
)


def test_unit_formatting():
    assert bytes_to_mb(10 * 1024 * 1024) == 10.0
    assert ratio_to_pct(0.42) == 42.0


def test_progress_collector_receives_batches(spark, tmp_path):
    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        df = spark.readStream.format("rate").option("rowsPerSecond", 100).load()
        q = (
            df.writeStream.format("memory")
            .queryName(f"obs_{uuid.uuid4().hex[:8]}")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 30
        while time.time() < deadline and not collector.progress:
            time.sleep(0.5)
        q.stop()
        assert collector.progress, "listener never received progress"
        p = collector.progress[-1]
        assert p["batch_id"] >= 0
        assert p["batch_duration_ms"] is not None
    finally:
        spark.streams.removeListener(collector)


def test_foreach_batch_sink_mechanics(spark, tmp_path):
    """K3's foreachBatch append path, pointed at parquet: every closed
    micro-batch lands exactly once."""
    from flink_stream_processing_spark.operators.window_metrics import as_transactions
    from flink_stream_processing_spark.streaming.pipeline import (
        events_file_stream,
        streaming_window_metrics,
    )

    d = tmp_path / "events_dir"
    d.mkdir()
    (d / "events.parquet").symlink_to("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    agg = streaming_window_metrics(as_transactions(events_file_stream(spark, str(d))))

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode withholds windows not yet past the watermark; everything
    # written must be a subset of the batch result, keyed identically
    from flink_stream_processing_spark.operators.window_metrics import (
        window_metrics_over_events,
    )
    from flink_stream_processing_spark.sources.batch import load_table

    batch = {
        r["window_start"]: tuple(r)
        for r in window_metrics_over_events(
            load_table(spark, "/root/testdata/sf0.001", "events")
        ).collect()
    }
    import os

    if os.path.exists(out):
        for r in spark.read.parquet(out).collect():
            assert tuple(r) == batch[r["window_start"]]


# --- K5: WebSocket push sink -------------------------------------------------


def _ws_connect(host, port, path="/metrics-feed"):
    """Raw-socket WebSocket client: handshake + frame decode, stdlib only.
    The HTTP response is read byte-exact: the server may push a WebSocket
    frame (SockJS 'o') right after the 101, and a block recv would swallow
    it into the discarded header buffer."""
    import base64
    import os
    import socket

    key = base64.b64encode(os.urandom(16)).decode("ascii")
    s = socket.create_connection((host, port), timeout=10)
    s.sendall(
        (
            f"GET {path} HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode("ascii")
    )
    resp = b""
    while not resp.endswith(b"\r\n\r\n"):
        b = s.recv(1)
        assert b, "server closed during handshake"
        resp += b
    return s, key, resp


def _recv_exact(s, n):
    buf = b""
    while len(buf) < n:
        chunk = s.recv(n - len(buf))
        assert chunk, "server closed mid-frame"
        buf += chunk
    return buf


def _ws_read_text_frame(s):
    b0, b1 = _recv_exact(s, 2)
    assert b0 == 0x81, "expected FIN text frame"
    assert not (b1 & 0x80), "server frames must be unmasked"
    n = b1 & 0x7F
    if n == 126:
        n = int.from_bytes(_recv_exact(s, 2), "big")
    elif n == 127:
        n = int.from_bytes(_recv_exact(s, 8), "big")
    return _recv_exact(s, n).decode("utf-8")


def test_websocket_accept_key_rfc_example():
    """RFC 6455 §1.3's worked example is the interop contract."""
    from flink_stream_processing_spark.streaming.push import websocket_accept_key

    assert (
        websocket_accept_key("dGhlIHNhbXBsZSBub25jZQ==")
        == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="
    )


def test_websocket_frame_all_length_forms():
    """7-bit, 16-bit and 64-bit payload-length encodings all round-trip."""
    from flink_stream_processing_spark.streaming.push import (
        MetricsPushServer,
        encode_text_frame,
    )

    for size in (5, 125, 126, 60_000, 70_000):
        assert encode_text_frame("x" * size)[0] == 0x81
    srv = MetricsPushServer()
    try:
        s, key, resp = _ws_connect(srv.host, srv.port)
        from flink_stream_processing_spark.streaming.push import websocket_accept_key

        assert websocket_accept_key(key).encode("ascii") in resp
        deadline = __import__("time").time() + 10
        while srv.client_count == 0 and __import__("time").time() < deadline:
            __import__("time").sleep(0.05)
        for size in (5, 200, 70_000):
            payload = "y" * size
            assert srv.broadcast(payload) == 1
            assert _ws_read_text_frame(s) == payload
        s.close()
    finally:
        srv.close()


def test_websocket_metrics_push_end_to_end(spark, tmp_path):
    """K5 live: a real streaming query's progress is pushed over a real
    WebSocket connection; the client receives the reference's metric
    fields (rates, latency ms, state MB — MetricsService.java:117-140)."""
    import json
    import time

    from flink_stream_processing_spark.streaming.push import (
        MetricsPushServer,
        WebSocketMetricsPush,
    )

    srv = MetricsPushServer()
    listener = WebSocketMetricsPush(srv)
    spark.streams.addListener(listener)
    try:
        s, _, _ = _ws_connect(srv.host, srv.port)
        deadline = time.time() + 10
        while srv.client_count == 0 and time.time() < deadline:
            time.sleep(0.05)
        df = spark.readStream.format("rate").option("rowsPerSecond", 100).load()
        q = (
            df.writeStream.format("memory")
            .queryName(f"ws_{uuid.uuid4().hex[:8]}")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            s.settimeout(30)
            msg = json.loads(_ws_read_text_frame(s))
        finally:
            q.stop()
        assert msg["topic"] == "/topic/metrics"
        assert msg["batch_id"] >= 0
        assert "latency_ms" in msg and "input_rate_rows_per_sec" in msg
        assert "state_memory_mb" in msg
        s.close()
    finally:
        spark.streams.removeListener(listener)
        srv.close()


def test_dashboard_card_ids_match_push_payload_fields():
    """The bundled dashboard (reference parity: static/index.html metric
    cards) must bind to the exact field names WebSocketMetricsPush emits —
    a renamed payload key would silently blank a card."""
    import re

    from flink_stream_processing_spark.streaming.push import dashboard_path

    html = open(dashboard_path()).read()
    card_ids = set(re.findall(r'\{ id: "([a-z_]+)"', html))
    payload_fields = {
        "input_rate_rows_per_sec",
        "output_rate_rows_per_sec",
        "latency_ms",
        "state_memory_mb",
        "state_partitions",
        "batch_id",
    }
    assert card_ids == payload_fields
    # and the listener really emits those keys (source-level pin)
    import inspect

    from flink_stream_processing_spark.streaming import push

    src = inspect.getsource(push.WebSocketMetricsPush.onQueryProgress)
    for f in payload_fields:
        assert f'"{f}"' in src, f"listener no longer emits {f}"


# --- STOMP layer over the WebSocket push ------------------------------------


def _ws_send_text(s, payload: str) -> None:
    """Client->server text frame (masked, RFC 6455 §5.3 requires it)."""
    import os as _os

    data = payload.encode("utf-8")
    mask = _os.urandom(4)
    n = len(data)
    head = bytearray([0x81])
    if n < 126:
        head.append(0x80 | n)
    elif n < 1 << 16:
        head.append(0x80 | 126)
        head += n.to_bytes(2, "big")
    else:
        head.append(0x80 | 127)
        head += n.to_bytes(8, "big")
    masked = bytes(c ^ mask[i % 4] for i, c in enumerate(data))
    s.sendall(bytes(head) + mask + masked)


def test_stomp_codec_roundtrip():
    from flink_stream_processing_spark.streaming.push import (
        encode_stomp_frame,
        parse_stomp_frame,
    )

    raw = encode_stomp_frame(
        "MESSAGE", {"destination": "/topic/metrics", "subscription": "s0"}, "{}"
    )
    assert raw.endswith("\x00") and "\n\n" in raw
    cmd, headers, body = parse_stomp_frame(raw)
    assert cmd == "MESSAGE" and body == "{}"
    assert headers["destination"] == "/topic/metrics"
    # heart-beat and non-STOMP text are ignored, not errors
    assert parse_stomp_frame("\n") is None
    assert parse_stomp_frame("hello world\n\nbody\x00") is None
    # repeated headers: first occurrence wins (STOMP 1.2)
    cmd, headers, _ = parse_stomp_frame("SEND\na:1\na:2\n\n\x00")
    assert headers["a"] == "1"


def test_stomp_subscribe_receives_message_frame(spark):
    """The reference's broker contract end-to-end (WebSocketConfig.java:26-49,
    MetricsService.java:104): CONNECT -> CONNECTED, SUBSCRIBE to
    /topic/metrics, then a live streaming query's progress arrives as a
    STOMP MESSAGE frame with destination/subscription headers and the JSON
    metrics body. A second, non-STOMP client on the SAME server still gets
    the raw JSON frame."""
    import json
    import time

    from flink_stream_processing_spark.streaming.push import (
        MetricsPushServer,
        WebSocketMetricsPush,
        parse_stomp_frame,
    )

    srv = MetricsPushServer()
    listener = WebSocketMetricsPush(srv)
    spark.streams.addListener(listener)
    try:
        stomp_c, _, _ = _ws_connect(srv.host, srv.port)
        raw_c, _, _ = _ws_connect(srv.host, srv.port)
        deadline = time.time() + 10
        while srv.client_count < 2 and time.time() < deadline:
            time.sleep(0.05)
        stomp_c.settimeout(10)
        _ws_send_text(
            stomp_c, "CONNECT\naccept-version:1.2\nhost:localhost\n\n\x00"
        )
        cmd, headers, _ = parse_stomp_frame(_ws_read_text_frame(stomp_c))
        assert cmd == "CONNECTED" and headers["version"] == "1.2"
        _ws_send_text(
            stomp_c,
            "SUBSCRIBE\nid:sub-0\ndestination:/topic/metrics\n\n\x00",
        )
        time.sleep(0.3)  # server applies SUBSCRIBE asynchronously

        df = spark.readStream.format("rate").option("rowsPerSecond", 100).load()
        q = (
            df.writeStream.format("memory")
            .queryName(f"stomp_{uuid.uuid4().hex[:8]}")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            stomp_c.settimeout(30)
            raw_c.settimeout(30)
            cmd, headers, body = parse_stomp_frame(_ws_read_text_frame(stomp_c))
            raw_msg = json.loads(_ws_read_text_frame(raw_c))
        finally:
            q.stop()
        assert cmd == "MESSAGE"
        assert headers["destination"] == "/topic/metrics"
        assert headers["subscription"] == "sub-0"
        assert headers["content-type"] == "application/json"
        assert headers["message-id"]
        msg = json.loads(body)
        assert msg["batch_id"] >= 0 and "latency_ms" in msg
        assert raw_msg["topic"] == "/topic/metrics"  # raw client unaffected
        stomp_c.close()
        raw_c.close()
    finally:
        spark.streams.removeListener(listener)
        srv.close()


def test_stomp_unsubscribed_destination_gets_nothing():
    """Broker semantics: a STOMP client subscribed to a different
    destination receives no MESSAGE for /topic/metrics."""
    import time

    from flink_stream_processing_spark.streaming.push import (
        MetricsPushServer,
        parse_stomp_frame,
    )

    srv = MetricsPushServer()
    try:
        c, _, _ = _ws_connect(srv.host, srv.port)
        deadline = time.time() + 10
        while srv.client_count == 0 and time.time() < deadline:
            time.sleep(0.05)
        c.settimeout(10)
        _ws_send_text(c, "CONNECT\naccept-version:1.2\n\n\x00")
        cmd, _, _ = parse_stomp_frame(_ws_read_text_frame(c))
        assert cmd == "CONNECTED"
        _ws_send_text(c, "SUBSCRIBE\nid:s1\ndestination:/topic/other\n\n\x00")
        time.sleep(0.3)
        assert srv.broadcast('{"x":1}', destination="/topic/metrics") == 0
        assert srv.broadcast('{"x":2}', destination="/topic/other") == 1
        cmd, headers, body = parse_stomp_frame(_ws_read_text_frame(c))
        assert cmd == "MESSAGE" and headers["destination"] == "/topic/other"
        assert body == '{"x":2}'
        c.close()
    finally:
        srv.close()


# --- Dataset.observe ------------------------------------------------------

def test_observed_metrics_match_recomputation(spark):
    """observe() accumulators collected during ONE pass must equal a
    separate recomputation (no rows double-counted across partitions)."""
    from pyspark.sql import functions as F

    from flink_stream_processing_spark.sources.batch import load_table
    from flink_stream_processing_spark.streaming.metrics import observed

    from .conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    df, obs = observed(
        orders,
        "ingest_qa",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice")).alias("total"),
        F.count(F.when(F.col("o_orderstatus").isNull(), 1)).alias("null_status"),
    )
    out = df.filter(F.col("o_totalprice") > 0).count()  # the action
    got = obs.get
    expect = orders.agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("t")
    ).first()
    assert got["n_rows"] == expect["n"]
    assert abs(got["total"] - expect["t"]) < 1e-6
    assert got["null_status"] == 0
    assert out <= got["n_rows"]


def test_observed_metrics_in_streaming_progress(spark, tmp_path):
    """The same observe() metrics surface per micro-batch in
    StreamingQueryProgress.observedMetrics."""
    import json as _json

    from pyspark.sql import functions as F

    from flink_stream_processing_spark.streaming.metrics import observed

    src = str(tmp_path / "obs_src")
    spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).write.parquet(src)
    stream = spark.readStream.schema("id long, v long").parquet(src)
    df, _ = observed(stream, "batch_qa", F.count(F.lit(1)).alias("n_rows"))
    q = (
        df.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    seen = 0
    for p in q.recentProgress:
        prog = p if isinstance(p, dict) else _json.loads(p.json)
        om = prog.get("observedMetrics") or {}
        if "batch_qa" in om:
            seen += om["batch_qa"]["n_rows"]
    assert seen == 1000


def test_sockjs_info_probe():
    """GET /metrics-feed/info answers the SockJS transport probe: JSON with
    websocket advertised, CORS open — what a stock sockjs-client checks
    before picking the websocket sub-transport."""
    import json as _json
    import socket

    from flink_stream_processing_spark.streaming.push import MetricsPushServer

    srv = MetricsPushServer()
    try:
        s = socket.create_connection((srv.host, srv.port), timeout=10)
        s.sendall(
            (
                f"GET /metrics-feed/info HTTP/1.1\r\nHost: {srv.host}\r\n\r\n"
            ).encode("ascii")
        )
        resp = b""
        while True:
            chunk = s.recv(4096)
            if not chunk:
                break
            resp += chunk
        head, _, body = resp.partition(b"\r\n\r\n")
        assert b"200 OK" in head
        assert b"Access-Control-Allow-Origin: *" in head
        info = _json.loads(body)
        assert info["websocket"] is True
        assert info["origins"] == ["*:*"]
        assert "entropy" in info
        s.close()
    finally:
        srv.close()


def test_sockjs_websocket_subtransport_stomp_end_to_end():
    """A stock-SockJS-shaped session: upgrade at the session URL, receive
    the 'o' open frame, then STOMP CONNECT/SUBSCRIBE wrapped in SockJS
    JSON framing; a broadcast arrives as a["MESSAGE..."] — the full
    reference client path (WebSocketConfig.java:30-33 withSockJS)."""
    import json as _json
    import time

    from flink_stream_processing_spark.streaming.push import (
        MetricsPushServer,
        parse_stomp_frame,
    )

    srv = MetricsPushServer()
    try:
        s, _, _ = _ws_connect(
            srv.host, srv.port, "/metrics-feed/042/sess_abc/websocket"
        )
        s.settimeout(10)
        assert _ws_read_text_frame(s) == "o"  # SockJS open frame
        _ws_send_text(
            s,
            _json.dumps(["CONNECT\naccept-version:1.2\nhost:localhost\n\n\x00"]),
        )
        frame = _ws_read_text_frame(s)
        assert frame.startswith("a")
        (connected,) = _json.loads(frame[1:])
        cmd, headers, _ = parse_stomp_frame(connected)
        assert cmd == "CONNECTED" and headers["version"] == "1.2"
        _ws_send_text(
            s,
            _json.dumps(
                ["SUBSCRIBE\nid:sub-0\ndestination:/topic/metrics\n\n\x00"]
            ),
        )
        deadline = time.time() + 10
        sent = 0
        while time.time() < deadline:
            sent = srv.broadcast('{"batch_id": 7}')
            if sent:
                break
            time.sleep(0.05)
        assert sent == 1
        frame = _ws_read_text_frame(s)
        assert frame.startswith("a")
        (msg,) = _json.loads(frame[1:])
        cmd, headers, body = parse_stomp_frame(msg)
        assert cmd == "MESSAGE"
        assert headers["destination"] == "/topic/metrics"
        assert headers["subscription"] == "sub-0"
        assert _json.loads(body) == {"batch_id": 7}
        # heart-beat from the client must be tolerated, not fatal
        _ws_send_text(s, "h")
        assert srv.broadcast('{"batch_id": 8}') == 1
        frame = _ws_read_text_frame(s)
        (msg,) = _json.loads(frame[1:])
        assert parse_stomp_frame(msg)[0] == "MESSAGE"
        s.close()
    finally:
        srv.close()


def test_close_disconnects_every_client_and_stops_listening():
    """close() with a raw, a STOMP and a SockJS-over-WebSocket client
    attached: it returns promptly, every client reads EOF, no client stays
    registered, and the port refuses new connections."""
    import json as _json
    import socket
    import time

    import pytest

    from flink_stream_processing_spark.streaming.push import (
        MetricsPushServer,
        parse_stomp_frame,
    )

    srv = MetricsPushServer()
    clients = []
    try:
        raw, _, _ = _ws_connect(srv.host, srv.port)
        stomp, _, _ = _ws_connect(srv.host, srv.port)
        sockjs, _, _ = _ws_connect(
            srv.host, srv.port, "/metrics-feed/000/sess_close/websocket"
        )
        clients = [raw, stomp, sockjs]
        for c in clients:
            c.settimeout(10)
        _ws_send_text(stomp, "CONNECT\naccept-version:1.2\n\n\x00")
        assert parse_stomp_frame(_ws_read_text_frame(stomp))[0] == "CONNECTED"
        assert _ws_read_text_frame(sockjs) == "o"
        _ws_send_text(sockjs, _json.dumps(["CONNECT\naccept-version:1.2\n\n\x00"]))
        (connected,) = _json.loads(_ws_read_text_frame(sockjs)[1:])
        assert parse_stomp_frame(connected)[0] == "CONNECTED"
        deadline = time.time() + 10
        while srv.client_count < 3 and time.time() < deadline:
            time.sleep(0.05)
        assert srv.client_count == 3

        t0 = time.monotonic()
        srv.close()
        assert time.monotonic() - t0 < 2.0
        for c in clients:
            c.settimeout(5)
            assert c.recv(1) == b"", "client did not read EOF"
        assert srv.client_count == 0
        with pytest.raises(ConnectionRefusedError):
            socket.create_connection((srv.host, srv.port), timeout=2)
    finally:
        for c in clients:
            c.close()
        srv.close()


def _mask_client_frame(opcode: int, payload: bytes, mask: bytes) -> bytes:
    """A masked client->server frame (RFC 6455 §5.3) for codec fuzzing."""
    n = len(payload)
    head = bytearray([0x80 | opcode])
    if n < 126:
        head.append(0x80 | n)
    elif n < 1 << 16:
        head.append(0x80 | 126)
        head += n.to_bytes(2, "big")
    else:
        head.append(0x80 | 127)
        head += n.to_bytes(8, "big")
    head += mask
    return bytes(head) + bytes(c ^ mask[k % 4] for k, c in enumerate(payload))


def test_websocket_codec_property_roundtrip_and_arbitrary_split():
    """Property fuzz of the frame codec: any sequence of masked client
    frames (all three length forms, arbitrary binary payloads) concatenated
    and then CUT AT EVERY BYTE BOUNDARY must parse incrementally to exactly
    the original (opcode, payload) sequence — the codec can never lose,
    duplicate, or corrupt a frame because of where TCP happened to split
    the stream."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flink_stream_processing_spark.streaming.push import decode_client_frames

    frame_st = st.tuples(
        st.sampled_from([0x1, 0x2, 0x8, 0x9, 0xA]),
        st.one_of(
            st.binary(max_size=20),
            st.binary(min_size=126, max_size=130),  # 16-bit length form
        ),
        st.binary(min_size=4, max_size=4),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(frame_st, min_size=1, max_size=4), st.data())
    def check(frames, data):
        wire = b"".join(_mask_client_frame(o, p, m) for o, p, m in frames)
        cut = data.draw(st.integers(min_value=0, max_value=len(wire)))
        out, rest = decode_client_frames(wire[:cut])
        out2, rest2 = decode_client_frames(rest + wire[cut:])
        assert rest2 == b""
        assert out + out2 == [(o, p) for o, p, _m in frames]

    check()


def test_websocket_codec_64bit_length_form():
    """The 127 (64-bit) length form decodes correctly for a >64 KiB
    payload — the form a big metrics batch would take."""
    from flink_stream_processing_spark.streaming.push import decode_client_frames

    payload = bytes(range(256)) * 300  # 76 800 bytes > 65 535
    wire = _mask_client_frame(0x1, payload, b"\x01\x02\x03\x04")
    out, rest = decode_client_frames(wire)
    assert rest == b""
    assert out == [(0x1, payload)]
