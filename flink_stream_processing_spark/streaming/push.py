"""K5: WebSocket metrics push sink (SURVEY.md §2.2).

The reference pushes formatted metrics to dashboard clients over a STOMP
WebSocket: ``SimpMessagingTemplate.convertAndSend("/topic/metrics", payload)``
(MetricsService.java:104) on a broker configured at WebSocketConfig.java:26-49.
Spring supplies the WebSocket server there; here the push channel is an
RFC 6455 server on the stdlib ``http.server`` fed by a
``StreamingQueryListener``, with a STOMP 1.2 frame layer matching the
reference's broker semantics: a client that sends CONNECT gets CONNECTED,
SUBSCRIBEs to ``/topic/metrics`` (any destination), and receives each
payload as a STOMP MESSAGE frame carrying
``destination``/``subscription``/``message-id`` headers — the same
subscribe/publish contract as the reference's SimpleBroker. Clients that
skip the STOMP handshake (the bundled dashboard) receive the raw JSON text
frames instead, so both client styles share one server.

The reference additionally wraps STOMP in SockJS
(WebSocketConfig.java:30-33: ``/metrics-feed`` endpoint, ``.withSockJS()``),
so a STOCK SockJS client is also served: ``GET /metrics-feed/info`` answers
the transport-probe JSON, and a WebSocket upgrade at the SockJS session URL
(``/metrics-feed/<server-id>/<session-id>/websocket``) speaks the SockJS
websocket sub-transport framing — ``o`` open frame on connect, client
messages arriving as JSON-encoded strings/arrays, server messages pushed as
``a["..."]`` array frames, ``h`` heart-beats tolerated (sockjs-protocol
spec). The STOMP broker above runs unchanged beneath that framing — exactly
Spring's layering. The SockJS HTTP fallback transports (``xhr``,
``xhr_streaming``) are not served: they only matter behind a proxy that
blocks WebSocket upgrades. Where the reference POLLS Prometheus every 5 s
and re-pushes (O2), Spark delivers progress events push-style, so the
listener broadcasts each micro-batch's metrics with no scrape gap.

Scale note: the listener runs on the driver and the payload is O(1) per
micro-batch (already-aggregated progress metrics, never data rows), so the
sink adds no executor-side work at any corpus size; fan-out cost is
O(connected dashboard clients), same as the reference's SimpleBroker.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from .metrics import ProgressListener, progress_record

# Fixed GUID every WebSocket handshake concatenates to the client key
# (RFC 6455 §1.3).
_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def websocket_accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept for a client's Sec-WebSocket-Key (RFC 6455 §4.2.2)."""
    digest = hashlib.sha1((client_key + _WS_GUID).encode("ascii")).digest()
    return base64.b64encode(digest).decode("ascii")


def encode_text_frame(payload: str) -> bytes:
    """One unmasked FIN text frame (RFC 6455 §5.2; servers MUST NOT mask)."""
    data = payload.encode("utf-8")
    n = len(data)
    head = bytearray([0x81])  # FIN=1, opcode=0x1 (text)
    if n < 126:
        head.append(n)
    elif n < 1 << 16:
        head.append(126)
        head += n.to_bytes(2, "big")
    else:
        head.append(127)
        head += n.to_bytes(8, "big")
    return bytes(head) + data


def decode_client_frames(buf: bytes) -> tuple[list[tuple[int, bytes]], bytes]:
    """Incrementally parse client->server frames (masked per RFC 6455 §5.3)
    out of ``buf``; returns (complete (opcode, payload) frames, leftover
    bytes of any partial frame)."""
    frames: list[tuple[int, bytes]] = []
    i = 0
    while True:
        if len(buf) - i < 2:
            break
        b0, b1 = buf[i], buf[i + 1]
        opcode = b0 & 0x0F
        masked = bool(b1 & 0x80)
        ln = b1 & 0x7F
        j = i + 2
        if ln == 126:
            if len(buf) - j < 2:
                break
            ln = int.from_bytes(buf[j : j + 2], "big")
            j += 2
        elif ln == 127:
            if len(buf) - j < 8:
                break
            ln = int.from_bytes(buf[j : j + 8], "big")
            j += 8
        mask = b""
        if masked:
            if len(buf) - j < 4:
                break
            mask = buf[j : j + 4]
            j += 4
        if len(buf) - j < ln:
            break
        payload = buf[j : j + ln]
        if masked:
            payload = bytes(c ^ mask[k % 4] for k, c in enumerate(payload))
        frames.append((opcode, payload))
        i = j + ln
    return frames, buf[i:]


# ------------------------------------------------------------- STOMP framing
# STOMP 1.2 (https://stomp.github.io/stomp-specification-1.2.html): a frame
# is COMMAND, header lines, blank line, body, NUL. The subset a metrics
# broker needs: CONNECT/CONNECTED, SUBSCRIBE/UNSUBSCRIBE, MESSAGE,
# DISCONNECT/RECEIPT — the same verbs the reference's SimpleBroker serves
# for /topic/metrics.

_STOMP_COMMANDS = {
    # client -> server
    "CONNECT",
    "STOMP",
    "SUBSCRIBE",
    "UNSUBSCRIBE",
    "DISCONNECT",
    "SEND",
    "ACK",
    "NACK",
    # server -> client (parsed by test clients / symmetric tooling)
    "CONNECTED",
    "MESSAGE",
    "RECEIPT",
    "ERROR",
}


def encode_stomp_frame(command: str, headers: dict[str, str], body: str = "") -> str:
    lines = [command] + [f"{k}:{v}" for k, v in headers.items()]
    return "\n".join(lines) + "\n\n" + body + "\x00"


def parse_stomp_frame(text: str) -> tuple[str, dict[str, str], str] | None:
    """(command, headers, body), or None for heart-beats / non-STOMP text.
    Repeated headers keep the FIRST occurrence (spec §Repeated Header
    Entries)."""
    text = text.lstrip("\r\n")
    if not text:
        return None  # EOL-only heart-beat frame
    head, sep, rest = text.partition("\n\n")
    if not sep:
        return None
    lines = head.split("\n")
    command = lines[0].strip("\r")
    if command not in _STOMP_COMMANDS:
        return None
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.strip("\r").partition(":")
        if k and k not in headers:
            headers[k] = v
    return command, headers, rest.split("\x00", 1)[0]


def _sockjs_messages(text: str) -> list[str]:
    """Client messages in one SockJS websocket frame: a JSON-encoded string
    or array of strings. Bare ``h`` heart-beats and malformed JSON yield
    nothing (spec: close on broken JSON — a metrics feed tolerates
    instead)."""
    if text == "h" or not text:
        return []
    try:
        decoded = json.loads(text)
    except ValueError:
        return []
    msgs = decoded if isinstance(decoded, list) else [decoded]
    return [m for m in msgs if isinstance(m, str)]


def _stomp_step(st: dict[str, Any], text: str) -> str | None:
    """One STOMP broker step for a client: mutates its broker state and
    returns the reply frame (CONNECTED, RECEIPT), if any."""
    frame = parse_stomp_frame(text)
    if frame is None:
        return None  # heart-beat or non-STOMP chatter: ignore
    command, headers, _body = frame
    if command in ("CONNECT", "STOMP"):
        st["stomp"] = True
        return encode_stomp_frame("CONNECTED", {"version": "1.2", "heart-beat": "0,0"})
    if command == "SUBSCRIBE":
        dest = headers.get("destination", "")
        if dest:
            st["subs"][dest] = headers.get("id", "0")
    elif command == "UNSUBSCRIBE":
        sid = headers.get("id")
        st["subs"] = {d: i for d, i in st["subs"].items() if i != sid}
    elif command == "DISCONNECT" and headers.get("receipt"):
        return encode_stomp_frame("RECEIPT", {"receipt-id": headers["receipt"]})
    return None


class MetricsPushServer:
    """Broadcast WebSocket server with a STOMP 1.2 broker layer: accepts
    connections, performs the RFC 6455 handshake, and fans every
    ``broadcast()`` payload out to all connected clients. A client that
    completes the STOMP handshake (CONNECT -> CONNECTED) receives payloads
    as MESSAGE frames on the destinations it SUBSCRIBEd to (the reference's
    ``/topic/metrics`` contract); a client that never speaks STOMP receives
    the raw JSON text frames. Each client is served on its own request
    thread of a stdlib ``ThreadingHTTPServer``; dead clients are dropped on
    the first failed send or closed read."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        sockjs_prefix: str = "/metrics-feed",
    ) -> None:
        self.sockjs_prefix = sockjs_prefix.rstrip("/")
        # conn -> {"stomp": bool, "sockjs": bool,
        #          "subs": {destination: subscription-id}}
        self._state: dict[socket.socket, dict[str, Any]] = {}
        self._lock = threading.Lock()
        self._closed = False
        self._msg_seq = 0
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"  # RFC 6455 §4.2.2: HTTP/1.1 101
            # Unbuffered reads: after the request head the client loop reads
            # WebSocket frames off the raw socket, so nothing may have been
            # read ahead into rfile.
            rbufsize = 0
            timeout = 5.0  # a client must send its request head within 5 s

            def do_GET(self):  # noqa: N802
                server._serve_get(self)

            def log_message(self, *_args):  # silence per-request stderr noise
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._httpd.server_address[:2]
        # A short poll: shutdown() waits for serve_forever to poll again.
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, args=(0.05,), daemon=True
        )
        self._thread.start()

    def _serve_get(self, req: BaseHTTPRequestHandler) -> None:
        """Route one GET: a WebSocket upgrade at the SockJS session URL
        (``<prefix>/<server>/<session>/websocket``) becomes a SockJS client,
        any other upgrade a plain one; a non-upgrade ``GET <prefix>/info``
        is answered with the SockJS transport-probe JSON. Anything else gets
        a 404."""
        path = req.path.split("?", 1)[0]
        key = req.headers.get("Sec-WebSocket-Key")
        if key is None:
            if path != f"{self.sockjs_prefix}/info":
                req.send_error(404)
                return
            body = json.dumps(
                {
                    "websocket": True,
                    "origins": ["*:*"],
                    "cookie_needed": False,
                    "entropy": int.from_bytes(os.urandom(4), "big"),
                }
            ).encode("utf-8")
            req.send_response(200)
            req.send_header("Content-Type", "application/json;charset=UTF-8")
            req.send_header("Access-Control-Allow-Origin", "*")
            req.send_header(
                "Cache-Control", "no-store, no-cache, must-revalidate, max-age=0"
            )
            req.send_header("Content-Length", str(len(body)))
            req.send_header("Connection", "close")
            req.end_headers()
            req.wfile.write(body)
            return
        prefix = self.sockjs_prefix
        seg = path[len(prefix) :].split("/") if path.startswith(prefix) else []
        # session URL: <prefix>/<server-id>/<session-id>/websocket
        sockjs = seg[-1:] == ["websocket"] and len([s for s in seg if s]) == 3
        req.close_connection = True
        conn = req.connection
        try:
            req.send_response(101)
            req.send_header("Upgrade", "websocket")
            req.send_header("Connection", "Upgrade")
            req.send_header("Sec-WebSocket-Accept", websocket_accept_key(key))
            req.end_headers()
            if sockjs:
                # SockJS open frame BEFORE the connection becomes visible to
                # broadcast(): registering first would let a concurrent
                # broadcast interleave an a[...] frame ahead of (or into)
                # the mandatory 'o' (sockjs-protocol: the sub-transport is
                # not usable until the server says 'o').
                conn.sendall(encode_text_frame("o"))
            st: dict[str, Any] = {"stomp": False, "sockjs": sockjs, "subs": {}}
            with self._lock:
                # checked under the lock close() snapshots clients with, so a
                # client is either shut down by close() or never registered
                if self._closed:
                    return
                self._state[conn] = st
            self._client_loop(conn, st)
        except OSError:
            pass
        finally:
            self._drop(conn)

    def _client_loop(self, conn: socket.socket, st: dict[str, Any]) -> None:
        """Per-client reader: consumes masked client frames — STOMP verbs,
        ping (answered with pong), close — until the client goes away or
        ``close()`` shuts the socket down. Payloads are O(frame), never data
        rows, so one lightweight thread per dashboard client is the whole
        cost (same shape as the reference's Spring broker). The 0.2 s
        socket timeout also bounds a ``broadcast()`` send to a client that
        stopped reading."""
        buf = b""
        conn.settimeout(0.2)
        while True:
            try:
                chunk = conn.recv(4096)
            except TimeoutError:
                continue
            if not chunk:
                return
            frames, buf = decode_client_frames(buf + chunk)
            for opcode, payload in frames:
                if opcode == 0x8:  # close
                    return
                if opcode == 0x9:  # ping -> pong, same payload
                    conn.sendall(bytes([0x8A, len(payload)]) + payload)
                elif opcode == 0x1:
                    text = payload.decode("utf-8", "replace")
                    for msg in _sockjs_messages(text) if st["sockjs"] else [text]:
                        reply = _stomp_step(st, msg)
                        if reply is not None:
                            conn.sendall(self._frame(st, reply))

    @staticmethod
    def _frame(st: dict[str, Any], text: str) -> bytes:
        """One server text frame for a client; SockJS clients get the text
        wrapped in an ``a[...]`` array frame."""
        if st["sockjs"]:
            text = "a" + json.dumps([text])
        return encode_text_frame(text)

    def _message_frame(self, payload: str, destination: str, sub_id: str) -> str:
        with self._lock:
            self._msg_seq += 1
            mid = self._msg_seq
        return encode_stomp_frame(
            "MESSAGE",
            {
                "destination": destination,
                "subscription": sub_id,
                "message-id": f"m-{mid}",
                "content-type": "application/json",
                "content-length": str(len(payload.encode("utf-8"))),
            },
            payload,
        )

    def _drop(self, conn: socket.socket) -> None:
        """Unregister a client and shut its socket down, which ends its
        reader; the request thread closes the socket on its way out."""
        with self._lock:
            self._state.pop(conn, None)
        try:
            conn.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass

    def broadcast(self, payload: str, destination: str = "/topic/metrics") -> int:
        """Fan one payload out to every client; returns clients reached.
        STOMP clients subscribed to ``destination`` get a MESSAGE frame
        (destination/subscription/message-id headers, JSON body); STOMP
        clients without a matching subscription get nothing (broker
        semantics); raw-WebSocket clients get the payload as a plain text
        frame."""
        sent = 0
        with self._lock:
            clients = list(self._state.items())
        for conn, st in clients:
            text = payload
            if st["stomp"]:
                sub_id = st["subs"].get(destination)
                if sub_id is None:
                    continue
                text = self._message_frame(payload, destination, sub_id)
            try:
                conn.sendall(self._frame(st, text))
                sent += 1
            except OSError:
                self._drop(conn)
        return sent

    @property
    def client_count(self) -> int:
        with self._lock:
            return len(self._state)

    def close(self) -> None:
        """Disconnect every client and stop listening: each client reads
        EOF, and later connects are refused."""
        with self._lock:
            self._closed = True
            conns = list(self._state)
        for conn in conns:
            self._drop(conn)
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=5)


def dashboard_path() -> str:
    """Absolute path of the bundled live dashboard (reference parity:
    flink-app's static/index.html). Open it in a browser with
    ``?ws=ws://host:port`` pointing at a ``MetricsPushServer``."""
    return os.path.join(os.path.dirname(__file__), "static", "dashboard.html")


class WebSocketMetricsPush(ProgressListener):
    """O2 push loop as a listener: each micro-batch's ``progress_record``
    becomes one JSON payload broadcast to every dashboard client — the same
    metric names and unit conventions the reference pushes (rates in rows/s,
    latency in ms, memory in MB; MetricsService.java:117-140 via :104)."""

    def __init__(self, server: MetricsPushServer) -> None:
        self.server = server

    def onQueryProgress(self, event) -> None:  # noqa: N802
        r = progress_record(event.progress)
        payload = {
            "topic": "/topic/metrics",
            "batch_id": r["batch_id"],
            "input_rate_rows_per_sec": r["input_rows_per_sec"],
            "output_rate_rows_per_sec": r["processed_rows_per_sec"],
            "latency_ms": r["batch_duration_ms"],
            "state_memory_mb": r["state_memory_mb"],
            "state_partitions": r["state_partitions"],
        }
        self.server.broadcast(json.dumps(payload))
