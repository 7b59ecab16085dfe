"""K5: WebSocket metrics push sink (SURVEY.md §2.2).

The reference pushes formatted metrics to dashboard clients over a STOMP
WebSocket: ``SimpMessagingTemplate.convertAndSend("/topic/metrics", payload)``
(MetricsService.java:104) on a broker configured at WebSocketConfig.java:26-49.
Spring supplies the WebSocket server there; here the push channel is a
dependency-free RFC 6455 server fed by a ``StreamingQueryListener``, with a
STOMP 1.2 frame layer matching the reference's broker semantics: a client
that sends CONNECT gets CONNECTED, SUBSCRIBEs to ``/topic/metrics`` (any
destination), and receives each payload as a STOMP MESSAGE frame carrying
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
Spring's layering. The HTTP FALLBACK transports are served too (r8 —
closing the last scoped-out residue): ``POST .../xhr`` long-polls (``o``
open frame delivered once per session by its first successful receiver,
then one ``a[...]`` batch or an ``h`` heart-beat per poll; a second
concurrent receiver closes the whole session with ``c[2010]`` on BOTH
requests, per sockjs-protocol),
``POST .../xhr_send`` carries client frames in (JSON array body, 204
reply, 404 for unknown sessions), and ``POST .../xhr_streaming`` holds a
chunked response open (2048-byte ``h`` prelude per spec, then the same
frames) until a response-size limit forces the client to reconnect. The
same STOMP broker state drives all transports, so a stock SockJS client
falls back transparently when WebSocket upgrades are blocked. Where the
reference POLLS Prometheus every 5 s and re-pushes (O2), Spark delivers
progress events push-style, so the listener broadcasts each micro-batch's
metrics with no scrape gap.

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
import time
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


class _SockJSSession:
    """State of one SockJS HTTP-transport session (xhr / xhr_streaming):
    the outbound frame queue, the STOMP broker state shared with the
    WebSocket paths, and a condition variable long-polls block on. At most
    one RECEIVING request may be attached at a time (sockjs-protocol: a
    second concurrent receiver CLOSES the whole session — both receivers
    see ``c[2010]`` and the id re-opens fresh on the next request)."""

    def __init__(self) -> None:
        self.queue: list[str] = []
        self.cond = threading.Condition()
        self.receiving = False
        # The mandatory SockJS open frame is SESSION state, not caller
        # state: whichever receiver wins the first attach consumes it. A
        # caller-local created flag loses the 'o' when two polls hit a
        # brand-new id concurrently and the CREATING thread loses the
        # receiving race — the winner would long-poll without ever
        # emitting the open frame.
        self.open_pending = True
        # Set on a second-receiver collision (sockjs-protocol: the whole
        # session closes; BOTH receivers see the close frame).
        self.closed = False
        # monotonic time the last receiver detached; sessions idle past the
        # server's disconnect window are purged on the next broadcast AND
        # from the accept loop's idle timeout (sockjs-protocol: a session
        # with no receiver expires after ~5 s — without this, every
        # abandoned dashboard client would accumulate queued frames
        # forever on a 24/7 streaming driver).
        self.last_detach = time.monotonic()
        self.st: dict[str, Any] = {"stomp": False, "sockjs": True, "subs": {}}


class MetricsPushServer:
    """Broadcast WebSocket server with a STOMP 1.2 broker layer: accepts
    connections, performs the RFC 6455 handshake, and fans every
    ``broadcast()`` payload out to all connected clients. A client that
    completes the STOMP handshake (CONNECT -> CONNECTED) receives payloads
    as MESSAGE frames on the destinations it SUBSCRIBEd to (the reference's
    ``/topic/metrics`` contract); a client that never speaks STOMP receives
    the raw JSON text frames. SockJS HTTP sessions (xhr long-poll /
    xhr_streaming) share the same broker state through a per-session frame
    queue. Dead clients are dropped on the first failed send or closed
    read.

    ``poll_timeout`` is the long-poll / streaming heart-beat interval
    (sockjs default 25 s; tests pass a small value);
    ``streaming_limit`` is the xhr_streaming response-size bound after
    which the connection closes and the client reconnects (sockjs default
    128 KiB)."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        sockjs_prefix: str = "/metrics-feed",
        poll_timeout: float = 25.0,
        streaming_limit: int = 128 * 1024,
        disconnect_window: float = 5.0,
    ) -> None:
        self._srv = socket.create_server((host, port))
        self._srv.settimeout(0.2)
        self.host, self.port = self._srv.getsockname()[:2]
        self.sockjs_prefix = sockjs_prefix.rstrip("/")
        self.poll_timeout = poll_timeout
        self.streaming_limit = streaming_limit
        self.disconnect_window = disconnect_window
        # conn -> {"stomp": bool, "sockjs": bool,
        #          "subs": {destination: subscription-id}}
        self._state: dict[socket.socket, dict[str, Any]] = {}
        self._sessions: dict[str, _SockJSSession] = {}
        self._lock = threading.Lock()
        self._closing = threading.Event()
        self._msg_seq = 0
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._thread.start()

    def _accept_loop(self) -> None:
        while not self._closing.is_set():
            try:
                conn, _ = self._srv.accept()
            except socket.timeout:
                # idle tick: expire abandoned HTTP sessions even when no
                # broadcast traffic is flowing (stopped/idle query)
                self._expire_sessions()
                continue
            except OSError:
                return
            try:
                kind = self._handshake(conn)
            except (OSError, ValueError):
                conn.close()
                continue
            if kind == "info":  # plain-HTTP request answered; not a client
                conn.close()
                continue
            if kind == "http-owned":  # a poll/stream thread owns the socket
                continue
            if kind == "sockjs":
                # SockJS open frame BEFORE the connection becomes visible
                # to broadcast(): registering first would let a concurrent
                # broadcast interleave an a[...] frame ahead of (or into)
                # the mandatory 'o' (sockjs-protocol: the sub-transport is
                # not usable until the server says 'o').
                try:
                    conn.sendall(encode_text_frame("o"))
                except OSError:
                    conn.close()
                    continue
            with self._lock:
                self._state[conn] = {
                    "stomp": False,
                    "sockjs": kind == "sockjs",
                    "subs": {},
                }
            threading.Thread(
                target=self._client_loop, args=(conn,), daemon=True
            ).start()

    def _client_loop(self, conn: socket.socket) -> None:
        """Per-client reader: consumes masked client frames — STOMP verbs,
        ping (answered with pong), close. Payloads are O(frame), never data
        rows, so one lightweight thread per dashboard client is the whole
        cost (same shape as the reference's Spring broker)."""
        buf = b""
        conn.settimeout(0.2)
        while not self._closing.is_set():
            try:
                chunk = conn.recv(4096)
                if not chunk:
                    break
                buf += chunk
            except socket.timeout:
                continue
            except OSError:
                break
            frames, buf = decode_client_frames(buf)
            for opcode, payload in frames:
                if opcode == 0x8:  # close
                    self._drop(conn)
                    return
                if opcode == 0x9:  # ping -> pong, same payload
                    try:
                        conn.sendall(bytes([0x8A, len(payload)]) + payload)
                    except OSError:
                        self._drop(conn)
                        return
                    continue
                if opcode == 0x1:
                    text = payload.decode("utf-8", "replace")
                    with self._lock:
                        st = self._state.get(conn)
                    if st is not None and st["sockjs"]:
                        # SockJS websocket sub-transport: client messages
                        # are JSON-encoded strings or arrays of strings;
                        # bare 'h' heart-beats and malformed JSON are
                        # dropped (spec: close on broken JSON — a metrics
                        # feed tolerates instead).
                        if text == "h" or not text:
                            continue
                        try:
                            decoded = json.loads(text)
                        except ValueError:
                            continue
                        msgs = decoded if isinstance(decoded, list) else [decoded]
                        for m in msgs:
                            if isinstance(m, str):
                                self._on_text(conn, m)
                    else:
                        self._on_text(conn, text)
        self._drop(conn)

    def _on_text(self, conn: socket.socket, text: str) -> None:
        with self._lock:
            st = self._state.get(conn)
        if st is None:
            return
        self._stomp_handle(st, text, lambda reply: self._send_frame(conn, reply))

    def _stomp_handle(self, st: dict[str, Any], text: str, send) -> None:
        """One STOMP broker step, transport-agnostic: mutates the client's
        broker state and emits any reply frame through ``send`` (a
        WebSocket frame writer or a SockJS session-queue append)."""
        frame = parse_stomp_frame(text)
        if frame is None:
            return  # heart-beat or non-STOMP chatter: ignore
        command, headers, _body = frame
        if command in ("CONNECT", "STOMP"):
            st["stomp"] = True
            send(
                encode_stomp_frame(
                    "CONNECTED", {"version": "1.2", "heart-beat": "0,0"}
                )
            )
        elif command == "SUBSCRIBE":
            dest = headers.get("destination", "")
            if dest:
                st["subs"][dest] = headers.get("id", "0")
        elif command == "UNSUBSCRIBE":
            sid = headers.get("id")
            st["subs"] = {d: i for d, i in st["subs"].items() if i != sid}
        elif command == "DISCONNECT":
            receipt = headers.get("receipt")
            if receipt:
                send(encode_stomp_frame("RECEIPT", {"receipt-id": receipt}))

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

    def _send_frame(self, conn: socket.socket, stomp_payload: str) -> None:
        with self._lock:
            st = self._state.get(conn)
        if st is not None and st["sockjs"]:
            stomp_payload = "a" + json.dumps([stomp_payload])
        try:
            conn.sendall(encode_text_frame(stomp_payload))
        except OSError:
            self._drop(conn)

    def _drop(self, conn: socket.socket) -> None:
        with self._lock:
            self._state.pop(conn, None)
        try:
            conn.close()
        except OSError:
            pass

    def _handshake(self, conn: socket.socket) -> str:
        """Route one incoming HTTP request: a WebSocket upgrade at the
        SockJS session URL (``<prefix>/<server>/<session>/websocket``)
        becomes a ``"sockjs"`` connection, any other upgrade a plain
        ``"ws"`` one, and a non-upgrade ``GET <prefix>/info`` is answered
        with the SockJS transport-probe JSON (``"info"``; the caller
        closes). Anything else is rejected."""
        conn.settimeout(5.0)
        request = b""
        while b"\r\n\r\n" not in request:
            chunk = conn.recv(4096)
            if not chunk:
                raise ValueError("client closed before handshake completed")
            request += chunk
        head, _, body = request.partition(b"\r\n\r\n")
        lines = head.split(b"\r\n")
        parts = lines[0].split()
        method = parts[0].decode("ascii", "replace") if parts else "GET"
        path = parts[1].decode("latin-1", "replace") if len(parts) >= 2 else "/"
        path = path.split("?", 1)[0]
        key = None
        content_length = 0
        for line in lines[1:]:
            name, _, value = line.partition(b":")
            lname = name.strip().lower()
            if lname == b"sec-websocket-key":
                key = value.strip().decode("ascii")
            elif lname == b"content-length":
                try:
                    content_length = int(value.strip())
                except ValueError:
                    content_length = 0
        # SockJS HTTP fallback transports: POST <prefix>/<srv>/<sess>/xhr,
        # /xhr_send, /xhr_streaming (sockjs-protocol). Dispatched before
        # the upgrade check — these are plain HTTP.
        if method == "POST" and path.startswith(self.sockjs_prefix + "/"):
            seg = [s for s in path[len(self.sockjs_prefix):].split("/") if s]
            if len(seg) == 3 and seg[2] in ("xhr", "xhr_send", "xhr_streaming"):
                while len(body) < content_length:
                    chunk = conn.recv(4096)
                    if not chunk:
                        break
                    body += chunk
                if seg[2] == "xhr_send":  # non-blocking: answer inline
                    self._xhr_send(conn, seg[1], body)
                    return "info"
                # xhr poll and xhr_streaming BLOCK (long-poll / held
                # response) — each gets its own thread so the accept loop
                # keeps serving the xhr_send requests that feed them.
                handler = (
                    self._xhr_poll if seg[2] == "xhr" else self._xhr_streaming
                )
                threading.Thread(
                    target=handler, args=(conn, seg[1]), daemon=True
                ).start()
                return "http-owned"
        if key is None:
            if path == f"{self.sockjs_prefix}/info":
                body = json.dumps(
                    {
                        "websocket": True,
                        "origins": ["*:*"],
                        "cookie_needed": False,
                        "entropy": int.from_bytes(os.urandom(4), "big"),
                    }
                ).encode("utf-8")
                conn.sendall(
                    (
                        "HTTP/1.1 200 OK\r\n"
                        "Content-Type: application/json;charset=UTF-8\r\n"
                        "Access-Control-Allow-Origin: *\r\n"
                        "Cache-Control: no-store, no-cache, must-revalidate, "
                        "max-age=0\r\n"
                        f"Content-Length: {len(body)}\r\n"
                        "Connection: close\r\n"
                        "\r\n"
                    ).encode("ascii")
                    + body
                )
                return "info"
            raise ValueError("not a WebSocket upgrade request")
        conn.sendall(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {websocket_accept_key(key)}\r\n"
                "\r\n"
            ).encode("ascii")
        )
        seg = path[len(self.sockjs_prefix) :] if path.startswith(
            self.sockjs_prefix
        ) else ""
        # session URL: /<server-id>/<session-id>/websocket
        if seg.endswith("/websocket") and len([s for s in seg.split("/") if s]) == 3:
            return "sockjs"
        return "ws"

    # -- SockJS HTTP fallback transports (sockjs-protocol) ------------------

    @staticmethod
    def _http_respond(
        conn: socket.socket,
        status: str,
        body: bytes,
        ctype: str = "application/javascript; charset=UTF-8",
    ) -> bool:
        head = (
            f"HTTP/1.1 {status}\r\n"
            f"Content-Type: {ctype}\r\n"
            "Access-Control-Allow-Origin: *\r\n"
            "Cache-Control: no-store, no-cache, must-revalidate, max-age=0\r\n"
            f"Content-Length: {len(body)}\r\n"
            "Connection: close\r\n\r\n"
        )
        delivered = True
        try:
            conn.sendall(head.encode("ascii") + body)
        except OSError:
            delivered = False
        try:
            conn.close()
        except OSError:
            pass
        return delivered

    def _session_attach(self, session_id: str) -> tuple[_SockJSSession, bool]:
        """(session, busy): create the session on first contact; busy=True
        when another receiver was already attached. A collision CLOSES the
        whole session (sockjs-protocol: both receivers see the close): the
        attached receiver is woken to deliver ``c[2010]`` and the id is
        dropped so a later request starts a fresh session."""
        while True:
            with self._lock:
                sess = self._sessions.get(session_id)
                if sess is None:
                    sess = _SockJSSession()
                    self._sessions[session_id] = sess
            with sess.cond:
                if sess.receiving:
                    sess.closed = True
                    sess.cond.notify_all()
                    busy = True
                else:
                    sess.receiving = True
                    busy = False
            with self._lock:
                registered = self._sessions.get(session_id) is sess
                if busy and registered:
                    del self._sessions[session_id]
            if busy or registered:
                return sess, busy
            # Lost a race with _expire_sessions (the idle tick can purge
            # the id between the dict lookup and winning the receiving
            # flag): this receiver now holds an ORPHAN no broadcast or
            # xhr_send can reach. Release it and attach again — the retry
            # creates (or joins) a properly registered session.
            with sess.cond:
                sess.receiving = False

    def _session_detach(self, sess: _SockJSSession) -> None:
        with sess.cond:
            sess.receiving = False
            sess.last_detach = time.monotonic()

    def _expire_sessions(self) -> None:
        """Purge sessions whose last receiver detached longer ago than the
        disconnect window (sockjs session-expiry semantics); an expired id
        simply re-opens as a new session on reconnect. Called from every
        broadcast AND from the accept loop's idle timeout, so expiry does
        not depend on streaming traffic: a stopped/idle query on a
        long-lived driver must not pin abandoned sessions and their queued
        frames forever."""
        now = time.monotonic()
        with self._lock:
            expired = [
                sid
                for sid, sess in self._sessions.items()
                if not sess.receiving
                and now - sess.last_detach > self.disconnect_window
            ]
            for sid in expired:
                del self._sessions[sid]

    def _next_frame(self, sess: _SockJSSession) -> str:
        """The next frame a receiver delivers: ``o`` exactly once per
        session (consumed from session state under the lock — see
        ``_SockJSSession.open_pending``), one ``a[...]`` batch draining
        the queue, or ``h`` after ``poll_timeout`` with nothing to send.
        Returns ``c[3000,...]`` when the server is closing (spec: Go
        away!) and ``c[2010,...]`` when a second-receiver collision closed
        the session while this receiver was attached."""
        deadline = time.monotonic() + self.poll_timeout
        with sess.cond:
            if sess.closed:
                return 'c[2010,"Another connection still open"]'
            if sess.open_pending:
                sess.open_pending = False
                return "o"
            while not sess.queue and not self._closing.is_set() and not sess.closed:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return "h"
                sess.cond.wait(min(remaining, 0.2))
            if sess.closed:
                return 'c[2010,"Another connection still open"]'
            if self._closing.is_set():
                return 'c[3000,"Go away!"]'
            msgs, sess.queue = sess.queue, []
        return "a" + json.dumps(msgs)

    def _xhr_poll(self, conn: socket.socket, session_id: str) -> None:
        """One xhr long-poll: exactly one frame per request, newline
        -terminated (sockjs-protocol §xhr-polling)."""
        sess, busy = self._session_attach(session_id)
        if busy:
            self._http_respond(
                conn, "200 OK", b'c[2010,"Another connection still open"]\n'
            )
            return
        try:
            frame = self._next_frame(sess)
            # Deliver while still ATTACHED: if the socket write fails the
            # open frame is restored before any other receiver can attach,
            # so no receiver can observe open_pending=False and deliver
            # h/a[...] ahead of the re-queued 'o' (sockjs-protocol: 'o'
            # must be the first frame a session ever delivers). A receiver
            # colliding during the send closes the whole session, which is
            # the protocol's prescribed outcome either way.
            delivered = self._http_respond(
                conn, "200 OK", frame.encode("utf-8") + b"\n"
            )
            if frame == "o" and not delivered:
                with sess.cond:
                    sess.open_pending = True
        finally:
            self._session_detach(sess)

    def _xhr_send(self, conn: socket.socket, session_id: str, body: bytes) -> None:
        """Client->server frames for an HTTP session: JSON array (or one
        string) of messages, each fed through the shared STOMP broker;
        replies (CONNECTED, RECEIPT) enqueue for the session's receiver.
        204 on success, 404 for a session that does not exist, 500 for
        broken JSON (spec behavior)."""
        with self._lock:
            sess = self._sessions.get(session_id)
        if sess is None:
            self._http_respond(conn, "404 Not Found", b"")
            return
        try:
            decoded = json.loads(body.decode("utf-8"))
        except (ValueError, UnicodeDecodeError):
            self._http_respond(conn, "500 Internal Server Error", b"Broken JSON encoding.")
            return
        msgs = decoded if isinstance(decoded, list) else [decoded]

        def enqueue(reply: str) -> None:
            with sess.cond:
                sess.queue.append(reply)
                sess.cond.notify_all()

        for m in msgs:
            if isinstance(m, str) and m and m != "h":
                self._stomp_handle(sess.st, m, enqueue)
        self._http_respond(conn, "204 No Content", b"")

    def _xhr_streaming(self, conn: socket.socket, session_id: str) -> None:
        """Held chunked response: 2048-byte ``h`` prelude, then frames as
        they arrive, until ``streaming_limit`` bytes have been sent —
        then the response closes and the client reconnects
        (sockjs-protocol §xhr-streaming)."""

        def chunk(data: bytes) -> bytes:
            return f"{len(data):x}\r\n".encode("ascii") + data + b"\r\n"

        sess, busy = self._session_attach(session_id)
        try:
            conn.sendall(
                (
                    "HTTP/1.1 200 OK\r\n"
                    "Content-Type: application/javascript; charset=UTF-8\r\n"
                    "Access-Control-Allow-Origin: *\r\n"
                    "Cache-Control: no-store, no-cache, must-revalidate, "
                    "max-age=0\r\n"
                    "Transfer-Encoding: chunked\r\n"
                    "Connection: close\r\n\r\n"
                ).encode("ascii")
            )
            conn.sendall(chunk(b"h" * 2048 + b"\n"))
            if busy:
                conn.sendall(
                    chunk(b'c[2010,"Another connection still open"]\n')
                )
                conn.sendall(b"0\r\n\r\n")
                return
            sent = 0
            while sent < self.streaming_limit and not self._closing.is_set():
                frame = self._next_frame(sess)
                data = frame.encode("utf-8") + b"\n"
                try:
                    conn.sendall(chunk(data))
                except OSError:
                    if frame == "o":
                        # open frame lost in flight: restore it for the
                        # session's next receiver (see _xhr_poll)
                        with sess.cond:
                            sess.open_pending = True
                    raise
                sent += len(data)
                if frame.startswith("c["):
                    break
            conn.sendall(b"0\r\n\r\n")
        except OSError:
            pass  # receiver went away; the session survives for reconnect
        finally:
            if not busy:
                self._session_detach(sess)
            try:
                conn.close()
            except OSError:
                pass

    def broadcast(self, payload: str, destination: str = "/topic/metrics") -> int:
        """Fan one payload out to every client; returns clients reached.
        STOMP clients subscribed to ``destination`` get a MESSAGE frame
        (destination/subscription/message-id headers, JSON body); STOMP
        clients without a matching subscription get nothing (broker
        semantics); raw-WebSocket clients get the payload as a plain text
        frame."""
        raw = encode_text_frame(payload)
        sent = 0
        self._expire_sessions()
        with self._lock:
            clients = list(self._state.items())
            sessions = list(self._sessions.values())
        for conn, st in clients:
            if st["stomp"]:
                sub_id = st["subs"].get(destination)
                if sub_id is None:
                    continue
                text = self._message_frame(payload, destination, sub_id)
                if st["sockjs"]:
                    text = "a" + json.dumps([text])
                data = encode_text_frame(text)
            elif st["sockjs"]:
                data = encode_text_frame("a" + json.dumps([payload]))
            else:
                data = raw
            try:
                conn.sendall(data)
                sent += 1
            except OSError:
                self._drop(conn)
        # SockJS HTTP sessions: enqueue (the attached poll/stream delivers)
        for sess in sessions:
            if sess.st["stomp"]:
                sub_id = sess.st["subs"].get(destination)
                if sub_id is None:
                    continue
                text = self._message_frame(payload, destination, sub_id)
            else:
                text = payload
            with sess.cond:
                sess.queue.append(text)
                sess.cond.notify_all()
            sent += 1
        return sent

    @property
    def client_count(self) -> int:
        with self._lock:
            return len(self._state)

    def close(self) -> None:
        self._closing.set()
        self._thread.join(timeout=5)
        with self._lock:
            conns = list(self._state)
            self._state = {}
            sessions = list(self._sessions.values())
            self._sessions = {}
        for sess in sessions:  # wake held polls/streams so they answer c[3000]
            with sess.cond:
                sess.cond.notify_all()
        for c in conns:
            try:
                c.close()
            except OSError:
                pass
        self._srv.close()


def dashboard_path() -> str:
    """Absolute path of the bundled live dashboard (reference parity:
    flink-app's static/index.html). Open it in a browser with
    ``?ws=ws://host:port`` pointing at a ``MetricsPushServer``."""
    import os

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
        }
        self.server.broadcast(json.dumps(payload))
