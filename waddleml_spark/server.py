"""HTTP serving layer with the reference's exact wire format
(ref: waddle/_server.py:99-110 route table and response shapes).

`make_http_server` is a stdlib ThreadingHTTPServer whose handler looks
each request up in one (method, path regex) → handler table and answers
it from a MirrorDashboard.  Each route's SQL text is the one
SparkDashboard (the Spark analytics API) runs with spark.sql; the mirror
runs it on the store's DuckDB mirror, so serving starts no JVM and runs
no Spark job.  The two bulk routes, a run's metrics and POST
/api/compare, come back from MirrorDashboard as finished JSON bytes that
DuckDB encoded and are sent unchanged; every other body, and each /ws frame, is encoded
here with the dashboard module's strict `_dumps` (non-finite floats go
out as null).  Malformed input (a non-integer or negative limit/offset, a
`points` outside [1, 2**31), a non-JSON compare body, a `run_ids` that
is not a list of strings) gets `400 {"error": ...}`; an unknown route
gets 404.

Live updates: the reference pushes per-insert WebSocket messages
{"type":"metric",...} (ref :115-124).  GET /ws speaks that exact wire
protocol via a vendored minimal RFC 6455 server (handshake + text frames
+ close/ping — the whole surface the reference client uses) and streams
the store's live bus (`WaddleStore.bus`), which every run logging on the
store's root in this process feeds.
"""

from __future__ import annotations

import json
import queue
import re
import threading
from functools import partialmethod
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

from waddleml_spark.operators.dashboard import MirrorDashboard, _dumps
from waddleml_spark.store import WaddleStore


#: largest request body or WebSocket message accepted.  Dashboard
#: requests are tiny JSON commands; 4 MB is orders of magnitude of
#: headroom, and a claimed size past it is refused before any read.
MAX_BODY_BYTES = 4 << 20


class BadRequest(ValueError):
    """Malformed request input; the HTTP adapter answers 400."""


def _count(q: dict, name: str, default: int, lo: int = 0, bits: int = 63) -> int:
    """An integer query parameter in [lo, 2**bits); the default bound is
    DuckDB's BIGINT, which LIMIT/OFFSET bind as."""
    raw = q.get(name)
    if raw is None:
        return default
    try:
        n = int(raw)
    except ValueError:
        raise BadRequest(f"{name} must be an integer, got {raw!r}") from None
    if not lo <= n < 1 << bits:
        raise BadRequest(f"{name} must be in [{lo}, 2**{bits}), got {n}")
    return n


def _metric_messages(rows: list[dict]) -> list[dict]:
    """Reference WS message shape (waddle/_run.py:133-135)."""
    return [
        {
            "type": "metric",
            "run_id": r["run_id"],
            "key": r["key"],
            "step": r["step"],
            "ts": r["ts"],
            "value": r["value"],
        }
        for r in rows
    ]


# --- minimal RFC 6455 server-side framing (stdlib-only /ws) ----------------
# The protocol surface the reference actually uses (waddle/_server.py:115-124)
# is: handshake, server->client text frames, client close, ping/pong.  That
# is small enough to speak directly over the stdlib server's socket, so the
# true WS wire format works even where starlette/uvicorn are absent.

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


class _QueueSub:
    """LiveBus subscriber feeding a handler thread's queue; once the
    handler marks it dead, the next publish raises and LiveBus prunes it
    (ref T5 prune) — without this, a disconnected client's subscriber
    would keep buffering rows forever."""

    def __init__(self):
        self.q: queue.Queue = queue.Queue()
        self.dead = False

    def __call__(self, rows: list[dict]) -> None:
        if self.dead:
            raise RuntimeError("client disconnected")
        self.q.put(rows)


def ws_accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept per RFC 6455 §4.2.2."""
    import base64
    import hashlib

    digest = hashlib.sha1((client_key + _WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def ws_encode_frame(payload: bytes, opcode: int = 0x1) -> bytes:
    """One FIN frame, server->client (unmasked, RFC 6455 §5.2)."""
    head = bytes([0x80 | opcode])
    n = len(payload)
    if n < 126:
        head += bytes([n])
    elif n < 1 << 16:
        head += bytes([126]) + n.to_bytes(2, "big")
    else:
        head += bytes([127]) + n.to_bytes(8, "big")
    return head + payload


class WsReader:
    """Stateful WebSocket message reader over one connection.

    RFC 6455 conformance (round-4 advice): fragmented data messages
    (FIN=0 then continuation opcode 0x0 frames, §5.4) are reassembled
    under the initial opcode; control frames (>=0x8, never fragmented)
    interleaved between fragments are returned immediately WITHOUT
    losing the partial data message — the fragment buffer lives on the
    reader, so the reassembled message is returned by a later call once
    its final fragment arrives.  With ``require_mask`` (the server
    side), an UNMASKED client frame fails the connection (§5.1) by
    returning None; a client parsing server->client frames (which are
    unmasked) passes ``require_mask=False``."""

    #: max accepted message size (declared frame length AND accumulated
    #: fragment buffer).  A 64-bit length field means a single client
    #: frame can CLAIM anything, and an endless FIN=0 continuation
    #: stream would grow the reassembly buffer without bound — either
    #: one is a memory-exhaustion vector for the dashboard thread
    #: (round-5 advice).  Oversize fails the connection (return None),
    #: matching every other protocol error.
    MAX_MESSAGE_BYTES = MAX_BODY_BYTES

    def __init__(self, rfile, require_mask: bool = True):
        self.rfile = rfile
        self.require_mask = require_mask
        self._data_op: int | None = None
        self._data_buf = b""

    def _read_exact(self, n: int) -> bytes | None:
        """n bytes or None — mid-frame EOF is a protocol failure, never a
        truncated frame delivered as if complete (file-like read() may
        short-read at EOF)."""
        buf = self.rfile.read(n)
        while len(buf) < n:
            more = self.rfile.read(n - len(buf))
            if not more:
                return None
            buf += more
        return buf

    def read_message(self) -> tuple[int, bytes] | None:
        """Next complete message: (opcode, payload), or None on EOF /
        protocol error."""
        while True:
            hdr = self._read_exact(2)
            if hdr is None:
                return None
            fin = bool(hdr[0] & 0x80)
            op = hdr[0] & 0x0F
            masked = bool(hdr[1] & 0x80)
            n = hdr[1] & 0x7F
            if n in (126, 127):
                ext = self._read_exact(2 if n == 126 else 8)
                if ext is None:
                    return None
                n = int.from_bytes(ext, "big")
            if self.require_mask and not masked:
                return None  # §5.1: client frames MUST be masked
            if op >= 0x8:
                if n > 125:
                    return None  # §5.5: control frames are ≤125 bytes
            elif n + len(self._data_buf) > self.MAX_MESSAGE_BYTES:
                # oversize data frame / fragment flood — fail early,
                # BEFORE allocating: the declared length is attacker
                # data.  Only DATA frames charge the reassembly buffer:
                # a ping interleaved between fragments never enters
                # _data_buf and must not trip the cap near the limit
                return None
            mask = b""
            if masked:
                mask = self._read_exact(4)
                if mask is None:
                    return None
            payload = self._read_exact(n)
            if payload is None:
                return None
            if masked:
                # one big-int XOR against the repeated key: a per-byte
                # Python loop would hold the GIL for ~0.3 s on a 4 MB
                # message and stall every other handler thread
                stream = int.from_bytes((mask * (n // 4 + 1))[:n], "big")
                payload = (int.from_bytes(payload, "big") ^ stream).to_bytes(n, "big")
            if op >= 0x8:  # control frame — may interleave with fragments
                return op, payload
            if op != 0x0:
                self._data_op = op
            self._data_buf += payload
            if fin:
                msg = (
                    self._data_op if self._data_op is not None else 0x0,
                    self._data_buf,
                )
                self._data_op, self._data_buf = None, b""
                return msg


def make_http_server(
    store: WaddleStore,
    host: str = "127.0.0.1",
    port: int = 8000,
    static_dir: str | None = None,
) -> ThreadingHTTPServer:
    """The reference's routes as JSON, the static assets, and WebSocket
    /ws.  static_dir overrides the bundled assets (ref cli.py:146 parity)."""
    dash = MirrorDashboard(store)
    static = Path(static_dir or Path(__file__).parent / "static").resolve()

    def static_file(h, name: str) -> None:
        # ref route parity (waddle/_server.py:108); resolve() + prefix
        # check blocks traversal
        target = (static / name).resolve()
        if (static in target.parents or target == static) and target.is_file():
            html = target.suffix == ".html"
            ctype = "text/html; charset=utf-8" if html else "application/octet-stream"
            return h._send(target.read_bytes(), ctype)
        h._json({"error": "not found"}, 404)

    def list_runs(h, q):
        h._json(dash.list_runs(
            project=q.get("project"),
            status=q.get("status"),
            sort=q.get("sort", "started_at"),
            order=q.get("order", "desc"),
            limit=_count(q, "limit", 200),
            offset=_count(q, "offset", 0),
        ))

    def get_run(h, q, run_id):
        data = dash.get_run(run_id)
        if not data:  # ref :45-50
            return h._json({"error": "not found"}, 404)
        h._json(data)

    def downsampled(h, q, run_id):
        # at least one bucket; bucket numbers are CAST to INTEGER
        points = _count(q, "points", 200, lo=1, bits=31)
        h._json(dash.get_metrics_downsampled(run_id, q.get("key", ""), points=points))

    def compare(h, q):
        body = h._json_body()
        if not isinstance(body, dict):
            raise BadRequest("body must be a JSON object")
        run_ids = body.get("run_ids", [])
        # a bare string would reach the IN-list one character at a time
        if not isinstance(run_ids, list) or not all(isinstance(i, str) for i in run_ids):
            raise BadRequest("run_ids must be a list of strings")
        h._send(dash.compare_runs(run_ids), "application/json")

    def delete_run(h, q, run_id):
        if not dash.delete_run(run_id):
            return h._json({"error": "delete failed"}, 500)
        h._json({"ok": True})

    routes = [
        (method, re.compile(path), fn)
        for method, path, fn in (
            ("GET", r"/", lambda h, q: static_file(h, "index.html")),
            ("GET", r"/static/(.*)", lambda h, q, name: static_file(h, name)),
            ("GET", r"/api/runs", list_runs),
            ("GET", r"/api/runs/([^/]+)", get_run),
            ("GET", r"/api/runs/([^/]+)/metrics", lambda h, q, run_id: h._send(
                dash.get_metrics(run_id, key=q.get("key"), limit=_count(q, "limit", 5000)),
                "application/json",
            )),
            ("GET", r"/api/runs/([^/]+)/metrics/downsampled", downsampled),
            ("GET", r"/api/metric-keys", lambda h, q: h._json(dash.metric_keys_global())),
            ("GET", r"/api/metric-summary", lambda h, q: h._json(
                dash.metric_summary(q.get("key", ""), limit=_count(q, "limit", 20))
            )),
            ("GET", r"/ws", lambda h, q: h._ws()),
            ("POST", r"/api/compare", compare),
            ("DELETE", r"/api/runs/([^/]+)", delete_run),
        )
    ]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, body: bytes, ctype: str, status: int = 200) -> None:
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _json(self, payload, status: int = 200) -> None:
            self._send(_dumps(payload), "application/json", status)

        def _route(self, method: str) -> None:
            u = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            for m, path, fn in routes:
                match = m == method and path.fullmatch(u.path)
                if match:
                    try:
                        return fn(self, q, *match.groups())
                    except BadRequest as e:
                        return self._json({"error": str(e)}, 400)
            self._json({"error": "not found"}, 404)

        do_GET = partialmethod(_route, "GET")
        do_POST = partialmethod(_route, "POST")
        do_DELETE = partialmethod(_route, "DELETE")

        def _json_body(self):
            try:
                n = int(self.headers.get("Content-Length", "0"))
                if not 0 <= n <= MAX_BODY_BYTES:
                    raise ValueError(
                        f"Content-Length {n} outside [0, {MAX_BODY_BYTES}]"
                    )
                return json.loads(self.rfile.read(n) or b"{}")
            except ValueError as e:  # incl. JSONDecodeError, UnicodeDecodeError
                raise BadRequest(f"malformed request body: {e}") from None

        def _ws(self):
            """True RFC 6455 WebSocket: the reference's wire protocol
            (waddle/_server.py:115-124), one text frame per metric insert.
            A reader thread services client close/ping frames while the
            handler thread drains the store's live bus queue."""
            key = self.headers.get("Sec-WebSocket-Key")
            if (
                key is None
                or self.headers.get("Upgrade", "").lower() != "websocket"
            ):
                return self._json({"error": "websocket upgrade required"}, 400)
            # subscribe BEFORE the 101 goes out: the moment the client
            # sees the handshake it may publish-and-expect, and a frame
            # published in the gap would be lost.  The finally covers the
            # handshake writes too — a client that vanishes mid-101 must
            # not leave a zombie subscriber buffering rows forever.
            sub = _QueueSub()
            store.bus.subscribe(sub)
            _CLOSED = object()
            # pongs (reader thread) and metric frames (this thread) share
            # wfile; an unlocked interleaved sendall could split one frame
            # around the other and corrupt the stream
            wlock = threading.Lock()
            try:
                self.send_response_only(101)
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept", ws_accept_key(key))
                self.end_headers()
                self.close_connection = True

                def reader():
                    ws = WsReader(self.rfile)  # fragment state per connection
                    try:
                        while True:
                            frame = ws.read_message()
                            if frame is None or frame[0] == 0x8:  # EOF/close
                                break
                            if frame[0] == 0x9:  # ping -> pong, same payload
                                with wlock:
                                    self.wfile.write(
                                        ws_encode_frame(frame[1], 0xA)
                                    )
                                    self.wfile.flush()
                    except (OSError, ValueError):
                        pass
                    sub.q.put(_CLOSED)

                threading.Thread(target=reader, daemon=True).start()
                while True:
                    try:
                        rows = sub.q.get(timeout=300)
                    except queue.Empty:
                        # quiet dashboard: keep the connection alive with
                        # a server ping (reference keeps WS clients
                        # connected indefinitely); a dead peer surfaces
                        # as a write error here
                        with wlock:
                            self.wfile.write(ws_encode_frame(b"", 0x9))
                            self.wfile.flush()
                        continue
                    if rows is _CLOSED:
                        break
                    # one frame per row, one socket write per batch
                    frames = b"".join(
                        ws_encode_frame(_dumps(msg)) for msg in _metric_messages(rows)
                    )
                    with wlock:
                        self.wfile.write(frames)
                        self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError, OSError):
                pass
            finally:
                sub.dead = True  # LiveBus prunes on its next publish

    server = ThreadingHTTPServer((host, port), Handler)
    return server


def serve_in_thread(store: WaddleStore, host="127.0.0.1", port=8000):
    server = make_http_server(store, host, port)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
