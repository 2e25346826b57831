"""WebSocket wire-protocol parity with the reference dashboard.

The reference server broadcasts one frame per metric insert to every
WS client — `{"type": "metric", run_id, key, step, ts, value}`
(waddle/_server.py:115-124, built at waddle/_run.py:133-135) — and its
bundled client consumes exactly that shape (waddle/static/index.html:448).

The stdlib adapter's vendored RFC 6455 endpoint (server.py /ws) is
tested UNCONDITIONALLY below with a raw-socket client, so the true wire
protocol is exercised with zero optional dependencies.  (A formerly
import-gated Starlette twin was removed in round 7: its deps are not
installable in this container, so the gated path could never run.)
/ws is the server's one live channel.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket

import pytest

from waddleml_spark import state
from waddleml_spark.server import (
    WsReader,
    serve_in_thread,
    ws_accept_key,
    ws_encode_frame,
)

_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


# --- frame-codec units (no server needed) ----------------------------------


def test_accept_key_matches_rfc6455_worked_example():
    # the RFC's own §1.3 example key/accept pair
    assert (
        ws_accept_key("dGhlIHNhbXBsZSBub25jZQ==")
        == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="
    )


def _mask_frame(payload: bytes, opcode: int = 0x1, fin: bool = True) -> bytes:
    """Client-side masked frame (client frames MUST be masked, §5.1)."""
    mask = os.urandom(4)
    masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
    head = bytes([(0x80 if fin else 0x00) | opcode])
    n = len(payload)
    if n < 126:
        head += bytes([0x80 | n])
    elif n < 1 << 16:
        head += bytes([0x80 | 126]) + n.to_bytes(2, "big")
    else:
        head += bytes([0x80 | 127]) + n.to_bytes(8, "big")
    return head + mask + masked


def test_frame_roundtrip_all_lengths():
    import io

    for n in (0, 1, 3, 4, 125, 126, 4097, 70000, WsReader.MAX_MESSAGE_BYTES):
        payload = os.urandom(n)
        op, got = WsReader(io.BytesIO(_mask_frame(payload))).read_message()
        assert (op, got) == (0x1, payload)


def test_read_frame_unmasks_client_payload():
    import io

    payload = b'{"hello":1}'
    op, got = WsReader(io.BytesIO(_mask_frame(payload))).read_message()
    assert (op, got) == (0x1, payload)


def test_read_frame_rejects_unmasked_client_frame():
    # §5.1: a server must fail the connection on an unmasked client frame
    import io

    raw = ws_encode_frame(b"nope")  # server-style frame = unmasked
    assert WsReader(io.BytesIO(raw)).read_message() is None


def test_read_frame_reassembles_fragmented_message():
    # FIN=0 text fragment + FIN=0 continuation + FIN=1 continuation (§5.4)
    import io

    raw = (
        _mask_frame(b"hel", opcode=0x1, fin=False)
        + _mask_frame(b"lo ", opcode=0x0, fin=False)
        + _mask_frame(b"ws", opcode=0x0, fin=True)
    )
    assert WsReader(io.BytesIO(raw)).read_message() == (0x1, b"hello ws")


def test_interleaved_control_frame_preserves_fragment_state():
    # a ping arriving BETWEEN fragments is surfaced immediately, and the
    # fragmented data message is STILL reassembled by the next read —
    # fragment state lives on the WsReader, not the call
    import io

    raw = (
        _mask_frame(b"fra", opcode=0x1, fin=False)
        + _mask_frame(b"ping!", opcode=0x9, fin=True)
        + _mask_frame(b"gment", opcode=0x0, fin=True)
    )
    ws = WsReader(io.BytesIO(raw))
    assert ws.read_message() == (0x9, b"ping!")
    assert ws.read_message() == (0x1, b"fragment")


# --- stdlib /ws end-to-end --------------------------------------------------


class _RawWsClient:
    """Minimal masked-frame client: enough protocol to certify the server."""

    def __init__(self, host: str, port: int):
        self.sock = socket.create_connection((host, port), timeout=10)
        key = base64.b64encode(os.urandom(16)).decode()
        req = (
            f"GET /ws HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        )
        self.sock.sendall(req.encode())
        self.f = self.sock.makefile("rb")
        from waddleml_spark.server import WsReader

        self.reader = WsReader(self.f, require_mask=False)
        status = self.f.readline()
        assert b"101" in status, status
        headers = {}
        while True:
            line = self.f.readline().strip()
            if not line:
                break
            k, _, v = line.partition(b": ")
            headers[k.decode().lower()] = v.decode()
        expect = base64.b64encode(
            hashlib.sha1((key + _GUID).encode()).digest()
        ).decode()
        assert headers["sec-websocket-accept"] == expect

    def recv_text(self) -> str:
        op, payload = self.reader.read_message()
        assert op == 0x1
        return payload.decode()

    def send_frame(self, payload: bytes, opcode: int) -> None:
        mask = os.urandom(4)
        head = bytes([0x80 | opcode, 0x80 | len(payload)]) + mask
        body = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        self.sock.sendall(head + body)

    def recv_frame(self):
        return self.reader.read_message()

    def close(self):
        try:
            self.send_frame(b"", 0x8)
        except OSError:
            pass
        self.sock.close()


@pytest.fixture()
def ws_server(spark, tmp_path):
    import waddleml_spark as w

    state.set_active_run(None)
    run = w.init(
        project="wsp", name="r1", store_path=str(tmp_path / ".waddle"),
        system_metrics=False, spark=spark,
    )
    run.finish()
    server = serve_in_thread(run._store, port=0)
    yield server.server_address, run._store.bus
    server.shutdown()
    state.set_active_run(None)


def test_stdlib_ws_pushes_reference_metric_frames(ws_server):
    (host, port), bus = ws_server
    client = _RawWsClient(host, port)
    try:
        row = {"run_id": "r1", "key": "loss", "step": 3,
               "ts": 1700000000.25, "value": 0.125}
        bus.publish([row, {**row, "step": 4, "value": 0.0625}])
        first = json.loads(client.recv_text())
        second = json.loads(client.recv_text())
        # exact reference frame: type tag + the five fields, nothing else
        assert first == {"type": "metric", **row}
        assert second["step"] == 4 and second["type"] == "metric"
        assert set(first) == {"type", "run_id", "key", "step", "ts", "value"}
    finally:
        client.close()


def test_stdlib_ws_sends_non_finite_values_as_null(ws_server):
    # browsers' JSON.parse rejects NaN/Infinity and the client drops the
    # frame; a diverged metric must arrive as null
    (host, port), bus = ws_server
    client = _RawWsClient(host, port)
    try:
        row = {"run_id": "r1", "key": "loss", "step": 1, "ts": 1.0, "value": float("nan")}
        bus.publish([row, {**row, "step": 2, "value": float("-inf")}, {**row, "value": 0.5}])
        frames = [client.recv_text() for _ in range(3)]
        values = [json.loads(f, parse_constant=pytest.fail)["value"] for f in frames]
        assert values == [None, None, 0.5]
    finally:
        client.close()


def test_stdlib_ws_ping_pong_and_dead_client_prune(ws_server):
    (host, port), bus = ws_server
    client = _RawWsClient(host, port)
    client.send_frame(b"probe", 0x9)
    op, payload = client.recv_frame()
    assert (op, payload) == (0xA, b"probe")  # pong echoes the ping payload
    client.close()
    # closed socket: subsequent publishes must not raise, and the bus
    # must prune the dead subscriber once the handler thread has seen the
    # close (poll — the close frame is serviced asynchronously)
    import time

    row = {"run_id": "r1", "key": "m", "step": 1, "ts": 1.0, "value": 2.0}
    deadline = time.time() + 5
    while bus._subs and time.time() < deadline:
        bus.publish([row])
        time.sleep(0.05)
    assert not bus._subs


def test_stdlib_ws_rejects_non_upgrade_request(ws_server):
    import urllib.request

    (host, port), _bus = ws_server
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(f"http://{host}:{port}/ws")
    assert exc.value.code == 400


def test_oversize_frame_and_fragment_flood_fail_connection():
    # round-5 advice: the 64-bit length field lets one frame CLAIM any
    # size, and endless FIN=0 continuations would grow the reassembly
    # buffer unboundedly — both must fail the connection (None) BEFORE
    # the oversize allocation, not after
    import io

    # declared length over the cap, no payload actually sent: must fail
    # on the declaration alone (never try to read/allocate 2^40 bytes)
    hdr = bytes([0x81, 0x80 | 127]) + (1 << 40).to_bytes(8, "big") + b"\0" * 4
    assert WsReader(io.BytesIO(hdr)).read_message() is None

    # a fragment stream whose ACCUMULATED size crosses the cap must fail
    # at the crossing fragment even though each individual frame is small
    chunk = _mask_frame(b"z" * (1 << 20), opcode=0x1, fin=False)
    cont = _mask_frame(b"z" * (1 << 20), opcode=0x0, fin=False)
    ws = WsReader(io.BytesIO(chunk + cont * 8))
    assert ws.read_message() is None

    # and a legitimate message under the cap still round-trips
    ok = _mask_frame(b"k" * 1024, opcode=0x1, fin=True)
    assert WsReader(io.BytesIO(ok)).read_message() == (0x1, b"k" * 1024)

    # a ping interleaved between fragments must NOT be charged against
    # the reassembly buffer: with the buffer just under the cap, the
    # ping still surfaces and the message still completes
    near = WsReader.MAX_MESSAGE_BYTES - 10
    stream = (
        _mask_frame(b"d" * near, opcode=0x1, fin=False)
        + _mask_frame(b"ping!", opcode=0x9, fin=True)
        + _mask_frame(b"tail", opcode=0x0, fin=True)
    )
    ws2 = WsReader(io.BytesIO(stream))
    assert ws2.read_message() == (0x9, b"ping!")
    op, payload = ws2.read_message()
    assert op == 0x1 and len(payload) == near + 4

    # §5.5: control frames over 125 bytes fail the connection
    big_ping = _mask_frame(b"p" * 126, opcode=0x9, fin=True)
    assert WsReader(io.BytesIO(big_ping)).read_message() is None


def test_truncated_frame_is_protocol_failure_not_partial_message():
    # a frame header declaring n bytes followed by EOF mid-payload must
    # yield None (connection failure), never a garbage-suffixed "complete"
    # message; same for EOF inside the 2/8-byte extended length
    import io

    full = _mask_frame(b"x" * 100)
    assert WsReader(io.BytesIO(full[: len(full) - 70])).read_message() is None
    big = _mask_frame(b"y" * 300)  # 126-style 2-byte extended length
    assert WsReader(io.BytesIO(big[:3])).read_message() is None  # EOF inside length
    assert WsReader(io.BytesIO(big[:4])).read_message() is None  # EOF inside mask


def test_every_run_of_a_store_is_live_on_ws(spark, tmp_path):
    # two runs on one store in one process: the first serves the
    # dashboard and finishes, the second logs.  /ws carries every frame
    # of both, in log order per run, and each frame's row is already
    # returned by GET /api/runs/{id}/metrics when the frame arrives
    import threading
    import urllib.request

    import waddleml_spark as w

    root = str(tmp_path / ".waddle")
    state.set_active_run(None)
    r1 = w.init(project="sweep", name="r1", store_path=root,
                system_metrics=False, spark=spark)
    server = r1.serve_dashboard(port=0)
    host, port = server.server_address
    client = _RawWsClient(host, port)
    frames, unreadable, errors = [], [], []
    n_frames = 2 * (5 + 4)  # two keys; r1 logs 5 steps, r2 logs 4

    def watch():
        try:
            for _ in range(n_frames):
                msg = json.loads(client.recv_text())
                url = f"http://{host}:{port}/api/runs/{msg['run_id']}/metrics"
                with urllib.request.urlopen(url, timeout=30) as r:
                    rows = json.loads(r.read())
                if not any((m["key"], m["step"]) == (msg["key"], msg["step"]) for m in rows):
                    unreadable.append(msg)
                frames.append(msg)
        except Exception as e:  # surfaced below
            errors.append(e)

    watcher = threading.Thread(target=watch)
    watcher.start()
    try:
        for step in range(5):
            r1.log({"loss": 1.0 / (step + 1), "acc": step / 10})
            if step == 2:
                r1.flush()
        r1.finish()
        state.set_active_run(None)
        r2 = w.init(project="sweep", name="r2", store_path=root,
                    system_metrics=False, spark=spark)
        for step in range(4):
            r2.log({"loss": 2.0 / (step + 1), "acc": step / 20})
            if step == 1:
                r2.flush()
        r2.finish()
        watcher.join(timeout=60)
    finally:
        client.close()
        server.shutdown()
        server.server_close()
        state.set_active_run(None)
    assert errors == []
    assert unreadable == []
    for run, steps in ((r1, 5), (r2, 4)):
        got = [(m["key"], m["step"]) for m in frames if m["run_id"] == run.id]
        assert sorted(got) == sorted((k, s) for s in range(steps) for k in ("loss", "acc"))
        assert [s for _, s in got] == sorted(s for _, s in got)  # log order
