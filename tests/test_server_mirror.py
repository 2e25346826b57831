"""The dashboard server answers from the DuckDB mirror: malformed input
gets a 400, serving never starts Spark, and readers polling while a run
logs never see a row count go down."""

from __future__ import annotations

import http.client
import json
import subprocess
import sys
import textwrap
import threading
import time
import urllib.error
import urllib.request
from pathlib import Path

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark.server import make_http_server

REPO = str(Path(__file__).resolve().parent.parent)


def _request(base, path, body: bytes | None = None):
    req = urllib.request.Request(base + path, data=body, method="POST" if body is not None else "GET")
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def server(tmp_path_factory):
    state.set_active_run(None)
    root = tmp_path_factory.mktemp("mirror") / ".waddle"
    run = w.init(project="m", name="r", config={"lr": 0.1}, store_path=str(root),
                 system_metrics=False)
    for s in range(10):
        run.log({"loss": 1.0 / (s + 1)})
    run.finish()
    srv = make_http_server(run._store, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address
    yield f"http://{host}:{port}", run.id
    srv.shutdown()
    srv.server_close()
    state.set_active_run(None)


BAD_GETS = {
    "limit_not_int": "/api/runs?limit=abc",
    "limit_negative": "/api/runs?limit=-1",
    "offset_negative": "/api/runs?offset=-3",
    "offset_not_int": "/api/runs?offset=1.5",
    "offset_beyond_bigint": "/api/runs?offset=99999999999999999999",
    "metrics_limit_not_int": "/api/runs/{id}/metrics?limit=x",
    "metrics_limit_negative": "/api/runs/{id}/metrics?key=loss&limit=-1",
    "points_negative": "/api/runs/{id}/metrics/downsampled?key=loss&points=-2",
    "points_not_int": "/api/runs/{id}/metrics/downsampled?key=loss&points=ten",
    "points_zero": "/api/runs/{id}/metrics/downsampled?key=loss&points=0",
    "points_beyond_int32": "/api/runs/{id}/metrics/downsampled?key=loss&points=4294967296",
    "summary_limit_negative": "/api/metric-summary?key=loss&limit=-5",
}


@pytest.mark.parametrize("case", sorted(BAD_GETS))
def test_malformed_query_is_400(server, case):
    base, rid = server
    status, body = _request(base, BAD_GETS[case].format(id=rid))
    assert status == 400 and "error" in body
    assert _request(base, "/api/runs")[0] == 200  # the server keeps serving


BAD_BODIES = {
    "not_json": b"{run_ids: [",
    "not_utf8": b"\xff\xfe",
    "not_an_object": b'["a", "b"]',
    "run_ids_string": b'{"run_ids": "abc"}',
    "run_ids_not_strings": b'{"run_ids": [1, 2]}',
}


@pytest.mark.parametrize("case", sorted(BAD_BODIES))
def test_malformed_compare_body_is_400(server, case):
    base, rid = server
    status, body = _request(base, "/api/compare", BAD_BODIES[case])
    assert status == 400 and "error" in body
    status, cmp = _request(base, "/api/compare", json.dumps({"run_ids": [rid]}).encode())
    assert status == 200 and len(cmp["metrics"]["loss"]) == 10


@pytest.mark.parametrize("length", ["-1", "ten", str(2**40), str((4 << 20) + 1)])
def test_bad_content_length_is_400(server, length):
    base, _ = server
    conn = http.client.HTTPConnection(base.removeprefix("http://"), timeout=30)
    try:
        conn.putrequest("POST", "/api/compare")
        conn.putheader("Content-Length", length)
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 400 and "error" in json.loads(resp.read())
    finally:
        conn.close()


def _strict(raw: bytes):
    """json.loads that rejects the NaN/Infinity tokens, as JSON.parse does."""
    def bad(token):
        raise ValueError(f"non-JSON token {token}")
    return json.loads(raw, parse_constant=bad)


def test_non_finite_metrics_are_strict_json_null(tmp_path):
    """A run that logged NaN, Inf and -Inf values and an Inf timestamp is
    served as strict JSON on every route: the bad points are null, the
    finite ones unchanged."""
    state.set_active_run(None)
    run = w.init(project="nf", name="r", store_path=str(tmp_path / ".waddle"),
                 system_metrics=False)
    for s, v in enumerate([1.0, float("nan"), float("inf"), 0.5, float("-inf")]):
        run.log({"loss": v}, step=s)
    run.log_metric("loss", 5, 0.25, ts=float("inf"))
    run.finish()
    state.set_active_run(None)
    srv = make_http_server(run._store, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = "http://%s:%d" % srv.server_address
    bodies = {}
    try:
        for path in ["/api/runs", f"/api/runs/{run.id}", f"/api/runs/{run.id}/metrics",
                     f"/api/runs/{run.id}/metrics/downsampled?key=loss&points=2",
                     "/api/metric-keys", "/api/metric-summary?key=loss"]:
            with urllib.request.urlopen(base + path, timeout=30) as r:
                bodies[path] = _strict(r.read())
        req = urllib.request.Request(base + "/api/compare", method="POST",
                                     data=json.dumps({"run_ids": [run.id]}).encode())
        with urllib.request.urlopen(req, timeout=30) as r:
            bodies["/api/compare"] = _strict(r.read())
    finally:
        srv.shutdown()
        srv.server_close()
    want = [1.0, None, None, 0.5, None, 0.25]
    series = bodies[f"/api/runs/{run.id}/metrics"]
    assert [m["step"] for m in series] == list(range(6))
    assert [m["value"] for m in series] == want
    assert series[5]["ts"] is None
    assert all(isinstance(m["ts"], float) for m in series[:5])
    assert [m["value"] for m in bodies["/api/compare"]["metrics"]["loss"]] == want


def test_serving_never_starts_spark(tmp_path):
    """A finished store opened the way `cli serve` opens it, every GET
    route and POST /api/compare answered 200, a /ws handshake answered
    101, DELETE of a run answered 200 and the run then 404, and no pyspark
    module imported at exit (so no JVM)."""
    script = textwrap.dedent(
        f"""
        import json, socket, sys, threading, urllib.error, urllib.request
        sys.path.insert(0, {REPO!r})
        import waddleml_spark as w
        from waddleml_spark.server import make_http_server
        from waddleml_spark.store import WaddleStore

        root = {str(tmp_path / "store")!r}
        ids = []
        for i in range(3):
            run = w.init(project="ns", name=f"r{{i}}", config={{"i": i}}, tags={{"t": "x"}},
                         store_path=root, system_metrics=False)
            for s in range(50):
                w.log({{"loss": 1.0 / (s + 1), "acc": s / 50}})
            w.log_artifact("model.bin")
            w.finish()
            ids.append(run.id)
        run._store.close()

        store = WaddleStore(root)
        srv = make_http_server(store, port=0)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        base = "http://%s:%d" % srv.server_address
        rid = ids[0]
        statuses = {{}}
        for path in ["/", "/api/runs", "/api/runs?project=ns&sort=name&order=asc&limit=2&offset=1",
                     f"/api/runs/{{rid}}", f"/api/runs/{{rid}}/metrics",
                     f"/api/runs/{{rid}}/metrics?key=loss&limit=10",
                     f"/api/runs/{{rid}}/metrics/downsampled?key=loss&points=5",
                     "/api/metric-keys", "/api/metric-summary?key=loss"]:
            with urllib.request.urlopen(base + path, timeout=30) as r:
                statuses[path] = r.status
        req = urllib.request.Request(base + "/api/compare", method="POST",
                                     data=json.dumps({{"run_ids": ids}}).encode())
        with urllib.request.urlopen(req, timeout=30) as r:
            statuses["/api/compare"] = r.status
        with socket.create_connection(srv.server_address, timeout=30) as ws:
            ws.sendall(b"GET /ws HTTP/1.1\\r\\nHost: x\\r\\nUpgrade: websocket\\r\\n"
                       b"Connection: Upgrade\\r\\nSec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\\r\\n"
                       b"Sec-WebSocket-Version: 13\\r\\n\\r\\n")
            f = ws.makefile("rb")
            status = int(f.readline().split()[1])
            headers = set(iter(f.readline, b"\\r\\n"))
            # RFC 6455 §1.3's sample key and its accept value
            ok = b"Sec-WebSocket-Accept: s3pPLMBiTxaQ9kYGzzhZRbK+xOo=\\r\\n" in headers
            statuses["/ws"] = status if ok else -1
        gone = f"/api/runs/{{ids[2]}}"
        req = urllib.request.Request(base + gone, method="DELETE")
        with urllib.request.urlopen(req, timeout=30) as r:
            statuses["DELETE " + gone] = r.status
        try:
            urllib.request.urlopen(base + gone, timeout=30)
        except urllib.error.HTTPError as e:
            statuses["GET after DELETE"] = e.code
        srv.shutdown()
        print(json.dumps({{
            "statuses": statuses,
            "pyspark": sorted(m for m in sys.modules if m.split(".")[0] == "pyspark"),
        }}))
        """
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, capture_output=True,
                         text=True, timeout=120, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    statuses = res["statuses"]
    assert statuses.pop("GET after DELETE") == 404
    assert statuses.pop("/ws") == 101
    assert len(statuses) == 11
    assert set(statuses.values()) == {200}, statuses
    assert res["pyspark"] == []


def test_polling_while_a_run_logs(tmp_path):
    """4 threads poll the run list, the run, its metrics and a compare of
    it while the run logs and flushes: every request succeeds and its body
    parses, each poller's row counts (metrics and compare, apart) never
    decrease, and the last count equals DuckDB's."""
    state.set_active_run(None)
    run = w.init(project="c", name="live", store_path=str(tmp_path / "store"),
                 system_metrics=False)
    srv = run.serve_dashboard(port=0)
    base = "http://%s:%d" % srv.server_address
    compare = json.dumps({"run_ids": [run.id]}).encode()
    paths = ["/api/runs", f"/api/runs/{run.id}", f"/api/runs/{run.id}/metrics?limit=1000000",
             "/api/compare"]
    done = threading.Event()
    counts: list[list[int]] = [[] for _ in range(4)]
    compared: list[list[int]] = [[] for _ in range(4)]
    errors: list[str] = []

    def poll(i):
        try:
            k = i
            while not done.is_set():
                path = paths[k % len(paths)]
                status, body = _request(base, path, compare if path == "/api/compare" else None)
                if status != 200:
                    errors.append(f"{path}: {status}")
                elif path.endswith("limit=1000000"):
                    counts[i].append(len(body))
                elif path == "/api/compare":
                    compared[i].append(sum(map(len, body["metrics"].values())))
                k += 1
        except Exception as e:  # a request that errors is a failure
            errors.append(f"{type(e).__name__}: {e}")

    threads = [threading.Thread(target=poll, args=(i,)) for i in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the pollers and the writer finely
    for t in threads:
        t.start()
    try:
        for s in range(300):
            run.log({"loss": 1.0 / (s + 1), "acc": s / 300})
            time.sleep(0.005)
            if s % 10 == 9:
                run.flush()
        run.finish()
        final = _request(base, paths[2])[1]
    finally:
        done.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(switch)
        srv.shutdown()
        srv.server_close()
        state.set_active_run(None)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    for c in counts + compared:
        assert c and c == sorted(c), "a poller saw the row count go down"
        assert all(n % 2 == 0 for n in c), "a poller saw half of a logged step"
    duck = run._store.duck.execute(
        "SELECT count(*) FROM metrics WHERE run_id = ?", [run.id]).fetchone()[0]
    assert len(final) == duck == 600
