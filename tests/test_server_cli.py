"""Serving-layer tests: stdlib HTTP adapter wire format + CLI ls/init, and
the CLI's answers to a locked store and a bad `ls -n` or `query --limit`."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import urllib.request

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark.server import serve_in_thread

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    state.set_active_run(None)
    root = tmp_path_factory.mktemp("srv") / ".waddle"
    run = w.init(
        project="web", name="r1", config={"lr": 1e-3},
        store_path=str(root), system_metrics=False, spark=spark,
    )
    run.log({"loss": 0.9})
    run.log({"loss": 0.4})
    run.finish()
    server = serve_in_thread(run._store, port=0)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    yield base, run
    server.shutdown()
    state.set_active_run(None)


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.status, json.loads(r.read())


def test_http_runs_and_run(served):
    base, run = served
    status, runs = _get(f"{base}/api/runs")
    assert status == 200
    assert [r["name"] for r in runs] == ["r1"]
    status, detail = _get(f"{base}/api/runs/{run.id}")
    assert status == 200
    assert detail["run"]["status"] == "completed"
    assert detail["params"] == {"lr": 0.001}
    # 404 wire parity (ref _server.py:45-50)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base}/api/runs/nope")
    assert e.value.code == 404
    # /ws is the one live channel
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base}/events")
    assert e.value.code == 404


def test_http_metrics_keys_summary_compare(served):
    base, run = served
    status, series = _get(f"{base}/api/runs/{run.id}/metrics?key=loss")
    assert [m["value"] for m in series] == [0.9, 0.4]
    status, keys = _get(f"{base}/api/metric-keys")
    assert keys == ["loss"]
    status, board = _get(f"{base}/api/metric-summary?key=loss")
    assert board == [{"run_id": run.id, "name": "r1", "value": 0.4}]
    req = urllib.request.Request(
        f"{base}/api/compare",
        data=json.dumps({"run_ids": [run.id]}).encode(),
        method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        cmp = json.loads(r.read())
    assert cmp["metrics"]["loss"][0]["value"] == 0.9


def test_cli_ls_and_init(served, tmp_path, monkeypatch, capsys):
    base, run = served
    from waddleml_spark import cli

    # ls against the served store
    rc = cli.main(["ls", "--db", run._store.root])
    out = capsys.readouterr().out
    assert rc == 0
    assert "web" in out and "r1" in out and "completed" in out

    # init creates .waddle + gitignore entry
    monkeypatch.chdir(tmp_path)
    rc = cli.main(["init"])
    out = capsys.readouterr().out
    assert rc == 0
    assert (tmp_path / ".waddle").is_dir()
    assert ".waddle/" in (tmp_path / ".gitignore").read_text()


def test_cli_ls_and_serve_report_a_locked_store(tmp_path, capsys):
    """Another process holds the store: `ls` and `serve` print one line
    naming the store and DuckDB's message, no traceback, and return 1."""
    from waddleml_spark import cli

    root = str(tmp_path / ".waddle")
    holder = subprocess.Popen(
        [sys.executable, "-c", textwrap.dedent(f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from waddleml_spark.store import WaddleStore
            store = WaddleStore({root!r})
            print("ready", flush=True)
            sys.stdin.read()
        """)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "ready"
        for argv in (["ls", "--db", root], ["serve", "--db", root, "--port", "0"]):
            assert cli.main(argv) == 1
            err = capsys.readouterr().err.strip().splitlines()
            assert len(err) == 1 and root in err[0] and "lock" in err[0], err
    finally:
        holder.stdin.close()
        holder.wait(timeout=60)


@pytest.mark.parametrize("n", ["0", "-1"])
def test_cli_ls_limit_below_one_is_a_usage_error(n, tmp_path, capsys):
    from waddleml_spark import cli

    with pytest.raises(SystemExit) as e:
        cli.main(["ls", "--db", str(tmp_path), "-n", n])
    assert e.value.code == 2
    assert "at least 1" in capsys.readouterr().err


@pytest.mark.parametrize("n", ["0", "-1"])
def test_cli_query_limit_below_one_is_a_usage_error(n, capsys, monkeypatch):
    from waddleml_spark import cli, session

    def no_spark(*a, **k):
        raise AssertionError("a usage error must not start Spark")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as e:
        cli.main(["query", "forecast_revenue_q6", "--limit", n])
    assert e.value.code == 2
    assert "at least 1" in capsys.readouterr().err


def test_dashboard_index_served(served):
    base, run = served
    with urllib.request.urlopen(f"{base}/", timeout=30) as r:
        body = r.read().decode()
    assert r.status == 200
    assert "waddleml-spark" in body and "/api/runs" in body


def test_dashboard_ui_references_parity_endpoints(served):
    """Reference-parity front-end (waddle/static/index.html behaviors:
    per-metric charts :301-414, param-diff :373-389, client search
    :184-213, live socket :443-481): the served page must wire every
    backing endpoint and the live channel."""
    base, run = served
    with urllib.request.urlopen(f"{base}/", timeout=30) as r:
        body = r.read().decode()
    for needle in (
        "/api/runs",            # run list + detail
        "/metrics?limit",       # per-run series for the charts
        "/api/compare",         # multi-run comparison overlays
        "/api/metric-keys",     # overview selector
        "/api/metric-summary",  # final-value-per-run bar chart
        "/ws",                  # true WebSocket live path
        "DELETE",               # delete-run action
    ):
        assert needle in body, f"dashboard UI missing {needle}"
    # behavioral surface: search box, param-diff table, tabs, svg charts
    for feature in ("filter runs", "Parameter diff", "Artifacts", "svg"):
        assert feature in body, f"dashboard UI missing feature: {feature}"


def test_cli_module_invocation(served, run=None):
    # the CLI is runnable as a module (python -m waddleml_spark.cli)
    p = subprocess.run(
        [sys.executable, "-m", "waddleml_spark.cli", "--help"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert p.returncode == 0
    assert "init" in p.stdout and "serve" in p.stdout


def test_http_downsampled_metrics(served):
    import json
    import urllib.request

    base, run = served
    with urllib.request.urlopen(
        f"{base}/api/runs/{run.id}/metrics/downsampled?key=loss&points=5",
        timeout=30,
    ) as r:
        rows = json.loads(r.read())
    assert 0 < len(rows) <= 5
    assert all(r["value_min"] <= r["value"] <= r["value_max"] for r in rows)
    assert [r["bucket"] for r in rows] == sorted(r["bucket"] for r in rows)


def test_http_downsampled_nan_point_keeps_bucket_finite(spark, tmp_path):
    state.set_active_run(None)
    run = w.init(
        project="web", name="nan", store_path=str(tmp_path / ".waddle"),
        system_metrics=False, spark=spark,
    )
    for v in (0.25, float("nan"), 0.75):
        run.log({"loss": v})
    run.finish()
    server = serve_in_thread(run._store, port=0)
    try:
        host, port = server.server_address
        status, rows = _get(
            f"http://{host}:{port}/api/runs/{run.id}/metrics/downsampled?key=loss&points=1"
        )
    finally:
        server.shutdown()
        state.set_active_run(None)
    assert status == 200
    assert rows == [{"bucket": 0, "step": 1.0, "value": 0.5, "value_min": 0.25,
                     "value_max": 0.75, "n": 3}]


def test_cli_query_prints_json_rows(capsys):
    from waddleml_spark.cli import main

    rc = main(["query", "forecast_revenue_q6", "--sf-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(out) == 1
    import json

    row = json.loads(out[0])
    assert set(row) == {"revenue", "n_items"}


def test_cli_explain_leaves_the_callers_session_running(spark, capsys):
    from tests.conftest import SF_SMOKE
    from waddleml_spark.cli import main

    rc = main(["explain", "forecast_revenue_q6", "--sf-dir", SF_SMOKE])
    assert rc == 0 and "== Physical Plan ==" in capsys.readouterr().out
    assert spark.range(1).count() == 1


def _root_log_level(spark) -> str:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.logging.log4j.LogManager.getRootLogger().getLevel().toString()


def test_cli_query_leaves_the_callers_log_level(spark, capsys):
    """A catalog command run inside a host process must not mute the
    host's session: only a session the command creates logs at ERROR."""
    from waddleml_spark.cli import main

    before = _root_log_level(spark)
    spark.sparkContext.setLogLevel("INFO")
    try:
        rc = main(["query", "forecast_revenue_q6", "--sf-dir", "/root/testdata/sf0.001"])
        assert rc == 0
        assert _root_log_level(spark) == "INFO"
    finally:
        spark.sparkContext.setLogLevel(before)


def test_cli_query_unknown_name(capsys):
    from waddleml_spark.cli import main

    assert main(["query", "no_such_query"]) == 1


def test_http_static_route_and_traversal_guard(served):
    import urllib.error
    import urllib.request

    base, _ = served
    with urllib.request.urlopen(f"{base}/static/index.html", timeout=30) as r:
        assert r.status == 200 and b"<" in r.read()
    try:
        urllib.request.urlopen(f"{base}/static/../server.py", timeout=30)
        hit = 200
    except urllib.error.HTTPError as e:
        hit = e.code
    assert hit == 404  # traversal blocked
