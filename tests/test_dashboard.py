"""SparkDashboard behavioral tests: seed a store through the public API,
then assert every dashboard query shape (ref: waddle/_dashboard_api.py) —
including a differential check against the DuckDB mirror for list_runs.
"""

from __future__ import annotations

import time

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark.operators.dashboard import SparkDashboard


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    state.set_active_run(None)
    root = tmp_path_factory.mktemp("dash") / ".waddle"
    runs = []
    for i, (project, status) in enumerate(
        [("alpha", "completed"), ("alpha", "failed"), ("beta", "completed")]
    ):
        r = w.init(
            project=project,
            name=f"run-{i}",
            config={"lr": 0.1 * (i + 1), "layers": i},
            tags={"exp": f"e{i}"},
            store_path=str(root),
            system_metrics=False,
            spark=spark,
        )
        for s in range(5):
            r.log({"loss": 1.0 / (s + 1) + i, "acc": 0.1 * s + i})
        r.log_artifact(f"model-{i}.bin")
        r.finish(status=status)
        runs.append(r)
    # one genuinely-running run, started long ago with stale metrics → P9
    stale = w.init(
        project="alpha", name="stale", store_path=str(root),
        system_metrics=False, spark=spark,
    )
    stale.log_metric("loss", 0, 9.9, ts=time.time() - 1000)
    stale.flush()
    runs.append(stale)
    store = stale._store
    yield store, runs
    stale._finished = True
    state.set_active_run(None)


def test_list_runs_filters_sort_paginate(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    out = dash.list_runs()
    assert len(out) == 4
    # default sort: started_at desc → stale run first
    assert out[0]["name"] == "stale"
    alpha = dash.list_runs(project="alpha")
    assert {r["name"] for r in alpha} == {"run-0", "run-1", "stale"}
    fails = dash.list_runs(status="failed")
    assert [r["name"] for r in fails] == ["run-1"]
    page = dash.list_runs(limit=2, offset=1)
    assert len(page) == 2 and page[0]["name"] == "run-2"
    asc = dash.list_runs(sort="name", order="asc")
    assert [r["name"] for r in asc] == ["run-0", "run-1", "run-2", "stale"]
    # unknown sort column falls back to started_at (allowlist, ref O1)
    fallback = dash.list_runs(sort="nope; DROP TABLE runs")
    assert fallback[0]["name"] == "stale"


def test_stale_run_displayed_aborted_not_written(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    out = {r["name"]: r["status"] for r in dash.list_runs()}
    assert out["stale"] == "aborted"  # displayed aborted (P9/T3)
    # ...but never written back (ref evaluates lazily, :56-69)
    assert store._duck_row("runs", "id", runs[-1].id)["status"] == "running"


def test_get_run_shape(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    d = dash.get_run(runs[0].id)
    assert d["run"]["name"] == "run-0"
    assert d["params"] == {"lr": 0.1, "layers": 0}
    assert d["tags"] == {"exp": "e0"}
    assert [a["name"] for a in d["artifacts"]] == ["model-0.bin"]
    assert d["metric_keys"] == ["acc", "loss"]
    assert isinstance(d["run"]["env"], dict)  # JSON parsed (F2)
    assert dash.get_run("missing") == {}


def test_get_metrics_series_and_quirk(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    series = dash.get_metrics(runs[0].id, key="loss")
    assert [m["step"] for m in series] == [0, 1, 2, 3, 4]
    both = dash.get_metrics(runs[0].id)
    assert len(both) == 10
    # cross-key LIMIT quirk preserved (ref O3): limit truncates across keys
    trunc = dash.get_metrics(runs[0].id, limit=7)
    assert len(trunc) == 7
    assert [m["key"] for m in trunc] == ["acc"] * 5 + ["loss"] * 2


def test_compare_runs(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    ids = [runs[0].id, runs[1].id]
    cmp = dash.compare_runs(ids)
    assert {r["name"] for r in cmp["runs"]} == {"run-0", "run-1"}
    assert cmp["params"][runs[0].id]["lr"] == 0.1
    assert cmp["params"][runs[1].id]["lr"] == pytest.approx(0.2)
    assert set(cmp["metrics"]) == {"acc", "loss"}
    loss = cmp["metrics"]["loss"]
    assert len(loss) == 10  # 2 runs × 5 steps, one scan
    assert dash.compare_runs([]) == {"runs": [], "param_diff": {}, "metrics": {}}


def test_metric_summary_leaderboard(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    board = dash.metric_summary("loss")
    by_run = {r["run_id"]: r["value"] for r in board}
    # final (max-step) loss for run-0 is 1/5 + 0
    assert by_run[runs[0].id] == pytest.approx(0.2)
    assert by_run[runs[1].id] == pytest.approx(1.2)
    # ordered by started_at desc → stale run first
    assert board[0]["run_id"] == runs[-1].id


def test_metric_keys_global_excludes_system(seeded):
    store, runs = seeded
    runs[0]._finished = False
    runs[0].log_system({"system/cpu_percent": 1.0}, 0)
    runs[0].flush()
    runs[0]._finished = True
    dash = SparkDashboard(store)
    keys = dash.metric_keys_global()
    assert "system/cpu_percent" not in keys
    assert keys == ["acc", "loss"]


def test_list_runs_matches_duckdb_mirror(seeded):
    """Differential: Spark list (without staleness rewrite) vs the mirror."""
    store, runs = seeded
    dash = SparkDashboard(store)
    got = {
        (r["id"], r["project"], r["name"])
        for r in dash.list_runs(now=0)  # now=0 disables staleness rewrite
    }
    want = set(
        store.duck.execute("SELECT id, project, name FROM runs").fetchall()
    )
    assert got == want


def test_series_downsample_bounds_and_coverage(spark):
    from pyspark.sql import functions as F
    from waddleml_spark.operators.core import series_downsample
    from tests.conftest import SF_SMOKE

    from waddleml_spark.session import read_table

    ev = read_table(spark, SF_SMOKE, "events").withColumn(
        "__x", F.col("ts").cast("double")
    )
    out = series_downsample(ev, ["event_type"], "__x", "value", target_points=20)
    rows = out.collect()
    per_type = {}
    for r in rows:
        per_type.setdefault(r.event_type, []).append(r)
    n_in = {
        r.event_type: r["count"]
        for r in ev.groupBy("event_type").count().collect()
    }
    for et, pts in per_type.items():
        assert len(pts) <= 20
        assert all(0 <= p.bucket < 20 for p in pts)
        assert sum(p.n_points for p in pts) == n_in[et]  # every row counted
        assert all(p.y_min <= p.y_mean <= p.y_max for p in pts)


def test_lttb_keeps_spikes_mean_downsample_flattens(spark):
    from pyspark.sql import functions as F
    from waddleml_spark.operators.core import lttb_downsample

    # flat series with one huge spike mid-way
    rows = [(0, float(i), 1.0 if i != 500 else 100.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "g int, x double, y double")
    out = lttb_downsample(df, ["g"], "x", "y", target_points=20)
    ys = [r.y for r in out.collect()]
    assert 100.0 in ys  # the spike survives
    assert len(ys) <= 20


def test_list_runs_status_sort_uses_stored_status_for_page_membership(seeded):
    # round-6 review find / reference parity (ref :45-69): ORDER BY
    # status runs on STORED values; the stale run (stored 'running')
    # must sort in the 'running' group even though it DISPLAYS aborted
    store, runs = seeded
    dash = SparkDashboard(store)
    out = dash.list_runs(sort="status", order="desc")
    # stored statuses desc: running > failed > completed; the stale run
    # (stored running) leads the page yet displays aborted
    assert out[0]["name"] == "stale" and out[0]["status"] == "aborted"


def test_series_downsample_null_x_rows_do_not_pollute_last_bucket(spark):
    from waddleml_spark.operators.core import series_downsample
    from pyspark.sql import functions as F

    rows = [("g", float(i), 1.0) for i in range(100)] + [("g", None, 1000.0)]
    df = spark.createDataFrame(rows, "g string, x double, v double")
    out = series_downsample(df, ["g"], "x", "v", target_points=4)
    # the NULL-x row (v=1000) must not skew any bucket's mean
    assert all(r.y_max <= 1.0 for r in out.collect())


def test_lttb_single_bucket_group_keeps_both_endpoints(spark):
    from waddleml_spark.operators.core import lttb_downsample

    # constant x -> span 0 -> every row lands in bucket 0
    df = spark.createDataFrame(
        [("g", 5.0, 1.0), ("g", 5.0, 2.0), ("g", 5.0, 3.0)],
        "g string, x double, v double",
    )
    got = sorted(r.v for r in lttb_downsample(df, ["g"], "x", "v", 10).collect())
    assert got == [1.0, 3.0]  # first AND last, not first alone
