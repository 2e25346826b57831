"""Per-route parity: every route's `_SQL` texts, run by both engines,
must give the same answers.  MirrorDashboard (the DuckDB mirror, serves
HTTP) is checked against SparkDashboard (spark.sql over the Parquet event
log) on the test_dashboard.py store plus a run with a tied last step, a
fresh running run (one of its series holds a NaN point) and a running run
with no metrics, and on a store that holds no rows.

Lists are compared in order wherever the route sorts them — rows tied
on the route's sort key may come back in either order, so the sort keys
must match position by position and the rows as a multiset.  Unordered
parts (dict contents, the runs of a compare, a run's artifacts) are
compared without regard to order.
"""

from __future__ import annotations

import ast
import inspect
import json
import time

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark.operators.core import series_downsample
from waddleml_spark.operators.dashboard import _SQL, MirrorDashboard, SparkDashboard, _dumps
from waddleml_spark.store import WaddleStore
from tests.test_dashboard import seeded  # noqa: F401  (module-scoped store)


@pytest.fixture(scope="module")
def dashes(seeded, spark):  # noqa: F811
    store, runs = seeded
    root = store.root
    state.set_active_run(None)
    tie = w.init(project="gamma", name="tie", config={"lr": 0.5}, store_path=root,
                 system_metrics=False, spark=spark)
    for s in range(3):
        tie.log({"loss": 2.0 - s, "acc": 0.3 * s})
    tie.log_metric("loss", 2, 9.5)  # a second row on the last step: a tie
    tie.finish()
    live = w.init(project="alpha", name="live", tags={"exp": "live"}, store_path=root,
                  system_metrics=False, spark=spark)
    for s in range(4):
        live.log({"loss": 0.5 / (s + 1)})
    for s, v in enumerate((0.25, float("nan"), 0.5, 0.75)):
        live.log_metric("acc", s, v)  # the one NaN-bearing series
    live.log_system({"system/cpu_percent": 3.0}, 0)
    live.flush()  # running, ended_at NULL, fresh metrics
    idle = w.init(project="beta", name="idle", store_path=root,
                  system_metrics=False, spark=spark)  # running, no metrics
    ids = [r.id for r in runs] + [tie.id, live.id, idle.id]
    yield MirrorDashboard(store), SparkDashboard(store), ids
    live._finished = idle._finished = True
    state.set_active_run(None)


def _canon(row) -> str:
    return json.dumps(row, sort_keys=True)


def same_sorted(got: list, want: list, sort_key) -> None:
    """Equal sort keys position by position, equal rows as a multiset."""
    assert [sort_key(r) for r in got] == [sort_key(r) for r in want]
    assert sorted(map(_canon, got)) == sorted(map(_canon, want))


def same_unordered(got: list, want: list) -> None:
    assert sorted(map(_canon, got)) == sorted(map(_canon, want))


def test_list_runs_parity(dashes):
    mirror, spark_dash, ids = dashes
    t = time.time()
    calls = [{}]
    # every allowlisted sort plus an unknown one, both orders
    for sort in ("started_at", "ended_at", "name", "status", "project", "nope; DROP TABLE runs"):
        for order in ("desc", "asc"):
            calls.append({"sort": sort, "order": order})
    # filters, each under three clocks: staleness off, now, far future
    for filt in ({"project": "alpha"}, {"project": "beta"}, {"status": "running"},
                 {"project": "alpha", "status": "running"}, {"status": "failed"},
                 {"project": "nope"}):
        for now in (0, t, t + 10_000):
            calls.append({**filt, "now": now})
    # pages
    for sort, order, limit, offset in (("started_at", "desc", 2, 1), ("name", "asc", 3, 0),
                                       ("status", "desc", 2, 2), ("ended_at", "asc", 4, 3),
                                       ("project", "asc", 5, 10), ("name", "desc", 0, 0)):
        calls.append({"sort": sort, "order": order, "limit": limit, "offset": offset})
    calls.append({"now": t + 10_000, "sort": "status", "order": "desc"})
    for kw in calls:
        got, want = mirror.list_runs(**kw), spark_dash.list_runs(**kw)
        assert got == want, kw
    # the grid hit the stale rule's both branches: metrics too old, no metrics
    future = {r["name"]: r["status"] for r in mirror.list_runs(now=t + 10_000)}
    assert future["live"] == future["idle"] == future["stale"] == "aborted"
    assert len(future) == len(ids)


def test_get_run_parity(dashes):
    mirror, spark_dash, ids = dashes
    for rid in ids:
        got, want = mirror.get_run(rid), spark_dash.get_run(rid)
        assert got.keys() == want.keys()
        assert got["run"] == want["run"]
        assert got["params"] == want["params"] and got["tags"] == want["tags"]
        assert got["metric_keys"] == want["metric_keys"]
        same_unordered(got["artifacts"], want["artifacts"])
    assert mirror.get_run("missing") == spark_dash.get_run("missing") == {}


def _wire(payload):
    """A SparkDashboard result as the server would send it: strict JSON,
    parsed back."""
    return json.loads(_dumps(payload))


def test_get_metrics_parity(dashes):
    mirror, spark_dash, ids = dashes
    by_key_step = lambda r: (r["key"], r["step"])  # noqa: E731

    def metrics(rid, **kw):
        got = json.loads(mirror.get_metrics(rid, **kw))
        same_sorted(got, _wire(spark_dash.get_metrics(rid, **kw)), by_key_step)
        return got

    for rid in ids:
        for kw in ({}, {"key": "loss"}, {"key": "acc"}, {"key": "system/cpu_percent"},
                   {"key": "nope"}):
            metrics(rid, **kw)
    # the cross-key limit (ref O3 quirk) on a run with two 5-step keys
    for kw in ({"limit": 7}, {"limit": 5}, {"limit": 0}, {"key": "loss", "limit": 3}):
        metrics(ids[0], **kw)
    assert [r["key"] for r in metrics(ids[0], limit=7)] == ["acc"] * 5 + ["loss"] * 2
    assert metrics(ids[0], limit=0) == metrics(ids[0], key="nope") == []
    # the live run's NaN acc point goes out as null
    acc = metrics(ids[5], key="acc")
    assert [r["value"] for r in acc] == [0.25, None, 0.5, 0.75]


def test_get_metrics_downsampled_parity(dashes):
    mirror, spark_dash, ids = dashes
    for rid in ids:
        for key in ("loss", "acc", "nope"):
            for points in (1, 2, 3, 200):
                got = mirror.get_metrics_downsampled(rid, key, points=points)
                want = spark_dash.get_metrics_downsampled(rid, key, points=points)
                assert got == want, (rid, key, points)
    # the live run's NaN point hides nothing: its bucket's value, min and
    # max cover the finite points, and n still counts every point
    (bucket,) = mirror.get_metrics_downsampled(ids[5], "acc", points=1)
    assert bucket == {"bucket": 0, "step": 1.5, "value": 0.5, "value_min": 0.25,
                      "value_max": 0.75, "n": 4}
    # two buckets: steps 0-1 (the NaN one among them) and steps 2-3
    assert mirror.get_metrics_downsampled(ids[5], "acc", points=2) == [
        {"bucket": 0, "step": 0.5, "value": 0.25, "value_min": 0.25, "value_max": 0.25,
         "n": 2},
        {"bucket": 1, "step": 2.5, "value": 0.625, "value_min": 0.5, "value_max": 0.75,
         "n": 2},
    ]


def test_get_metrics_downsampled_matches_series_downsample(dashes):
    """The route's SQL against the DataFrame operator it reimplements, over
    the same series with NaN points NULLed (the route's documented rule)."""
    from pyspark.sql import functions as F

    mirror, spark_dash, ids = dashes
    m = (
        spark_dash.store.df("metrics")
        .withColumn("__x", F.col("step").cast("double"))
        .withColumn("value", F.nanvl("value", F.lit(None).cast("double")))
    )
    for points in (1, 2, 3, 200):
        want: dict = {}
        out = series_downsample(m, ["run_id", "key"], "__x", "value", target_points=points)
        for r in out.orderBy("bucket").collect():
            want.setdefault((r.run_id, r.key), []).append({
                "bucket": r.bucket, "step": r.x, "value": r.y_mean,
                "value_min": r.y_min, "value_max": r.y_max, "n": r.n_points,
            })
        assert (ids[5], "acc") in want  # the NaN-bearing series
        for rid, key in want:
            got = spark_dash.get_metrics_downsampled(rid, key, points=points)
            assert got == mirror.get_metrics_downsampled(rid, key, points=points)
            assert got == want[rid, key], (rid, key, points)


def test_compare_runs_parity(dashes):
    mirror, spark_dash, ids = dashes
    assert json.loads(mirror.compare_runs([])) == spark_dash.compare_runs([]) == {
        "runs": [], "param_diff": {}, "metrics": {}}
    assert json.loads(mirror.compare_runs(["missing", "nope"])) == _wire(
        spark_dash.compare_runs(["missing", "nope"])) == {"runs": [], "params": {}, "metrics": {}}
    by_step = lambda r: r["step"]  # noqa: E731
    for sel in ([ids[0]], [ids[0], ids[2], ids[4]], [ids[4], ids[5], "missing"]):
        got, want = json.loads(mirror.compare_runs(sel)), _wire(spark_dash.compare_runs(sel))
        assert got.keys() == want.keys() == {"runs", "params", "metrics"}
        same_unordered(got["runs"], want["runs"])
        assert got["params"] == want["params"]
        assert got["metrics"].keys() == want["metrics"].keys()
        for key in want["metrics"]:
            same_sorted(got["metrics"][key], want["metrics"][key], by_step)


def test_metric_keys_global_parity(dashes):
    mirror, spark_dash, _ = dashes
    got = mirror.metric_keys_global()
    assert got == spark_dash.metric_keys_global()
    assert got == ["acc", "loss"]  # system/* excluded


def test_metric_summary_parity_keeps_ties(dashes):
    mirror, spark_dash, ids = dashes
    by_run = lambda r: r["run_id"]  # noqa: E731
    # limits land between runs, never inside the tied run's two rows
    for key, limit in (("loss", 20), ("loss", 1), ("loss", 3), ("loss", 5),
                       ("acc", 20), ("nope", 20)):
        same_sorted(mirror.metric_summary(key, limit=limit),
                    spark_dash.metric_summary(key, limit=limit), by_run)
    tie_rows = [r["value"] for r in mirror.metric_summary("loss") if r["run_id"] == ids[4]]
    assert sorted(tie_rows) == [0.0, 9.5]


def test_every_route_agrees_on_an_empty_store(spark, tmp_path):
    # store.df() of a table with no part file is createDataFrame([], schema)
    store = WaddleStore(str(tmp_path / "empty"), spark=spark)
    mirror, spark_dash = MirrorDashboard(store), SparkDashboard(store)
    try:
        for kw in ({}, {"project": "alpha", "status": "running"}, {"sort": "name", "limit": 0}):
            assert mirror.list_runs(**kw) == spark_dash.list_runs(**kw) == []
        assert mirror.get_run("x") == spark_dash.get_run("x") == {}
        for kw in ({}, {"key": "loss"}):
            got = json.loads(mirror.get_metrics("x", **kw))
            assert got == spark_dash.get_metrics("x", **kw) == []
        assert (mirror.get_metrics_downsampled("x", "loss")
                == spark_dash.get_metrics_downsampled("x", "loss") == [])
        assert json.loads(mirror.compare_runs(["x"])) == spark_dash.compare_runs(["x"]) == {
            "runs": [], "params": {}, "metrics": {}}
        assert mirror.metric_keys_global() == spark_dash.metric_keys_global() == []
        assert mirror.metric_summary("loss") == spark_dash.metric_summary("loss") == []
    finally:
        store.close()


def test_each_route_is_written_once():
    """SparkDashboard's routes build no DataFrame: each runs `_SQL` texts
    through the engine seam.  MirrorDashboard defines no route, only its
    engine."""
    assert [n for n in vars(MirrorDashboard) if not n.startswith("__")] == ["_engine"]
    routes = {n: f for n, f in vars(SparkDashboard).items()
              if inspect.isfunction(f) and not n.startswith("_")}
    assert routes.keys() == {"list_runs", "get_run", "get_metrics", "get_metrics_downsampled",
                             "compare_runs", "metric_keys_global", "metric_summary",
                             "delete_run"}
    frame_api = {"F", "ops", "df", "spark", "sql", "filter", "select", "orderBy", "groupBy",
                 "agg", "collect", "withColumn"}
    src = inspect.getsource(SparkDashboard)
    for name, fn in routes.items():
        tree = ast.parse(inspect.getsource(fn).strip())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        used |= {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
        assert not used & frame_api, (name, used & frame_api)
        assert name == "delete_run" or "_engine" in used, name
    # every text is some route's
    assert [k for k in _SQL if f'"{k}"' not in src] == []
