"""Behavioral parity tests for the wandb-style API, modeled on the
reference suite (/root/reference/tests/test_api.py — same assertions,
Spark+DuckDB-backed store).  Both layers (DuckDB mirror and Parquet views)
are asserted to converge to identical logical state.
"""

from __future__ import annotations

import gc
import json
import os
import subprocess
import weakref

import numpy as np
import pytest

import waddleml_spark as w
from waddleml_spark import state


@pytest.fixture(autouse=True)
def reset_state():
    # ref tests/test_api.py:27-31 — autouse global-state reset
    state.set_active_run(None)
    yield
    run = state.get_active_run()
    if run is not None:
        run._finished = True  # silence atexit
    state.set_active_run(None)


@pytest.fixture()
def git_repo(tmp_path):
    # scripted git fixture repo (ref tests/test_api.py:15-24)
    repo = tmp_path / "proj"
    repo.mkdir()
    subprocess.run(["git", "init", "-q", "-b", "main"], cwd=repo, check=True)
    subprocess.run(["git", "config", "user.email", "t@example.com"], cwd=repo, check=True)
    subprocess.run(["git", "config", "user.name", "Waddle Tester"], cwd=repo, check=True)
    (repo / "train.py").write_text("print('hi')\n")
    subprocess.run(["git", "add", "."], cwd=repo, check=True)
    subprocess.run(["git", "commit", "-q", "-m", "initial"], cwd=repo, check=True)
    return repo


def _duck(store):
    return store.duck


def test_init_log_finish_with_git(spark, git_repo, monkeypatch):
    monkeypatch.chdir(git_repo)
    run = w.init(
        project="test-project",
        name="run-1",
        config={"lr": 0.01, "epochs": 100},
        tags={"model": "resnet"},
        system_metrics=False,
        spark=spark,
    )
    w.log({"loss": 0.5, "acc": 0.8})
    w.log({"loss": 0.4, "acc": 0.85})
    w.finish()

    store = run._store
    # status transition + ended_at set (ref :34-72)
    row = store._duck_row("runs", "id", run.id)
    assert row["status"] == "completed"
    assert row["ended_at"] is not None
    assert row["project"] == "test-project"
    assert row["name"] == "run-1"
    assert row["repo_id"] is not None
    assert row["commit_sha"] is not None and len(row["commit_sha"]) == 40

    # params/tags JSON round-trip
    params = dict(
        _duck(store).execute(
            "SELECT key, value FROM params WHERE run_id = ?", [run.id]
        ).fetchall()
    )
    assert json.loads(params["lr"]) == 0.01
    assert json.loads(params["epochs"]) == 100
    tags = dict(
        _duck(store).execute(
            "SELECT key, value FROM tags WHERE run_id = ?", [run.id]
        ).fetchall()
    )
    assert json.loads(tags["model"]) == "resnet"

    # metric count = 4 and approx values (ref :70-72)
    vals = _duck(store).execute(
        "SELECT key, step, value FROM metrics WHERE run_id = ? ORDER BY key, step",
        [run.id],
    ).fetchall()
    assert len(vals) == 4
    assert vals[0][2] == pytest.approx(0.8)  # acc step 0
    assert vals[1][2] == pytest.approx(0.85)

    # commit recorded with real git metadata (ref test_waddle.py:41-53)
    commits = _duck(store).execute("SELECT author, message FROM commits").fetchall()
    assert commits and "Waddle Tester" in commits[0][0]
    assert commits[0][1] == "initial"

    # Parquet views converge with the DuckDB mirror
    runs_df = store.df("runs")
    prow = runs_df.filter(runs_df.id == run.id).head()
    assert prow.status == "completed"
    assert store.df("metrics").count() == 4
    assert store.df("params").count() == 2

    # env captured as canonical sorted JSON (ref _run.py:40-47)
    env = json.loads(row["env"])
    assert set(env) == {"argv", "cwd", "platform", "python"}


def test_init_without_git(spark, tmp_path, monkeypatch):
    plain = tmp_path / "plain"
    plain.mkdir()
    monkeypatch.chdir(plain)
    run = w.init(project="nogit", system_metrics=False, spark=spark)
    w.log({"m": 1.0})
    w.finish()
    store = run._store
    row = store._duck_row("runs", "id", run.id)
    assert row["repo_id"] is None
    assert row["commit_sha"] is None
    assert row["status"] == "completed"
    assert os.path.isdir(plain / ".waddle")


def test_context_manager_success_and_failure(spark, tmp_path, monkeypatch):
    plain = tmp_path / "cm"
    plain.mkdir()
    monkeypatch.chdir(plain)
    with w.init(project="cm", system_metrics=False, spark=spark) as run:
        run.log({"x": 1.0})
    assert run._store._duck_row("runs", "id", run.id)["status"] == "completed"

    with pytest.raises(ValueError):
        with w.init(project="cm", system_metrics=False, spark=spark) as run2:
            raise ValueError("boom")
    assert run2._store._duck_row("runs", "id", run2.id)["status"] == "failed"


def test_step_semantics(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="steps", system_metrics=False, spark=spark)
    run.log({"m": 1.0})          # step 0
    run.log({"m": 2.0}, step=10)  # explicit: counter fast-forwards to 11
    run.log({"m": 3.0})          # step 11
    run.finish()
    steps = [
        r[0]
        for r in run._store.duck.execute(
            "SELECT step FROM metrics WHERE run_id = ? ORDER BY ts, step", [run.id]
        ).fetchall()
    ]
    assert steps == [0, 10, 11]


def test_bad_row_raises_at_log_and_loses_no_buffered_row(spark, tmp_path, monkeypatch):
    # metrics.step is INTEGER: a row that cannot be stored must fail at the
    # call that made it, not at the flush that also carries the valid rows
    monkeypatch.chdir(tmp_path)
    run = w.init(project="bad", system_metrics=False, spark=spark)
    for i in range(10):
        run.log({"loss": 1.0 / (i + 1)})
    for bad in (2**31, -(2**31) - 1, "3", True, 1.5, float("nan")):
        with pytest.raises(ValueError):
            run.log({"loss": 0.0}, step=bad)
        with pytest.raises(ValueError):
            run.log_metric("loss", bad, 0.0)
        with pytest.raises(ValueError):
            run.log_system({"system/cpu": 0.0}, bad)
    with pytest.raises(ValueError):
        run.log({3: 0.0})
    with pytest.raises(ValueError):
        run.log_metric(("loss",), 0, 0.0)
    run.log({"loss": 0.1}, step=np.int64(10))  # steps that worked still do
    run.log({"loss": 0.05}, step=11.0)
    run.finish()
    steps = [r[0] for r in run._store.duck.execute(
        "SELECT step FROM metrics WHERE run_id = ? ORDER BY step", [run.id]
    ).fetchall()]
    assert steps == list(range(12))
    parquet = run._store.df("metrics").filter(f"run_id = '{run.id}'")
    assert sorted(r.step for r in parquet.collect()) == steps
    assert run._store._duck_row("runs", "id", run.id)["status"] == "completed"


def test_finished_run_is_freed(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="gc", system_metrics=False, spark=spark)
    run.log({"x": 1.0})
    w.finish()
    ref = weakref.ref(run)
    del run
    gc.collect()
    assert ref() is None


def test_artifact_logging(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    f = tmp_path / "model.bin"
    f.write_bytes(b"weights" * 2)
    run = w.init(project="arts", system_metrics=False, spark=spark)
    aid = w.log_artifact("model.bin", path=str(f), kind="model", inline=True)
    w.finish()
    row = run._store._duck_row("artifacts", "id", aid)
    assert row["name"] == "model.bin"
    assert row["kind"] == "model"
    assert row["size_bytes"] == 14
    assert len(row["sha256"]) == 64
    assert bytes(row["inline_bytes"]) == b"weights" * 2
    # no-path artifact: sha256 of empty bytes (ref _run.py:182)
    run2 = w.init(project="arts", system_metrics=False, spark=spark)
    aid2 = w.log_artifact("note")
    w.finish()
    row2 = run2._store._duck_row("artifacts", "id", aid2)
    assert row2["sha256"] == "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"


def test_log_without_init_raises(spark):
    with pytest.raises(RuntimeError):
        w.log({"m": 1.0})


def test_param_upsert_last_wins(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="upsert", system_metrics=False, spark=spark)
    w.log_param("lr", 0.1)
    w.log_param("lr", 0.01)  # D3 upsert: last writer wins
    w.finish()
    store = run._store
    vals = store.duck.execute(
        "SELECT value FROM params WHERE run_id = ? AND key = 'lr'", [run.id]
    ).fetchall()
    assert vals == [("0.01",)]
    # parquet dedupe view agrees
    pdf = store.df("params").filter("key = 'lr'").collect()
    assert len(pdf) == 1 and pdf[0].value == "0.01"


def test_delete_run_cascades(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run1 = w.init(project="del", system_metrics=False, spark=spark)
    run1.log({"m": 1.0})
    run1.finish()
    run2 = w.init(project="del", system_metrics=False, spark=spark)
    run2.log({"m": 2.0})
    run2.log_param("p", 1)
    run2.finish()
    store = run2._store
    store.delete_run(run1.id)
    assert store._duck_row("runs", "id", run1.id) is None
    assert store._duck_row("runs", "id", run2.id) is not None
    assert store.duck.execute(
        "SELECT count(*) FROM metrics WHERE run_id = ?", [run1.id]
    ).fetchone()[0] == 0
    assert store.df("runs").count() == 1
    assert store.df("metrics").count() == 1


def test_unicode_json_round_trip(spark, tmp_path, monkeypatch):
    # ensure_ascii=False parity (ref _run.py:46-47,142): non-ASCII survives
    # the JSON encode → DuckDB → parse-on-read loop byte-identically
    monkeypatch.chdir(tmp_path)
    run = w.init(
        project="uni", config={"note": "日本語 · émoji ✓", "β": 0.9},
        system_metrics=False, spark=spark,
    )
    w.log_tag("label", "ünïcode—值")
    w.finish()
    from waddleml_spark.operators.dashboard import SparkDashboard

    d = SparkDashboard(run._store).get_run(run.id)
    assert d["params"]["note"] == "日本語 · émoji ✓"
    assert d["params"]["β"] == 0.9
    assert d["tags"]["label"] == "ünïcode—值"
    assert d["run"]["config"]["note"] == "日本語 · émoji ✓"


def test_module_level_serve_dashboard_requires_active_run():
    import pytest

    import waddleml_spark as w
    from waddleml_spark import state

    state.set_active_run(None)
    with pytest.raises(RuntimeError, match="No active run"):
        w.serve_dashboard()
