"""The store's single row-level write path: a write-only run never starts
Spark, part files appear atomically, finish() leaves both layers holding
the same row, delete_run's DuckDB side is one transaction and its Parquet side one
tombstone part, late writes to a deleted run stay hidden, write sequence
numbers strictly increase, and closing one store leaves another on the
same root readable."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import textwrap
import time
from types import SimpleNamespace

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark import store as store_mod
from waddleml_spark.store import WaddleStore

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(autouse=True)
def reset_state():
    state.set_active_run(None)
    yield
    run = state.get_active_run()
    if run is not None:
        run._finished = True
    state.set_active_run(None)


def test_write_only_run_never_starts_spark(tmp_path):
    """init → 200 log → log_artifact → finish in a fresh interpreter: no
    pyspark module is ever imported (so no JVM starts), and the run ends
    completed."""
    art = tmp_path / "model.bin"
    art.write_bytes(b"weights")
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        import waddleml_spark as w

        run = w.init(project="wo", config={{"lr": 0.1}}, tags={{"team": "a"}},
                     store_path={str(tmp_path / "store")!r})
        for i in range(200):
            w.log({{"loss": 1.0 / (i + 1)}})
        w.log_artifact("model", path={str(art)!r})
        w.finish()
        status, ended = run._store.duck.execute(
            "SELECT status, ended_at FROM runs WHERE id = ?", [run.id]
        ).fetchone()
        print(json.dumps({{
            "pyspark": sorted(m for m in sys.modules if m.split(".")[0] == "pyspark"),
            "status": status,
            "ended_at": ended,
        }}))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["pyspark"] == []
    assert res["status"] == "completed"
    assert res["ended_at"] is not None


def test_finished_run_parquet_row_equals_duckdb_row(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="eq", config={"lr": 0.1}, system_metrics=False, spark=spark)
    run.log({"m": 1.0})
    run.finish()
    store = run._store
    duck_row = store._duck_row("runs", "id", run.id)
    spark_rows = [r.asDict() for r in store.df("runs").filter(f"id = '{run.id}'").collect()]
    assert spark_rows == [duck_row]
    assert duck_row["status"] == "completed" and duck_row["ended_at"] is not None


def test_torn_part_write_is_invisible(spark, tmp_path, monkeypatch):
    """A Parquet write that dies after writing some bytes leaves no visible
    part file, no temp file, a readable table and no DuckDB row."""
    import pyarrow.parquet as pq

    store = WaddleStore(str(tmp_path / "store"), spark=spark)
    row = {"run_id": "r", "key": "k", "step": 0, "ts": 1.0, "value": 1.0}
    store.append("metrics", [row])
    d = store._dir("metrics")
    before = sorted(os.listdir(d))

    def torn_write(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 truncated")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        store.append("metrics", [{**row, "step": 1, "value": 2.0}])
    monkeypatch.undo()

    assert sorted(os.listdir(d)) == before
    assert store.df("metrics").count() == 1
    assert store.duck.execute("SELECT count(*) FROM metrics").fetchone()[0] == 1
    store.close()


class _FailOn:
    """DuckDB connection proxy that raises on one statement prefix."""

    def __init__(self, con, prefix: str):
        self._con, self._prefix = con, prefix

    def execute(self, sql, *args):
        if sql.startswith(self._prefix):
            raise RuntimeError("injected failure")
        return self._con.execute(sql, *args)

    def __getattr__(self, name):
        return getattr(self._con, name)


def test_delete_run_failure_rolls_back_every_table(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="tx", system_metrics=False, spark=spark)
    run.log({"m": 1.0})
    run.log_param("p", 1)
    run.log_tag("t", "x")
    run.log_artifact("a")
    run.finish()
    store = run._store
    tables = ("metrics", "artifacts", "tags", "params", "runs")

    def counts():
        return {t: store.duck.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in tables}

    before = counts()
    assert all(before.values())
    parquet_before = {t: sorted(glob.glob(store._dir(t) + "/*.parquet")) for t in tables}
    real = store.duck
    monkeypatch.setattr(store, "duck", _FailOn(real, "DELETE FROM runs"))
    with pytest.raises(RuntimeError, match="injected"):
        store.delete_run(run.id)
    monkeypatch.setattr(store, "duck", real)

    assert counts() == before
    # nothing past the failed transaction ran: no tombstone, no rewrite
    assert not os.path.exists(store._dir("_cdc_deletes"))
    assert {t: sorted(glob.glob(store._dir(t) + "/*.parquet")) for t in tables} == parquet_before


def test_delete_run_adds_one_tombstone_part_and_moves_nothing(spark, tmp_path, monkeypatch):
    """delete_run is one log write: exactly one new file under parquet/, a
    _cdc_deletes part, and every file that was there stays in place."""
    monkeypatch.chdir(tmp_path)
    run = w.init(project="tomb", system_metrics=False, spark=spark)
    run.log({"m": 1.0})
    run.log_param("p", 1)
    run.log_tag("t", "x")
    run.log_artifact("a")
    run.finish()
    store = run._store
    root = os.path.join(store.root, "parquet")

    def files():
        return {os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs}

    before = files()
    store.delete_run(run.id)
    after = files()
    assert before <= after
    [added] = after - before
    assert added.startswith(os.path.join("_cdc_deletes", "part-"))


def test_late_writes_after_delete_stay_hidden_and_finish_returns(spark, tmp_path, monkeypatch):
    """A run deleted while it trains keeps logging, then finishes: finish()
    returns without bringing the run back, DuckDB keeps the late metric
    rows as orphans, and the tombstone hides them from the Spark view."""
    import pyarrow.parquet as pq

    monkeypatch.chdir(tmp_path)
    run = w.init(project="late", system_metrics=False, spark=spark)
    run.log({"m": 0.0})
    run.flush()
    store = run._store
    store.delete_run(run.id)
    for i in range(3):
        run.log({"m": float(i + 1)})
    run.finish()
    assert store._duck_row("runs", "id", run.id) is None
    assert store.duck.execute(
        "SELECT count(*) FROM metrics WHERE run_id = ?", [run.id]
    ).fetchone() == (3,)
    assert pq.read_table(store._dir("metrics")).num_rows == 4  # hidden, not purged
    assert store.df("metrics").count() == 0
    assert store.df("runs").count() == 0


def test_write_seq_strictly_increases_when_clock_stalls_or_steps_back(monkeypatch):
    """More than 1000 writes in one frozen microsecond, then the wall clock
    stepped back (an NTP step): every sequence number beats the last, so
    last-writer-wins never picks an older version."""
    now = [time.time()]
    monkeypatch.setattr(store_mod, "time", SimpleNamespace(time=lambda: now[0]))
    seqs = [store_mod._next_seq() for _ in range(2000)]
    now[0] -= 5.0
    seqs += [store_mod._next_seq() for _ in range(10)]
    assert all(b > a for a, b in zip(seqs, seqs[1:]))


def test_closing_one_store_keeps_reader_conn_for_another(tmp_path):
    """Two stores on one root (api.init opens one per run); closing the
    first must not unregister the second, or reader_conn would open a
    read_only connection beside its read-write one and DuckDB refuses."""
    root = str(tmp_path / "store")
    a = WaddleStore(root)
    b = WaddleStore(root)
    a.close()
    con = WaddleStore.reader_conn(root)
    assert con.execute("SELECT count(*) FROM runs").fetchone() == (0,)
    b.close()
