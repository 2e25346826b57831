"""Change-data-capture feed: store.changes() op classification, cursor
semantics, and delete tombstones before and after compact()."""

from __future__ import annotations

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark.store import WaddleStore


@pytest.fixture(autouse=True)
def reset_state():
    state.set_active_run(None)
    yield
    run = state.get_active_run()
    if run is not None:
        run._finished = True
    state.set_active_run(None)


def _feed(store, table, since=0):
    return [r.asDict() for r in store.changes(table, since).collect()]


def test_changes_insert_update_delete(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="cdc", system_metrics=False, spark=spark)
    run.log_param("lr", 0.1)
    run.log_param("lr", 0.2)  # upsert → update event
    run.log_param("bs", 32)
    run.finish()
    store = run._store

    feed = _feed(store, "params")
    ops = [(r["key"], r["op"]) for r in feed]
    assert ("lr", "insert") in ops and ("lr", "update") in ops
    assert ("bs", "insert") in ops
    # feed is _seq-ordered: the lr insert precedes the lr update
    lr_events = [r for r in feed if r["key"] == "lr"]
    assert [r["op"] for r in lr_events] == ["insert", "update"]
    assert lr_events[0]["_seq"] < lr_events[1]["_seq"]
    # latest value wins in the update event payload
    assert lr_events[1]["value"] == "0.2"

    # runs: init → insert, finish → update (status flip)
    run_feed = _feed(store, "runs")
    assert [r["op"] for r in run_feed] == ["insert", "update"]
    assert run_feed[1]["status"] == "completed"


def test_changes_cursor_and_append_only_rejection(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="cdc2", system_metrics=False, spark=spark)
    run.log_param("a", 1)
    store = run._store
    cursor = max(r["_seq"] for r in _feed(store, "params"))
    run.log_param("a", 2)
    run.log_param("b", 9)
    run.finish()
    delta = _feed(store, "params", since=cursor)
    assert sorted((r["key"], r["op"]) for r in delta) == [
        ("a", "update"),
        ("b", "insert"),
    ]
    with pytest.raises(ValueError):
        store.changes("metrics")


def test_delete_emits_tombstones(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="cdc3", system_metrics=False, spark=spark)
    run.log_param("x", 1)
    run.log({"m": 1.0})
    run.finish()
    store = run._store
    rid = run.id
    store.delete_run(rid)
    dels = [r for r in _feed(store, "params") if r["op"] == "delete"]
    assert len(dels) == 1 and dels[0]["run_id"] == rid
    run_dels = [r for r in _feed(store, "runs") if r["op"] == "delete"]
    assert len(run_dels) == 1 and run_dels[0]["id"] == rid
    # until compact() the run's history stays in the feed, followed by its
    # delete event, while the read view already hides the run
    events = [r for r in _feed(store, "params") if r["run_id"] == rid]
    assert [r["op"] for r in events] == ["insert", "delete"]
    assert events[0]["_seq"] < events[1]["_seq"]
    assert store.df("params").filter(f"run_id = '{rid}'").count() == 0
    # compact() folds the history away; the tombstone is the only trace —
    # from-scratch consumers see it last
    store.compact()
    assert all(r["op"] == "delete" or r["run_id"] != rid for r in _feed(store, "params"))
