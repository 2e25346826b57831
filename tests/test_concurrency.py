"""Write-path concurrency: parallel threads logging through one store
(the reference's lock-serialized multi-thread scenario, S5), and deletes
beside a logging run — no lost rows, both storage layers converge."""

from __future__ import annotations

import sys
import threading
import time

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


def test_parallel_threads_one_run(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="conc", system_metrics=False, spark=spark)

    def worker(tid: int):
        for i in range(20):
            # log_metric with explicit steps: no step-counter contention
            run.log_metric(f"t{tid}/m", i, float(tid * 100 + i))

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    run.finish()

    n_duck = run._store.duck.execute(
        "SELECT count(*) FROM metrics WHERE run_id = ?", [run.id]
    ).fetchone()[0]
    assert n_duck == 80
    assert run._store.df("metrics").count() == 80
    # per-thread series intact and ordered
    for t in range(4):
        vals = [
            r[0]
            for r in run._store.duck.execute(
                "SELECT value FROM metrics WHERE run_id=? AND key=? ORDER BY step",
                [run.id, f"t{t}/m"],
            ).fetchall()
        ]
        assert vals == [float(t * 100 + i) for i in range(20)]


class _YieldingLock:
    """A lock that gives up the GIL each time it is released, so another
    thread runs in every gap between two holds: a race between holds shows
    on every run instead of now and then."""

    def __init__(self):
        self._lock = threading.Lock()

    def __enter__(self):
        self._lock.acquire()

    def __exit__(self, *exc):
        self._lock.release()
        time.sleep(0)


def test_threads_logging_without_steps_each_get_their_own(tmp_path, monkeypatch):
    # the auto-step counter is shared: a lost update hands two rows one step;
    # a step claimed in one lock hold and buffered in another lets a later
    # step overtake it on the way to the bus
    monkeypatch.chdir(tmp_path)
    run = w.init(project="steps", system_metrics=False)
    run._buf_lock = _YieldingLock()
    delivered = []
    run._store.bus.subscribe(lambda rows: delivered.extend(r["step"] for r in rows))

    def worker():
        for _ in range(500):
            run.log({"loss": 1.0})

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    run.finish()
    steps = [r[0] for r in run._store.duck.execute(
        "SELECT step FROM metrics WHERE run_id = ? ORDER BY step", [run.id]
    ).fetchall()]
    assert steps == list(range(8 * 500))
    assert len(delivered) == 8 * 500
    assert delivered == sorted(delivered), "the bus delivered a step after a later one"


def test_timed_and_full_flushes_reach_the_bus_in_log_order(tmp_path, monkeypatch):
    # the time trigger (a thread of its own) and the row threshold (the
    # logging thread) race to flush one run: every row reaches the store
    # once, and the live bus sees the batches in log order
    from waddleml_spark import run as run_mod
    from waddleml_spark.run import Run

    monkeypatch.setattr(run_mod, "FLUSH_SECONDS", 0.001)
    monkeypatch.setattr(run_mod, "LIVE_FLUSH_SECONDS", 0.001)  # the bus is watched
    monkeypatch.setattr(run_mod, "FLUSH_ROWS", 7)
    store = WaddleStore(str(tmp_path / "order"))
    run = Run(store=store, run_id="o" * 32, project="order", system_metrics=False)
    seen = []
    store.bus.subscribe(lambda rows: seen.extend(r["step"] for r in rows))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for i in range(2000):
            run.log({"m": float(i)})
    finally:
        sys.setswitchinterval(old)
    run.finish()
    assert seen == list(range(2000))
    assert store.duck.execute(
        "SELECT count(*) FROM metrics WHERE run_id = ?", [run.id]
    ).fetchone()[0] == 2000
    store.close()


def test_failed_timed_flush_fails_the_run(tmp_path, monkeypatch):
    # a time-triggered flush fails on its timer thread: the error is kept
    # on the run, the next log() and finish() raise it, and the run ends
    # failed, not completed
    from waddleml_spark import run as run_mod
    from waddleml_spark.run import Run

    monkeypatch.setattr(run_mod, "FLUSH_SECONDS", 0.1)
    uncaught = []
    monkeypatch.setattr(threading, "excepthook", uncaught.append)
    store = WaddleStore(str(tmp_path / "fail"))
    run = Run(store=store, run_id="f" * 32, project="fail", system_metrics=False)
    append, calls = store.append, []

    def flaky(table, rows):
        if table == "metrics" and not calls:
            calls.append(rows)
            raise OSError("disk full")
        append(table, rows)

    store.append = flaky
    run.log({"loss": 1.0})
    deadline = time.monotonic() + 10
    while not calls and time.monotonic() < deadline:
        time.sleep(0.02)
    with run._flush_lock:  # the timer's flush has ended
        pass
    with pytest.raises(OSError, match="disk full"):
        run.log({"loss": 2.0})
    with pytest.raises(OSError, match="disk full"):
        run.flush()
    with pytest.raises(OSError, match="disk full"):
        run.finish()
    assert uncaught == []  # the timer thread raised nothing
    assert [r["step"] for r in calls[0]] == [0]
    status = store.duck.execute("SELECT status FROM runs WHERE id = ?", [run.id]).fetchone()
    assert status == ("failed",)
    assert store.duck.execute("SELECT count(*) FROM metrics").fetchone() == (0,)
    store.close()


def test_two_stores_two_runs(spark, tmp_path):
    s1 = WaddleStore(str(tmp_path / "a"), spark=spark)
    s2 = WaddleStore(str(tmp_path / "b"), spark=spark)
    from waddleml_spark.run import Run

    r1 = Run(store=s1, run_id="r1" * 16, project="p1", system_metrics=False)
    r2 = Run(store=s2, run_id="r2" * 16, project="p2", system_metrics=False)
    r1.log({"m": 1.0})
    r2.log({"m": 2.0})
    r1.finish()
    r2.finish()
    assert s1.df("metrics").count() == 1
    assert s2.df("metrics").count() == 1
    assert s1.duck.execute("SELECT value FROM metrics").fetchone()[0] == 1.0
    assert s2.duck.execute("SELECT value FROM metrics").fetchone()[0] == 2.0
    s1.close()
    s2.close()


def test_concurrent_finish_on_shared_store(spark, tmp_path):
    """More threads than cores run init → log → finish on one store at the
    same time: every final status row lands in DuckDB and in the Parquet
    view."""
    from waddleml_spark.run import Run

    store = WaddleStore(str(tmp_path / "shared"), spark=spark)
    ids = [f"{c}" * 32 for c in "abcdefgh"]
    errors: list[BaseException] = []
    barrier = threading.Barrier(len(ids), timeout=60)

    def worker(run_id: str):
        try:
            run = Run(store=store, run_id=run_id, project="race", system_metrics=False)
            for i in range(50):
                run.log({"m": float(i)})
            barrier.wait()
            run.finish()
        except BaseException as e:  # surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(rid,)) for rid in ids]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    duck = dict(store.duck.execute("SELECT id, status FROM runs").fetchall())
    assert duck == {rid: "completed" for rid in ids}
    parquet = {r.id: r.status for r in store.df("runs").collect()}
    assert parquet == {rid: "completed" for rid in ids}
    assert store.df("metrics").count() == 50 * len(ids)
    store.close()


def test_concurrent_update_run_loses_no_field(spark, tmp_path):
    """Two threads update disjoint fields of one run: each update_run's
    read-merge-upsert is atomic, so the last value of both fields survives
    in DuckDB and in the Parquet view."""
    from waddleml_spark.run import Run

    store = WaddleStore(str(tmp_path / "upd"), spark=spark)
    run = Run(store=store, run_id="u" * 32, project="upd", system_metrics=False)
    n = 40

    def set_notes():
        for i in range(n):
            store.update_run(run.id, notes=f"n{i}")

    def set_ended():
        for i in range(n):
            store.update_run(run.id, ended_at=float(i))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=f) for f in (set_notes, set_ended)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    duck = store._duck_row("runs", "id", run.id)
    assert (duck["notes"], duck["ended_at"]) == (f"n{n - 1}", float(n - 1))
    [row] = store.df("runs").collect()
    assert row.asDict() == duck
    run._finished = True
    store.close()


def test_concurrent_open_of_one_store(tmp_path):
    """Threads that each open the same fresh store root at once all
    succeed (the DDL bootstrap would otherwise hit DuckDB's catalog
    write-write conflict) and every thread's row lands."""
    n = 8
    for rnd in range(5):
        root = str(tmp_path / f"open{rnd}")
        stores: list[WaddleStore] = []
        errors: list[BaseException] = []
        barrier = threading.Barrier(n, timeout=60)

        def worker(i: int):
            try:
                barrier.wait()
                store = WaddleStore(root)
                stores.append(store)
                store.append("runs", [{
                    "id": f"{rnd}-{i}", "project": "open", "repo_id": None,
                    "commit_sha": None, "name": None, "status": "running",
                    "started_at": float(i), "ended_at": None, "env": None,
                    "config": None, "notes": None,
                }])
            except BaseException as e:  # surfaced below
                errors.append(e)

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert stores[0].duck.execute("SELECT count(*) FROM runs").fetchone()[0] == n
        for store in stores:
            store.close()


def test_delete_beside_a_logging_run_loses_no_row(spark, tmp_path):
    """One run logs and flushes from a thread while the main thread
    deletes other runs: the run's metric rows in the Parquet files equal
    its DuckDB rows (a delete that swaps table dirs drops the part files
    flushed meanwhile)."""
    import pyarrow.parquet as pq

    from waddleml_spark.run import Run

    store = WaddleStore(str(tmp_path / "race"), spark=spark)
    doomed = [f"{c}" * 32 for c in "abc"]
    for rid in doomed:
        r = Run(store=store, run_id=rid, project="race", system_metrics=False)
        r.log({"m": 1.0})
        r.finish()
    live = Run(store=store, run_id="l" * 32, project="race", system_metrics=False)
    flushed = threading.Event()
    stop = threading.Event()
    errors: list[BaseException] = []

    def writer():
        try:
            i = 0
            while not stop.is_set() or i < 20:
                live.log({"m": float(i)})
                live.flush()
                flushed.set()
                i += 1
                time.sleep(0.005)
        except BaseException as e:  # surfaced below
            errors.append(e)

    t = threading.Thread(target=writer)
    t.start()
    try:
        assert flushed.wait(timeout=60)
        for rid in doomed:
            store.delete_run(rid)
    finally:
        stop.set()
        t.join(timeout=120)
    live.finish()
    assert errors == []
    n_duck = store.duck.execute(
        "SELECT count(*) FROM metrics WHERE run_id = ?", [live.id]
    ).fetchone()[0]
    n_parquet = pq.read_table(
        store._dir("metrics"), filters=[("run_id", "=", live.id)]
    ).num_rows
    assert n_parquet == n_duck >= 20
    assert {r.id for r in store.df("runs").collect()} == {live.id}
    store.close()
