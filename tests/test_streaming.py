"""Streaming tests (T1/T2): live bus fan-out and flush cadence,
streaming dedup, sampler feed."""

from __future__ import annotations

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark.streaming.live import LiveBus


@pytest.fixture(autouse=True)
def reset_state():
    state.set_active_run(None)
    yield
    run = state.get_active_run()
    if run is not None:
        run._finished = True
    state.set_active_run(None)


def test_live_bus_publish_and_prune():
    bus = LiveBus()
    got = []
    bus.subscribe(lambda rows: got.extend(rows))

    def bad(rows):
        raise RuntimeError("dead socket")

    bus.subscribe(bad)
    bus.publish([{"k": 1}])
    bus.publish([{"k": 2}])
    assert [r["k"] for r in got] == [1, 2]
    assert len(bus._subs) == 1  # dead subscriber pruned (ref T5)


def test_run_publishes_to_live_bus(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="live", system_metrics=False, spark=spark)
    seen = []
    run._store.bus.subscribe(lambda rows: seen.extend(rows))
    run.log({"loss": 0.5})
    run.finish()
    assert [ (r["key"], r["value"]) for r in seen ] == [("loss", 0.5)]


def test_idle_run_flushes_within_flush_seconds(spark, tmp_path, monkeypatch):
    # one log() and then silence: the batch's own time trigger carries it
    # to the store, with no further call on the run
    import time

    from waddleml_spark import run as run_mod
    from waddleml_spark.store import WaddleStore

    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(run_mod, "FLUSH_SECONDS", 0.2)
    run = w.init(project="idle", system_metrics=False, spark=spark)
    run.log({"loss": 0.5})
    con = WaddleStore.reader_conn(run._store.root)
    deadline = time.monotonic() + 10
    n = 0
    while n == 0 and time.monotonic() < deadline:
        time.sleep(0.05)
        n = con.execute(
            "SELECT count(*) FROM metrics WHERE run_id = ?", [run.id]
        ).fetchone()[0]
    assert n == 1
    run.finish()
    assert run._timer is None


def _store_run(tmp_path, monkeypatch):
    """A run on a fresh store whose slow trigger never fires in a test:
    only the live cadence can explain a flush."""
    from waddleml_spark import run as run_mod
    from waddleml_spark.run import Run
    from waddleml_spark.store import WaddleStore

    monkeypatch.setattr(run_mod, "FLUSH_SECONDS", 60.0)
    store = WaddleStore(str(tmp_path / "cadence"))
    return store, Run(store=store, run_id="c" * 32, project="cadence", system_metrics=False)


def _metric_rows(store, run) -> int:
    return store.duck.execute(
        "SELECT count(*) FROM metrics WHERE run_id = ?", [run.id]
    ).fetchone()[0]


def test_watched_run_flushes_at_the_live_cadence(tmp_path, monkeypatch):
    # one log() on a watched store reaches the subscriber, and DuckDB,
    # with no further call on the run
    import time

    store, run = _store_run(tmp_path, monkeypatch)
    seen = []
    store.bus.subscribe(lambda rows: seen.extend(rows))
    run.log({"loss": 0.5})
    deadline = time.monotonic() + 10
    while not seen and time.monotonic() < deadline:
        time.sleep(0.02)
    assert [(r["key"], r["value"]) for r in seen] == [("loss", 0.5)]
    assert _metric_rows(store, run) == 1
    run.finish()
    store.close()


def test_unwatched_run_keeps_the_slow_cadence(tmp_path, monkeypatch):
    import glob
    import time

    store, run = _store_run(tmp_path, monkeypatch)
    run.log({"loss": 0.5})
    time.sleep(1.0)
    assert glob.glob(f"{store._dir('metrics')}/*.parquet") == []
    assert _metric_rows(store, run) == 0
    run.finish()
    assert _metric_rows(store, run) == 1
    store.close()


def test_cadence_falls_back_once_the_last_ws_client_is_pruned(tmp_path, monkeypatch):
    # a closed /ws client stays subscribed until the publish that prunes
    # it, so at most one fast batch follows the disconnect
    import base64
    import os
    import socket
    import time

    from waddleml_spark import run as run_mod
    from waddleml_spark.server import serve_in_thread

    store, run = _store_run(tmp_path, monkeypatch)
    server = serve_in_thread(store, port=0)
    try:
        sock = socket.create_connection(server.server_address, timeout=10)
        key = base64.b64encode(os.urandom(16)).decode()
        sock.sendall(
            f"GET /ws HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n"
            f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n".encode()
        )
        head = b""
        while not head.endswith(b"\r\n\r\n"):
            head += sock.recv(1)
        assert b" 101 " in head
        run.log({"loss": 1.0})
        assert run._timer.interval == run_mod.LIVE_FLUSH_SECONDS
        run.flush()
        sock.sendall(bytes([0x88, 0x80]) + os.urandom(4))  # masked close
        sock.close()
        deadline = time.monotonic() + 10
        while not all(s.dead for s in store.bus._subs) and time.monotonic() < deadline:
            time.sleep(0.02)
        assert store.bus._subs and all(s.dead for s in store.bus._subs)
        intervals = []
        for step in range(3):
            run.log({"loss": float(step)})
            intervals.append(run._timer.interval)
            run.flush()
        assert not store.bus.watched
        assert intervals.count(run_mod.LIVE_FLUSH_SECONDS) <= 1
        assert intervals[-1] == run_mod.FLUSH_SECONDS
        run.finish()
    finally:
        server.shutdown()
        server.server_close()
        store.close()


def test_sampler_writes_system_metrics(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    from waddleml_spark.sysmetrics import sample_system_metrics

    sample = sample_system_metrics()
    run = w.init(project="sys", system_metrics=False, spark=spark)
    if sample:  # psutil present: keys match the reference naming
        assert "system/cpu_percent" in sample
        run.log_system(sample, 0)
        run.flush()
        keys = [
            r[0]
            for r in run._store.duck.execute(
                "SELECT DISTINCT key FROM metrics WHERE run_id = ? AND key LIKE 'system/%'",
                [run.id],
            ).fetchall()
        ]
        assert "system/cpu_percent" in keys
    run.finish()


def test_streaming_cms_accumulates_to_whole_corpus_sketch(spark, tmp_path):
    # count-min is a LINEAR sketch: summing per-micro-batch partial
    # matrices equals the batch sketch of the whole stream — the
    # streaming frequency-monitoring shape (one constant-size matrix per
    # trigger, merged driver-side; never a vocabulary-sized state store)
    import numpy as np
    from pyspark.sql import functions as F

    from waddleml_spark.operators import sketches

    df = spark.range(0, 3000).select(
        F.concat(F.lit("tok"), (F.col("id") % 97).cast("string")).alias("v"),
        (F.col("id") % 5).alias("part"),
    )
    whole = sketches.cms_build(df, "v", width=1 << 10)
    acc = np.zeros_like(whole)
    for b in range(5):  # five "micro-batches" arriving over time
        acc += sketches.cms_build(
            df.filter(F.col("part") == b), "v", width=1 << 10
        )
    assert np.array_equal(acc, whole)
    # and the merged sketch serves estimates identical to the whole-corpus one
    exact = df.groupBy("v").agg(F.count("*").alias("n"))
    est = sketches.cms_estimates(exact, "v", acc).collect()
    assert all(r.cms_est >= r.n for r in est)
