"""Run lifecycle: the reference's Run class re-expressed over WaddleStore
(ref: waddle/_run.py).  Behavioral parity:

- step semantics: auto-increment member counter; explicit step fast-forwards
  to step+1 (ref :114-119);
- one shared ts per log() call (ref :120); values coerced via float() (:125);
- env capture {python, platform, cwd, argv} as canonical sorted JSON (:40-47);
- config entries are also logged as params (:57-59), tags likewise (:62-64);
- status transitions running → completed/failed/aborted; context-manager
  exit maps exception→failed (:205-211); atexit marks unfinished runs
  aborted (:71, :81-83);
- artifacts: sha256 of file bytes (sha256(b"") when no path), optional
  inline blob (:161-186).

Engine difference (deliberate, SURVEY.md §3.1): metrics buffer into
micro-batches — the reference's row-at-a-time autocommit INSERT is its own
perf ceiling; batching is the idiomatic Spark translation.  A batch is
flushed when it reaches FLUSH_ROWS rows or when its time trigger fires,
whichever comes first, with no further call needed; `flush()` is the
visibility barrier (finish() always flushes).  The trigger has two
cadences, picked when a batch's first row arrives: LIVE_FLUSH_SECONDS
while the store's live bus has a subscriber (a /ws client is watching),
FLUSH_SECONDS otherwise.  The store publishes every flushed batch on its
live bus (streaming.live), so a run needs no bus of its own.

A time-triggered flush runs on a timer thread, where nobody sees it fail.
A failure is kept on the run instead: the failed batch is not retried
(its part file may already exist), the run's next log(), flush() or
finish() raises it, and finish() records the run as failed first.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import numbers
import os
import sys
import threading
import time
import uuid
import weakref
from typing import Any

from waddleml_spark import state
from waddleml_spark.store import WaddleStore

# Micro-batch sizing: each flush is one driver-local part file + DuckDB
# insert (a few ms), so the row threshold bounds the part-file count under
# sustained logging while the time threshold bounds live-update latency.
# Unwatched, 2 s keeps files few (the sampler ticks at 5 s).  Watched,
# 0.25 s keeps p90 /ws delivery under the reference client's 500 ms redraw
# debounce; 0.1 s would save ~70 ms more at 2.1x the part files.
FLUSH_ROWS = 5000
FLUSH_SECONDS = 2.0
LIVE_FLUSH_SECONDS = 0.25


def _flush_later(ref: weakref.ref) -> None:
    """Time trigger body.  It holds the run weakly: a trigger still
    winding down must not keep a finished run alive.  A failure is kept
    on the run for its next caller to raise."""
    run = ref()
    if run is not None:
        # kept before the flush lock goes: a finish() waiting on it must
        # see the failure
        with run._flush_lock:
            try:
                run.flush()
            except Exception as e:
                run._failure = e


def _step(step: Any) -> int:
    """``step`` as an int that fits metrics.step (INTEGER).  A bad row
    must fail at the call that made it: once buffered, it would fail the
    whole flush and lose every row batched with it."""
    if (
        isinstance(step, bool)
        or not isinstance(step, numbers.Real)
        or not -(2**31) <= step < 2**31
        or step != int(step)
    ):
        raise ValueError(f"step must be an integer in [-2**31, 2**31), got {step!r}")
    return int(step)


def _key(key: Any) -> str:
    if not isinstance(key, str):
        raise ValueError(f"metric key must be a str, got {key!r}")
    return key


class Run:
    def __init__(
        self,
        store: WaddleStore,
        run_id: str,
        project: str,
        name: str | None = None,
        config: dict[str, Any] | None = None,
        tags: dict[str, Any] | None = None,
        repo_id: str | None = None,
        commit_sha: str | None = None,
        system_metrics: bool = True,
    ):
        self._store = store
        self.id = run_id
        self.project = project
        self.name = name or run_id[:8]
        self.commit_sha = commit_sha
        self._step = 0
        self._finished = False
        self._sysmon: Any = None
        self._buf: list[dict] = []
        self._buf_lock = threading.Lock()
        self._flush_lock = threading.RLock()  # batches reach the store in log order
        self._timer: threading.Timer | None = None  # the buffered batch's time trigger
        self._failure: Exception | None = None  # a time-triggered flush's error

        env = {
            "python": sys.version,
            "platform": sys.platform,
            "cwd": os.getcwd(),
            "argv": sys.argv,
        }
        store.append(
            "runs",
            [
                {
                    "id": run_id,
                    "project": project,
                    "repo_id": repo_id,
                    "commit_sha": commit_sha,
                    "name": self.name,
                    "status": "running",
                    "started_at": time.time(),
                    "ended_at": None,
                    "env": json.dumps(env, ensure_ascii=False, sort_keys=True),
                    "config": json.dumps(config or {}, ensure_ascii=False, sort_keys=True),
                    "notes": None,
                }
            ],
        )
        if config:
            for k, v in config.items():
                self.log_param(k, v)
        if tags:
            for k, v in tags.items():
                self.log_tag(k, v)
        if system_metrics:
            self._start_sysmetrics()
        atexit.register(self._atexit)

    # --- logging ----------------------------------------------------------

    def log(self, metrics: dict[str, float], step: int | None = None) -> None:
        ts = time.time()
        items = [(_key(k), float(v)) for k, v in metrics.items()]
        # threads sharing a run each claim their own step, and buffer its
        # rows in the same lock hold: the buffer, the part files and the
        # live bus then see the run's rows in step order
        with self._buf_lock:
            step = _step(self._step if step is None else step)
            self._step = step + 1
            full = self._buffer_locked(
                [{"run_id": self.id, "key": k, "step": step, "ts": ts, "value": v}
                 for k, v in items]
            )
        if full:
            self.flush()

    def log_metric(self, key: str, step: int, value: float, ts: float | None = None) -> None:
        self._buffer(
            [
                {
                    "run_id": self.id,
                    "key": _key(key),
                    "step": _step(step),
                    "ts": float(ts) if ts is not None else time.time(),
                    "value": float(value),
                }
            ]
        )

    def log_system(self, metrics: dict[str, float], step: int) -> None:
        """Sampler entry point: system/* keys, sampler-owned step counter."""
        ts, step = time.time(), _step(step)
        self._buffer(
            [
                {"run_id": self.id, "key": _key(k), "step": step, "ts": ts, "value": float(v)}
                for k, v in metrics.items()
            ]
        )

    def _buffer(self, rows: list[dict]) -> None:
        with self._buf_lock:
            full = self._buffer_locked(rows)
        if full:
            self.flush()

    def _buffer_locked(self, rows: list[dict]) -> bool:
        """Append ``rows`` to the batch; the caller holds ``_buf_lock``.
        True when the batch is full and the caller must flush; otherwise
        the batch's time trigger is armed, at the live cadence while the
        store's bus is watched."""
        self._raise_failure()
        self._buf.extend(rows)
        if len(self._buf) >= FLUSH_ROWS:
            return True
        if self._timer is None:
            wait = LIVE_FLUSH_SECONDS if self._store.bus.watched else FLUSH_SECONDS
            self._timer = threading.Timer(wait, _flush_later, [weakref.ref(self)])
            self._timer.daemon = True
            self._timer.start()
        return False

    def flush(self) -> None:
        """Visibility barrier: drain the metric buffer into the store and
        cancel the drained batch's time trigger.  One run's flushes run one
        at a time, so its batches reach the store (and its live bus) in
        the order they were logged."""
        with self._flush_lock:
            with self._buf_lock:
                self._raise_failure()
                batch, self._buf = self._buf, []
                timer, self._timer = self._timer, None
            if timer is not None:
                timer.cancel()
            if batch:
                self._store.append("metrics", batch)

    def _raise_failure(self) -> None:
        if self._failure is not None:
            raise self._failure

    def log_param(self, key: str, value: Any) -> None:
        self._store.upsert(
            "params",
            [{"run_id": self.id, "key": key, "value": json.dumps(value, ensure_ascii=False)}],
        )

    def log_tag(self, key: str, value: Any) -> None:
        self._store.upsert(
            "tags",
            [{"run_id": self.id, "key": key, "value": json.dumps(value, ensure_ascii=False)}],
        )

    def log_artifact(
        self,
        name: str,
        path: str | None = None,
        kind: str = "file",
        inline: bool = False,
    ) -> str:
        aid = uuid.uuid4().hex
        uri = None
        blob = None
        size = None
        if path:
            uri = os.path.abspath(path)
            with open(path, "rb") as f:
                data = f.read()
            sha_hex = hashlib.sha256(data).hexdigest()
            size = len(data)
            if inline:
                blob = data
        else:
            sha_hex = hashlib.sha256(b"").hexdigest()
        self._store.append(
            "artifacts",
            [
                {
                    "id": aid,
                    "run_id": self.id,
                    "name": name,
                    "kind": kind,
                    "created_at": time.time(),
                    "uri": uri,
                    "sha256": sha_hex,
                    "size_bytes": size,
                    "inline_bytes": blob,
                }
            ],
        )
        return aid

    # --- dashboard --------------------------------------------------------

    def serve_dashboard(self, host: str = "127.0.0.1", port: int = 8000):
        """Start the dashboard HTTP server on a background thread, sharing
        this process's store (ref: waddle/_run.py:86-109 — same shared-
        connection model).  Its /ws streams the store's live bus: every
        run logging on this store in the process is live, also after
        this one finishes."""
        from waddleml_spark.server import serve_in_thread

        server = serve_in_thread(self._store, host=host, port=port)
        host_out, port_out = server.server_address
        print(f"Dashboard at http://{host_out}:{port_out}")
        return server

    # --- sysmetrics -------------------------------------------------------

    def _start_sysmetrics(self) -> None:
        try:
            from waddleml_spark.sysmetrics import SystemMonitor

            self._sysmon = SystemMonitor(self)
            self._sysmon.start()
        except Exception:
            pass

    # --- lifecycle --------------------------------------------------------

    def _atexit(self) -> None:
        if not self._finished:
            self.finish(status="aborted")

    def finish(self, status: str = "completed") -> None:
        if self._finished:
            return
        self._finished = True
        # the atexit hook is the last reference a finished run leaves
        atexit.unregister(self._atexit)
        if self._sysmon:
            self._sysmon.stop()
        try:
            self.flush()  # also cancels the pending time trigger
        except Exception:
            self._store.update_run(self.id, status="failed", ended_at=time.time())
            raise
        self._store.update_run(self.id, status=status, ended_at=time.time())

    def __enter__(self) -> "Run":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            self.finish(status="failed" if exc else "completed")
        finally:
            state.set_active_run(None)
