"""Live metric streaming (ref semantics T1/T2/T5, SURVEY.md §2.10).

The reference pushes each metric INSERT to WebSocket clients across a
thread boundary (waddle/_run.py:128-136 → waddle/_server.py:115-124); its
client debounces redraws at 500 ms, so per-event delivery is explicitly
not required — micro-batched delivery is semantics-preserving.

One delivery path: LiveBus, an in-process fan-out with no JVM (the analog
of the reference's shared-connection cursor S4).  There is exactly one
bus per store root in a process (`WaddleStore.bus`), shared by every
store opened on that root, so every run's flushes reach every /ws client
of the process, whichever run started the dashboard.  A dashboard sees
live rows when it shares the writer's process, which is also the only
process that can open the store while the run holds DuckDB's file lock.

Ordering invariant: `WaddleStore.append("metrics", rows)` publishes
`rows` only after both the Parquet part file and the DuckDB insert hold
them, so a row a /ws client receives is already readable over HTTP (the
server answers from the same DuckDB database).  Batches of one run are
published in log order (`Run.flush` serialises its flushes).

Delivery latency: while the bus has a subscriber (`LiveBus.watched`), a
run flushes each batch `run.LIVE_FLUSH_SECONDS` (0.25 s) after its first
row instead of `run.FLUSH_SECONDS` (2 s), so at 25 steps/s a watched row
reaches /ws in about 140 ms at the median and 260 ms at p90, under the
client's 500 ms debounce (4 vCPU, perfbench `live_run`).
The invariant above is unchanged: a watched run flushes sooner, it does
not publish sooner than its flush.  The price is more part files, paid
only while someone watches.

Nothing here tails the store's part files as a Spark stream: a file
source would miss the `_cdc_deletes` tombstones `WaddleStore.df()`
anti-joins, and since it tracks files by name it would count every row
`compact()` rewrites a second time.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

Subscriber = Callable[[list[dict]], None]


class LiveBus:
    """In-process metric fan-out: the store publishes each appended
    metric batch; dead subscribers are pruned on send failure (ref T5
    prune behavior)."""

    def __init__(self):
        self._subs: list[Subscriber] = []
        self._lock = threading.Lock()

    @property
    def watched(self) -> bool:
        """True while a subscriber is attached (a dead one counts until
        the publish that prunes it)."""
        return bool(self._subs)

    def subscribe(self, fn: Subscriber) -> None:
        with self._lock:
            self._subs.append(fn)

    def publish(self, rows: list[dict]) -> None:
        with self._lock:
            subs = list(self._subs)
        dead = []
        for fn in subs:
            try:
                fn(rows)
            except Exception:
                dead.append(fn)
        if dead:
            with self._lock:
                self._subs = [s for s in self._subs if s not in dead]

