"""Background system-metrics sampler (ref: waddle/_sysmetrics.py:13-95).

Daemon thread sampling psutil/pynvml every 5 seconds, writing
`system/`-prefixed metrics through the run's normal (buffered) log path.
Graceful no-op when psutil is missing — the thread never starts, matching
the reference's degrade behavior (tests/test_sysmetrics.py:69-85).
"""

from __future__ import annotations

import threading
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from waddleml_spark.run import Run


def sample_system_metrics() -> dict[str, float]:
    """One sample of system/* metrics; {} when psutil is unavailable.
    Key names match the reference exactly (waddle/_sysmetrics.py:74-95)."""
    try:
        import psutil
    except ImportError:
        return {}
    out: dict[str, float] = {
        "system/cpu_percent": float(psutil.cpu_percent(interval=None)),
        "system/memory_percent": float(psutil.virtual_memory().percent),
    }
    try:
        import pynvml

        pynvml.nvmlInit()
        for i in range(pynvml.nvmlDeviceGetCount()):
            h = pynvml.nvmlDeviceGetHandleByIndex(i)
            util = pynvml.nvmlDeviceGetUtilizationRates(h)
            mem = pynvml.nvmlDeviceGetMemoryInfo(h)
            out[f"system/gpu{i}_util_percent"] = float(util.gpu)
            out[f"system/gpu{i}_mem_percent"] = float(mem.used / mem.total * 100.0)
        pynvml.nvmlShutdown()
    except Exception:
        pass
    return out


class SystemMonitor:
    """5 s-interval sampler thread with its own monotonic step counter
    (independent of the run's user-metric steps, like the ref)."""

    def __init__(self, run: "Run"):
        self.run = run
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._step = 0

    def start(self) -> None:
        try:
            import psutil  # noqa: F401
        except ImportError:
            return  # no thread at all (ref parity)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            metrics = sample_system_metrics()
            if metrics:
                self.run.log_system(metrics, self._step)
                self._step += 1
            self._stop.wait(5.0)

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=2.0)
