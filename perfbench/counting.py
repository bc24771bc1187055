"""A transport wrapper that counts REST requests and 429 replies.

``etl.run_pipeline`` calls its transport on driver threads (the page
chains) and inside executor tasks (the per-playlist fan-out and the
batched audio-features lookup). Spark accumulators see both: adds on
the driver land directly, adds in tasks merge back when each task
ends. The wrapper passes every call and reply through unchanged, so
the pipeline's output is the same with or without it.
"""

from __future__ import annotations

import threading
import time


class CountingTransport:
    """Callable ``(url) -> dict`` delegating to ``inner``.

    ``requests`` and ``throttled`` are Spark accumulators created by the
    caller. ``driver_intervals`` collects (start, end) epoch-second pairs
    of calls made in the driver process, so a traced run can attribute
    the page-chain time to the sources layer.
    """

    def __init__(self, inner, requests, throttled):
        self.inner = inner
        self.requests = requests
        self.throttled = throttled
        self.driver_intervals: list[tuple[float, float]] | None = []
        self._lock = threading.Lock()

    def __getstate__(self):
        # executors get the counters and the inner transport only
        return {"inner": self.inner, "requests": self.requests, "throttled": self.throttled}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self.driver_intervals = None
        self._lock = threading.Lock()

    def __call__(self, url: str) -> dict:
        start = time.time()
        payload = self.inner(url)
        end = time.time()
        throttled = 1 if payload.get("status") == 429 else 0
        # several driver threads share one instance, and an accumulator's
        # add is a read-modify-write
        with self._lock:
            self.requests.add(1)
            if throttled:
                self.throttled.add(1)
            if self.driver_intervals is not None:
                self.driver_intervals.append((start, end))
        return payload
