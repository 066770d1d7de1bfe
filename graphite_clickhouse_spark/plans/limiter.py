"""Concurrency limiter — the reference's per-class request limiters
(limiter/limiter.go, limiter/wlimiter.go; doc/config.md:104-138) as a
driver-side primitive.

The reference gates render/find/tags requests through capacity-C
semaphores with a queue timeout (503 when saturated). In a Spark
deployment the same guard belongs on the driver in front of job
submission: Spark serializes scheduling, so unbounded concurrent HTTP
requests only pile up memory.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager


class LimitExceeded(Exception):
    """Mapped to HTTP 503 by callers (limiter/limiter.go Enter timeout)."""


@contextmanager
def _released_once(release_fn):
    """Yield an idempotent `release()` for a held slot, and call it on
    exit if the holder has not. A request releases its slot early, once
    its Spark work is done and before its reply is written, so a slow
    reader never holds a slot. Only the holder's thread calls it."""
    done = False

    def release():
        nonlocal done
        if not done:
            done = True
            release_fn()

    try:
        yield release
    finally:
        release()


class RequestLimiter:
    """Capacity + max-queue semaphore: at most `capacity` running, at most
    `max_queue` waiting up to `queue_timeout_sec` (0 queue = fail fast).
    `enter()` yields an idempotent `release()` that frees the slot before
    the context exits."""

    def __init__(self, capacity: int, max_queue: int = 0, queue_timeout_sec: float = 60.0):
        self.capacity = capacity
        self.queue_timeout_sec = queue_timeout_sec
        self.max_queue = max_queue
        self._sem = threading.BoundedSemaphore(capacity)
        self._waiting = 0
        self._lock = threading.Lock()

    @contextmanager
    def enter(self):
        # fast path: a free slot needs no queueing
        if not self._sem.acquire(blocking=False):
            with self._lock:
                if self._waiting >= self.max_queue:
                    raise LimitExceeded("limiter queue full")
                self._waiting += 1
            try:
                acquired = self._sem.acquire(timeout=self.queue_timeout_sec)
            finally:
                with self._lock:
                    self._waiting -= 1
            if not acquired:
                raise LimitExceeded("limiter timeout")
        with _released_once(self._sem.release) as release:
            yield release


class ClassLimiters:
    """Per-request-class limiters (render/find/tags), as the reference
    configures independently (doc/config.md:104-138)."""

    def __init__(self, render: int = 8, find: int = 16, tags: int = 16, **kw):
        self.render = RequestLimiter(render, **kw)
        self.find = RequestLimiter(find, **kw)
        self.tags = RequestLimiter(tags, **kw)


def get_weighted(n: int, max_concurrent: int, load_avg: float) -> int:
    """Reserved-slot count from the normalized load average
    (limiter/alimiter.go:17-36 getWeighted): below 0.6 nothing is
    reserved; above, int(n * load) slots are taken out of service,
    never all of them."""
    if n <= 0 or load_avg < 0.6:
        return 0
    reserved = int(n * load_avg)
    if reserved >= max_concurrent:
        return 1 if max_concurrent <= 1 else max_concurrent - 1
    return reserved


def _normalized_loadavg() -> float:
    """1-minute load average / cpu count (load_avg/ package role)."""
    import os

    try:
        return os.getloadavg()[0] / (os.cpu_count() or 1)
    except OSError:  # platform without getloadavg
        return 0.0


class AdaptiveLimiter:
    """Load-average-adaptive concurrency (limiter/alimiter.go ALimiter):
    a capacity-`concurrent` limiter whose effective capacity shrinks by
    get_weighted(n, concurrent, load) under load, re-evaluated at most
    every `check_delay_sec` (the reference's 60 s balance loop, done
    lazily on enter instead of a background goroutine). `enter()` yields
    the same idempotent `release()` as RequestLimiter's."""

    def __init__(self, concurrent: int, adaptive_n: int, max_queue: int = 0,
                 queue_timeout_sec: float = 60.0, loadavg_fn=None,
                 check_delay_sec: float = 60.0):
        self.concurrent = concurrent
        self.adaptive_n = min(adaptive_n, concurrent - 1)
        self.max_queue = max_queue
        self.queue_timeout_sec = queue_timeout_sec
        self.check_delay_sec = check_delay_sec
        self._loadavg = loadavg_fn or _normalized_loadavg
        self._cond = threading.Condition()
        self._running = 0
        self._waiting = 0
        self._reserved = 0
        self._last_check = float("-inf")

    def _effective(self, now: float) -> int:
        if now - self._last_check >= self.check_delay_sec:
            self._last_check = now
            self._reserved = get_weighted(
                self.adaptive_n, self.concurrent, self._loadavg()
            )
        return self.concurrent - self._reserved

    @contextmanager
    def enter(self):
        import time as _time

        now = _time.monotonic()
        deadline = now + self.queue_timeout_sec
        with self._cond:
            if self._running >= self._effective(now):
                if self._waiting >= self.max_queue:
                    raise LimitExceeded("limiter queue full")
                self._waiting += 1
                try:
                    while self._running >= self._effective(_time.monotonic()):
                        remaining = deadline - _time.monotonic()
                        if remaining <= 0 or not self._cond.wait(remaining):
                            raise LimitExceeded("limiter timeout")
                finally:
                    self._waiting -= 1
            self._running += 1

        def leave():
            with self._cond:
                self._running -= 1
                self._cond.notify()

        with _released_once(leave) as release:
            yield release
