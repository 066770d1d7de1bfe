"""Self-telemetry — per-handler request counters and duration histograms,
exposed in Prometheus text exposition format on /metrics.

The reference ships a metrics/ package (metrics.go: per-class request
counters + duration histograms for render/find/tags/autocomplete, cache
hit/miss counters, fetched metrics/points counts) emitted to
graphite/statsd/prometheus. Here the same signals are kept in a
thread-safe in-process registry and scraped — the idiomatic shape for a
long-running Spark driver behind a Prometheus server.
"""

from __future__ import annotations

import threading
from collections import defaultdict

#: histogram bucket upper bounds (seconds) — spans interactive finds
#: through heavy renders; mirrors the reference's bucket-width idea
#: (metrics.go BucketsWidth) with static prometheus-style buckets
DURATION_BUCKETS = (0.01, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0, 30.0)


class Registry:
    """Counters + duration histograms, labeled by handler class/status."""

    def __init__(self):
        self._lock = threading.Lock()
        self._requests: dict[tuple[str, str], int] = defaultdict(int)
        self._dur_sum: dict[str, float] = defaultdict(float)
        self._dur_count: dict[str, int] = defaultdict(int)
        self._dur_buckets: dict[str, list[int]] = {}
        self._refresh_failures = 0

    def count_refresh_failure(self) -> None:
        with self._lock:
            self._refresh_failures += 1

    def observe_request(self, handler: str, status: int, seconds: float) -> None:
        with self._lock:
            self._requests[(handler, str(status))] += 1
            self._dur_sum[handler] += seconds
            self._dur_count[handler] += 1
            buckets = self._dur_buckets.setdefault(
                handler, [0] * (len(DURATION_BUCKETS) + 1)
            )
            for i, ub in enumerate(DURATION_BUCKETS):
                if seconds <= ub:
                    buckets[i] += 1
                    break
            else:
                buckets[-1] += 1

    def render(self) -> bytes:
        """Prometheus text exposition format (type comments + samples)."""
        with self._lock:
            lines = [
                "# HELP gchs_http_requests_total HTTP requests by handler and status",
                "# TYPE gchs_http_requests_total counter",
            ]
            for (handler, status), n in sorted(self._requests.items()):
                lines.append(
                    f'gchs_http_requests_total{{handler="{handler}",'
                    f'status="{status}"}} {n}'
                )
            lines += [
                "# HELP gchs_http_request_duration_seconds request wall time",
                "# TYPE gchs_http_request_duration_seconds histogram",
            ]
            for handler in sorted(self._dur_count):
                cum = 0
                buckets = self._dur_buckets[handler]
                for i, ub in enumerate(DURATION_BUCKETS):
                    cum += buckets[i]
                    lines.append(
                        f'gchs_http_request_duration_seconds_bucket'
                        f'{{handler="{handler}",le="{ub}"}} {cum}'
                    )
                cum += buckets[-1]
                lines.append(
                    f'gchs_http_request_duration_seconds_bucket'
                    f'{{handler="{handler}",le="+Inf"}} {cum}'
                )
                lines.append(
                    f'gchs_http_request_duration_seconds_sum'
                    f'{{handler="{handler}"}} {self._dur_sum[handler]}'
                )
                lines.append(
                    f'gchs_http_request_duration_seconds_count'
                    f'{{handler="{handler}"}} {self._dur_count[handler]}'
                )
            lines += [
                "# HELP gchs_frame_refresh_failures_total storage frame "
                "refreshes that failed (the previous snapshot was served)",
                "# TYPE gchs_frame_refresh_failures_total counter",
                f"gchs_frame_refresh_failures_total {self._refresh_failures}",
            ]
        return ("\n".join(lines) + "\n").encode()


#: handler-class mapping for the HTTP mux (the reference's per-class
#: request metrics: render/find/tags/autocomplete/prometheus/index)
def handler_class(path: str) -> str:
    p = path.rstrip("/")
    if p == "/render":
        return "render"
    if p.startswith("/metrics/find"):
        return "find"
    if p == "/metrics/index.json":
        return "index"
    if p.startswith("/tags/autoComplete"):
        return "tags"
    if p.startswith("/api/v1"):
        return "prometheus"
    if p in ("", "/alive", "/health"):
        return "health"
    if p == "/metrics":
        return "telemetry"
    return "other"
