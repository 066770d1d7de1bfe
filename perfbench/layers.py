"""Per-layer metrics from the traced run's spans.

A span's self time is its duration minus the time its child spans cover
(children may run in another thread while the parent waits on them).
Times are medians over the timed requests of a class, of the per-request
sum of a layer's self time; counts and ratios are over the timed phase.
"""

from __future__ import annotations

import statistics

#: (metric, unit, better) in the order BENCHMARK.json lists them
PER_LAYER = [
    ("setup.store_build_s", "s", "lower"),
    ("setup.server_start_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("setup.warm_pass_s", "s", "lower"),
    ("server.handler_ms", "ms", "lower"),
    ("server.wait_ms", "ms", "lower"),
    ("render.refreshes", "count", "lower"),
    ("render.refresh_ms", "ms", "lower"),
    ("render.resolve_ms", "ms", "lower"),
    ("render.build_ms", "ms", "lower"),
    ("render.plan_cache_hit_ratio", "ratio", "higher"),
    ("render.exec_ms", "ms", "lower"),
    ("render.encode_ms", "ms", "lower"),
    ("render.series_per_req", "count", "higher"),
    ("plans.findcache_hit_ratio", "ratio", "higher"),
    ("plans.find_ms", "ms", "lower"),
    ("plans.tagged_resolve_ms", "ms", "lower"),
    ("plans.tagged_exec_ms", "ms", "lower"),
    ("plans.promql_build_ms", "ms", "lower"),
    ("plans.promql_exec_ms", "ms", "lower"),
    ("plans.autocomplete_ms", "ms", "lower"),
    *[(f"session.{what}_per_req.{cls}", "count", "lower")
      for what in ("jobs", "stages", "tasks")
      for cls in ("render", "find", "tagged", "promql", "tags")],
    ("streaming.write_batch_ms", "ms", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.rows_per_batch", "count", "higher"),
    ("streaming.files_written", "count", "lower"),
    ("streaming.spool_lines_per_s", "lines/s", "higher"),
    ("trace.coverage", "ratio", "higher"),
    ("trace.req_per_s", "req/s", "higher"),
]


def self_times(spans: list[list]) -> list[float]:
    """Self time (s) of every span."""
    child = [0.0] * len(spans)
    for name, t0, t1, parent, _rid, _x in spans:
        if parent is not None and t1 is not None:
            child[parent] += t1 - t0
    return [(s[2] - s[1] - child[i]) if s[2] is not None else 0.0
            for i, s in enumerate(spans)]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(trace: dict, samples: list, setup: dict, drain: dict,
                  read_s: float) -> dict[str, tuple[float, str]]:
    """Every PER_LAYER metric as (value, unit)."""
    spans = trace.get("spans", [])
    selfs = self_times(spans)
    timed = {rid: (cls, t1 - t0) for cls, t0, t1, rid in samples}
    per_req: dict[str, dict[str, float]] = {rid: {} for rid in timed}
    handler_total: dict[str, float] = {}
    for i, (name, t0, t1, _parent, rid, _x) in enumerate(spans):
        if rid in per_req and t1 is not None:
            d = per_req[rid]
            d[name] = d.get(name, 0.0) + selfs[i]
            if name == "server.handler":
                handler_total[rid] = handler_total.get(rid, 0.0) + t1 - t0
    series = {}
    for name, _t0, t1, _p, rid, extra in spans:
        if name == "render.exec" and rid in timed and t1 is not None:
            series[rid] = series.get(rid, 0) + (extra or 0)

    def by_cls(cls: str, span: str) -> float:
        return _med(per_req[r].get(span, 0.0) * 1000
                    for r, (c, _l) in timed.items() if c == cls)

    def ratio(counter: str) -> float:
        hits = looks = 0
        for rid, c in trace.get("counters", {}).items():
            if rid in timed:
                hits += c.get(counter + ".hits", 0)
                looks += c.get(counter + ".lookups", 0)
        return hits / looks if looks else 0.0

    t_lo = min((s[1] for s in spans if s[4] in timed), default=0.0)
    t_hi = max((s[2] or 0.0 for s in spans if s[4] in timed), default=0.0)
    refreshes = [s for s in spans if s[0] == "render.refresh" and s[5]
                 and t_lo <= s[1] <= t_hi]
    batches = [s for s in spans if s[0] == "streaming.write_batch"
               and s[2] is not None and drain["t0"] <= s[1] <= drain["t1"]]
    jobs = trace.get("jobs", {})
    handler_sum = sum(handler_total.values())
    handler_self = sum(d.get("server.handler", 0.0) for d in per_req.values())
    out = {
        "setup.store_build_s": setup.get("store_build_s", 0.0),
        "setup.server_start_s": setup.get("server_start_s", 0.0),
        "setup.warmup_s": setup.get("warmup_s", 0.0),
        "setup.warm_pass_s": setup.get("warm_pass_s", 0.0),
        "server.handler_ms": _med(d.get("server.handler", 0.0) * 1000
                                  for d in per_req.values()),
        "server.wait_ms": _med((lat - handler_total[r]) * 1000
                               for r, (_c, lat) in timed.items()
                               if r in handler_total),
        "render.refreshes": float(len(refreshes)),
        "render.refresh_ms": _med((s[2] - s[1]) * 1000 for s in refreshes),
        "render.resolve_ms": by_cls("render", "render.resolve"),
        "render.build_ms": by_cls("render", "render.build"),
        "render.plan_cache_hit_ratio": ratio("plan_cache"),
        "render.exec_ms": by_cls("render", "render.exec"),
        "render.encode_ms": by_cls("render", "render.encode"),
        "render.series_per_req": _med(series.get(r, 0) for r, (c, _l)
                                      in timed.items() if c == "render"),
        "plans.findcache_hit_ratio": ratio("find_cache"),
        "plans.find_ms": by_cls("find", "plans.find"),
        "plans.tagged_resolve_ms": by_cls("tagged", "plans.tagged_resolve"),
        "plans.tagged_exec_ms": by_cls("tagged", "render.exec"),
        "plans.promql_build_ms": by_cls("promql", "plans.promql_build"),
        "plans.promql_exec_ms": by_cls("promql", "plans.promql_exec"),
        "plans.autocomplete_ms": by_cls("tags", "plans.autocomplete"),
        "streaming.write_batch_ms": _med((s[2] - s[1]) * 1000 for s in batches),
        "streaming.batches": float(len(batches)),
        "streaming.rows_per_batch": drain["points"] / max(1, len(batches)),
        "streaming.files_written": float(drain["files"]),
        "streaming.spool_lines_per_s": drain["points"] / drain["spool_s"],
        "trace.coverage": 1 - handler_self / handler_sum if handler_sum else 0.0,
        "trace.req_per_s": len(samples) / read_s if read_s else 0.0,
    }
    for k, what in enumerate(("jobs", "stages", "tasks")):
        for cls in ("render", "find", "tagged", "promql", "tags"):
            vals = [jobs[r][k] for r, (c, _l) in timed.items()
                    if c == cls and r in jobs]
            out[f"session.{what}_per_req.{cls}"] = (
                sum(vals) / len(vals) if vals else 0.0)
    units = {name: unit for name, unit, _b in PER_LAYER}
    return {name: (float(out[name]), units[name]) for name, _u, _b in PER_LAYER}
