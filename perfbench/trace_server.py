"""Traced launcher: the shipped server, in this process, with timing
wrappers on the public functions of its layers.

    python3 perfbench/trace_server.py <spans.json> <server arguments...>

Run from the repository root. Each wrapper is installed on the attribute
its caller looks up (a class attribute for methods, the module attribute
for functions the server imports at call time) and records a span:
name, start, end, parent span and request id (the client's X-Bench-Id
header). Spans stay in memory; on SIGTERM the launcher adds the Spark
job, stage and task counts of every request (read from
SparkContext.statusTracker() under the job groups the requests ran in)
and writes everything to <spans.json>.
"""

from __future__ import annotations

import itertools
import json
import os
import signal
import sys
import threading
import time


class Tracer:
    """In-memory spans with a per-thread stack of open spans."""

    def __init__(self):
        self.lock = threading.Lock()
        self.spans: list[list] = []  # [name, t0, t1, parent, rid, extra]
        self.local = threading.local()
        self.counters: dict[str, dict[str, int]] = {}
        self.groups: dict[str, list[str]] = {}  # rid -> Spark job groups
        self.classes: dict[str, str] = {}  # rid -> request class
        self._anon = itertools.count()

    def context(self) -> tuple[str | None, int | None]:
        stack = getattr(self.local, "stack", None)
        if not stack:
            return getattr(self.local, "rid", None), getattr(self.local, "parent", None)
        return self.local.rid, stack[-1]

    def adopt(self, rid, parent) -> None:
        """Continue a request's context in another thread."""
        self.local.rid, self.local.parent, self.local.stack = rid, parent, []

    def open(self, name: str) -> int:
        rid, parent = self.context()
        with self.lock:
            idx = len(self.spans)
            self.spans.append([name, time.monotonic(), None, parent, rid, None])
        self.local.__dict__.setdefault("stack", []).append(idx)
        return idx

    def close(self, idx: int, extra=None) -> None:
        self.spans[idx][2] = time.monotonic()
        self.spans[idx][5] = extra
        self.local.stack.pop()

    def count(self, name: str, hit: bool) -> None:
        rid, _ = self.context()
        with self.lock:
            c = self.counters.setdefault(rid or "-", {})
            c[name + ".lookups"] = c.get(name + ".lookups", 0) + 1
            c[name + ".hits"] = c.get(name + ".hits", 0) + int(hit)

    def new_rid(self, headers) -> str:
        rid = headers.get("X-Bench-Id") or f"anon-{next(self._anon)}"
        self.classes[rid] = headers.get("X-Bench-Class") or "other"
        return rid


def _timed(tracer: Tracer, owner, attr: str, name, extra=None) -> None:
    """Replace owner.attr by a wrapper that records one span per call.
    `name` is a span name or a callable(args) -> name (None: no span)."""
    orig = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        span = name(args) if callable(name) else name
        if span is None:
            return orig(*args, **kwargs)
        idx = tracer.open(span)
        out = None
        try:
            out = orig(*args, **kwargs)
            return out
        finally:
            tracer.close(idx, extra(out) if extra is not None else None)

    wrapper.__wrapped__ = orig
    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    from pyspark import SparkContext

    from graphite_clickhouse_spark import server
    from graphite_clickhouse_spark.plans import findcache, promql
    from graphite_clickhouse_spark.render import pipeline, reply
    from graphite_clickhouse_spark.streaming import ingest

    handler = server.GraphiteHandler
    orig_post = handler.do_POST
    job_ids = itertools.count()

    def do_post(self):
        rid = tracer.new_rid(self.headers)
        tracer.adopt(rid, None)
        sc = SparkContext._active_spark_context
        group = f"bench-{next(job_ids)}"
        tracer.groups.setdefault(rid, []).append(group)
        sc.setJobGroup(group, rid)
        idx = tracer.open("server.handler")
        try:
            return orig_post(self)
        finally:
            tracer.close(idx)
            sc.setLocalProperty("spark.jobGroup.id", None)

    handler.do_POST = do_post

    # data/index fetches run in a worker thread under their own job group
    orig_timeout = server.run_with_data_timeout

    def run_with_data_timeout(spark, fn, timeout_sec, what):
        rid, parent = tracer.context()

        def traced_fn():
            tracer.adopt(rid, parent)
            grp = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            if rid is not None and grp:
                tracer.groups.setdefault(rid, []).append(grp)
            return fn()

        return orig_timeout(spark, traced_fn, timeout_sec, what)

    server.run_with_data_timeout = run_with_data_timeout

    engine = pipeline.Engine
    _timed(tracer, engine, "refresh_frames", "render.refresh", extra=bool)
    _timed(tracer, engine, "resolve", lambda a: (
        "plans.tagged_resolve" if a[1].target.lstrip().startswith("seriesByTag")
        else "render.resolve"))
    _timed(tracer, engine, "render", "render.build")
    _timed(tracer, engine, "render_multi", "render.build")
    orig_hit = engine._plan_cache_hit

    def plan_cache_hit(self, key):
        out = orig_hit(self, key)
        tracer.count("plan_cache", out is not None)
        return out

    engine._plan_cache_hit = plan_cache_hit
    orig_get = findcache.FindCache.get

    def find_cache_get(self, key, now=None):
        out = orig_get(self, key, now)
        tracer.count("find_cache", out is not None)
        return out

    findcache.FindCache.get = find_cache_get
    for fn in ("series_from_render", "series_from_render_multi"):
        _timed(tracer, reply, fn, "render.exec", extra=len)
    for fn in ("encode_render_json", "encode_pickle", "encode_v2_pb",
               "encode_v3_pb"):
        _timed(tracer, reply, fn, "render.encode")
    _timed(tracer, pipeline, "find_tree_rows", "plans.find")
    _timed(tracer, promql, "eval_promql", "plans.promql_build")
    _timed(tracer, handler, "_prom_result", "plans.promql_exec")
    _timed(tracer, handler, "_fetch_with_index_timeout",
           lambda a: "plans.autocomplete" if a[2] == "tags" else None)
    _timed(tracer, ingest.IngestJob, "write_batch", "streaming.write_batch")


def job_counts(groups: dict[str, list[str]]) -> dict[str, list[int]]:
    """rid -> [jobs, stages, tasks] over the request's job groups."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return {}
    st = sc.statusTracker()
    out = {}
    for rid, grps in groups.items():
        jobs = stages = tasks = 0
        for g in set(grps):
            for j in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    stages += 1
                    sinfo = st.getStageInfo(s)
                    tasks += sinfo.numTasks if sinfo else 0
        out[rid] = [jobs, stages, tasks]
    return out


def main(argv: list[str]) -> int:
    sys.path.insert(0, os.getcwd())
    out_path, server_args = argv[0], argv[1:]
    tracer = Tracer()
    install(tracer)

    def on_term(_sig, _frame):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, on_term)
    from graphite_clickhouse_spark import __main__ as entry

    try:
        entry.main(server_args)
    except SystemExit:
        pass
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        doc = {"spans": tracer.spans, "counters": tracer.counters,
               "classes": tracer.classes, "jobs": job_counts(tracer.groups)}
        tmp = out_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, out_path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
