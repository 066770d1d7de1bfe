"""HTTP API surface — the reference's mux re-expressed over the Engine.

Reference endpoints (graphite-clickhouse.go:561-593):
  /render (render/handler.go), /metrics/find/ (find/handler.go),
  /tags/autoComplete/{tags,values} (autocomplete/autocomplete.go),
  /metrics/index.json (index/index.go), /alive + / (healthcheck).

Spark shape: the long-lived driver process owns the SparkSession and this
server — HTTP parse/encode is driver-side (as the Go process is in the
reference), executors do the scans/aggregations. A stdlib
ThreadingHTTPServer is enough: Spark serializes job scheduling anyway and
the reference's own concurrency limiters throttle to small counts.

format= dispatch mirrors reply/formatter.go:25-51:
  render: json (debug) | pickle | protobuf (v2) | carbonapi_v3_pb
  find:   json (the reference's text-ish format) | pickle | protobuf | carbonapi_v3_pb
"""

from __future__ import annotations

import contextlib
import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import functions as F

from .plans.autocomplete import autocomplete_tags, tag_values_df
from .render.pipeline import Engine, RenderRequest
from .render import reply as R

RENDER_CONTENT_TYPES = {
    "json": "application/json",
    "pickle": "application/pickle",
    "protobuf": "application/x-protobuf",
    "carbonapi_v3_pb": "application/x-protobuf",
}


import re as _re

_URL_PASSWORD_RE = _re.compile(r"(\w+?://[^/@\s:]+):[^/@\s]+@")


def _mask_url_passwords(v):
    """Redact `scheme://user:password@` credentials in config values
    before they leave through /debug/config — the reference masks the
    ClickHouse URL password as user:xxxxxx when marshaling its config
    (config/json.go, config/json_test.go TestClickhouseUrlPassword)."""
    if isinstance(v, str):
        return _URL_PASSWORD_RE.sub(r"\1:xxxxxx@", v)
    if isinstance(v, list):
        return [_mask_url_passwords(x) for x in v]
    if isinstance(v, dict):
        return {k: _mask_url_passwords(x) for k, x in v.items()}
    return v


def _truthy(s: str) -> bool:
    """carbonapi parser.TruthyBool: accepts 1/true/t/yes/y (any case)."""
    return s.lower() in ("1", "true", "t", "yes", "y")


class DataTimeout(RuntimeError):
    """Fetch exceeded [clickhouse] data-timeout — mapped to 504, like the
    reference maps ClickHouse query timeouts (clickhouse.go:123,156)."""


def run_with_data_timeout(spark, fn, timeout_sec: float, what: str):
    """Run `fn` (a driver action) in a worker thread under its own Spark
    job group; on timeout CANCEL the group's jobs (interrupt executors)
    and raise DataTimeout. This is the data-timeout semantics of the
    reference (config.go DataTimeout, default 1m): a runaway fetch dies
    instead of holding a request slot forever."""
    import uuid

    group = f"data-timeout-{uuid.uuid4().hex[:12]}"
    out: list = []
    err: list = []

    def work():
        sc = spark.sparkContext
        sc.setJobGroup(group, what, interruptOnCancel=True)
        try:
            out.append(fn())
        except Exception as exc:  # surfaced to the caller thread
            err.append(exc)
        finally:
            sc.setJobGroup("", "")

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(timeout_sec)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        # body wording of clickhouse.go:124 http.Error(w, "Storage read
        # timeout", ...) — the e2e goldens regexp-match
        # "^504: Storage read timeout" (tests/error_handling/test.toml)
        raise DataTimeout(
            f"Storage read timeout: {what} exceeded data-timeout "
            f"({timeout_sec:g}s)"
        )
    if err:
        raise err[0]
    return out[0]


class GraphiteHandler(BaseHTTPRequestHandler):
    engine: Engine  # set by make_server
    settings = None  # config.Settings (set by make_server)
    max_find_answer: int = 0  # max-metrics-in-find-answer (L2)
    limiters = None  # plans.limiter.ClassLimiters | None (set by make_server)
    user_limiters: dict = {}  # per X-Forwarded-User overrides
    telemetry = None  # metrics.Registry (set by make_server)
    render_tiers: tuple = ()  # [[query-params]] duration tiers

    # ---- plumbing -------------------------------------------------------

    def log_message(self, *args):  # quiet
        pass

    def _send(self, body: bytes, ctype: str = "application/json", status: int = 200,
              headers: dict | None = None):
        self._release_slot()
        self._last_status = status
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _error(self, status: int, msg: str):
        self._send(msg.encode(), "text/plain", status)

    # ---- dispatch -------------------------------------------------------

    def do_GET(self):
        self.do_POST()

    def do_POST(self):
        import time as _time

        from .metrics import handler_class

        t0 = _time.monotonic()
        self._last_status = 200
        try:
            self._dispatch()
        finally:
            if self.telemetry is not None:
                self.telemetry.observe_request(
                    handler_class(urlparse(self.path).path),
                    getattr(self, "_last_status", 200),
                    _time.monotonic() - t0,
                )

    def _dispatch(self):
        from .plans.limiter import LimitExceeded

        url = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        qlist = parse_qs(url.query)
        # Prometheus clients (Grafana included) POST form-encoded bodies
        # to /api/v1/*; body params take precedence over URL params
        # (upstream Request.FormValue reads body values first)
        if (
            self.command == "POST"
            and "application/x-www-form-urlencoded"
            in self.headers.get("Content-Type", "")
            # clients that default the content-type (urllib!) may still be
            # sending a protobuf body — the URL format param is the truth
            and q.get("format") != "carbonapi_v3_pb"
            # remote read/write bodies are snappy-framed protobuf, never
            # forms, and some senders omit the content type
            and url.path not in ("/api/v1/read", "/api/v1/write")
        ):
            length = int(self.headers.get("Content-Length", 0) or 0)
            if length > 0:
                self._body_consumed = True
                body = parse_qs(self.rfile.read(length).decode("utf-8", "replace"))
                # Go's Request.FormValue semantics (the upstream behavior):
                # ParseForm puts POST body values BEFORE the URL query's,
                # so body wins for single-value reads
                for k, v in body.items():
                    qlist[k] = list(v) + qlist.get(k, [])
                    q[k] = v[0]
        # live-ingest deployments: pick up files the stream appended
        # since the engine's frames last listed storage (throttled by
        # Engine.refresh_interval_sec; no-op for static datasets)
        try:
            self.engine.refresh_frames()
        except Exception:
            # a failed refresh serves the previous snapshot, but never
            # silently: log it and count it on /metrics
            logging.getLogger(__name__).exception("frame refresh failed")
            if self.telemetry is not None:
                self.telemetry.count_refresh_failure()
        # pin a consistent frame set for THIS request (instance attribute
        # shadows the class attribute; one request per handler instance):
        # a refresh triggered by a concurrent request swaps frames under
        # us otherwise, mixing index/points generations mid-request
        self.engine = self.engine.request_view()
        try:
            if url.path in ("/", "/alive"):
                self._send(b"Graphite-clickhouse-spark is alive.\n", "text/plain")
            elif url.path == "/health":
                self._health()
            elif url.path.rstrip("/") == "/_internal/capabilities":
                self._capabilities(q)
            elif url.path.rstrip("/") == "/render":
                self._render(q, qlist)
            elif url.path.startswith("/metrics/find"):
                with self._limit("find"):
                    self._find(q)
            elif url.path == "/metrics/index.json":
                with self._limit("find"):
                    self._index()
            elif url.path == "/tags/autoComplete/tags":
                with self._limit("tags"):
                    self._tags_autocomplete(q, qlist)
            elif url.path == "/tags/autoComplete/values":
                with self._limit("tags"):
                    self._values_autocomplete(q, qlist)
            elif url.path == "/debug/config":
                self._debug_config()
            elif url.path == "/metrics":
                self._telemetry_scrape()
            elif url.path == "/api/v1/labels":
                with self._limit("tags"):
                    self._prom_labels(qlist)
            elif url.path.startswith("/api/v1/label/") and url.path.endswith("/values"):
                with self._limit("tags"):
                    self._prom_label_values(
                        url.path[len("/api/v1/label/"):-len("/values")], qlist
                    )
            elif url.path == "/api/v1/series":
                with self._limit("tags"):
                    self._prom_series(qlist)
            elif url.path == "/api/v1/read":
                with self._limit("render"):
                    self._prom_remote_read()
            elif url.path == "/api/v1/write":
                with self._limit("render"):
                    self._prom_remote_write()
            elif url.path == "/api/v1/query_range":
                with self._limit("render"):
                    self._prom_query_range(q)
            elif url.path == "/api/v1/query":
                with self._limit("render"):
                    self._prom_query(q)
            else:
                self._error(404, f"not found: {url.path}")
        except LimitExceeded as exc:
            # the reference maps limiter rejections to 503
            # (find/handler.go:176, autocomplete.go:390)
            self._error(503, str(exc))
        except DataTimeout as exc:
            # the reference maps fetch timeouts to 504 Gateway Timeout
            # (helper/clickhouse/clickhouse.go:123,156)
            self._error(504, str(exc))
        except ValueError as exc:
            # guard errors carry their reference HTTP code (GlobError 400,
            # CostlySeriesByTagError 403, finder/tagged.go:23); the
            # metrics-per-target cap is a 403 (render/data/multi_target.go:64)
            if "metrics per target limit exceeded" in str(exc):
                self._error(403, str(exc))
            else:
                self._error(getattr(exc, "http_status", 400), str(exc))
        except Exception as exc:  # noqa: BLE001 — last-resort guard
            # NEVER die without a response: an unmapped exception here
            # previously killed the handler thread mid-request and the
            # client saw a bare connection drop (found by the HTTP fuzz:
            # a glob regex invalid only in the JVM dialect surfaced as
            # Py4JJavaError(PatternSyntaxException) at job execution).
            # Known client-caused JVM errors map to 400; anything else is
            # an honest 500, matching how the reference surfaces an
            # unexpected ClickHouse error body.  Always log the full
            # traceback first — a swallowed 500 with no log makes real
            # server bugs undiagnosable.
            import traceback

            logging.getLogger(__name__).error(
                "unhandled error serving %s:\n%s",
                getattr(self, "path", "?"),
                traceback.format_exc(),
            )
            try:
                if self._is_jvm_pattern_error(exc):
                    self._error(400, "invalid regular expression in query")
                else:
                    self._error(
                        500, f"internal error: {type(exc).__name__}"
                    )
            except Exception:  # headers already sent mid-stream: give up
                pass

    @staticmethod
    def _is_jvm_pattern_error(exc: BaseException) -> bool:
        """True iff the exception is a Py4J-surfaced JVM
        PatternSyntaxException (directly or anywhere in its cause chain)
        — the Python-valid/Java-invalid regex dialect gap that rlike
        compiles lazily inside the job.  Typed check, not a substring
        match on str(exc): an unrelated error whose MESSAGE merely quotes
        'PatternSyntaxException' must stay a 500."""
        try:
            from py4j.protocol import Py4JJavaError
        except Exception:  # pragma: no cover — py4j ships with pyspark
            return False
        if not isinstance(exc, Py4JJavaError):
            return False
        try:
            jexc = exc.java_exception
            seen = 0
            while jexc is not None and seen < 16:
                if "PatternSyntaxException" in jexc.getClass().getName():
                    return True
                jexc = jexc.getCause()
                seen += 1
        except Exception:
            return False
        return False

    def _fetch_with_timeout(self, fn, what: str, timeout: float | None = None):
        """Apply the data-timeout to a fetch action (0 = off); a matched
        [[query-params]] tier's timeout takes precedence over the default
        [clickhouse] data-timeout."""
        timeout = float(
            timeout or getattr(self.settings, "data_timeout_sec", 0) or 0
        )
        if timeout <= 0:
            return fn()
        return run_with_data_timeout(self.engine.spark, fn, timeout, what)

    def _fetch_with_index_timeout(self, fn, what: str):
        """Apply [clickhouse] index-timeout to an INDEX query action
        (find / tags autocomplete / render path resolution) — the
        reference's separate timeout domain for index-table queries
        (config.go IndexTimeout; tests/error_handling pins 504 parity
        when the index query stalls)."""
        timeout = float(getattr(self.settings, "index_timeout_sec", 0) or 0)
        if timeout <= 0:
            return fn()
        return run_with_data_timeout(self.engine.spark, fn, timeout, what)

    @contextlib.contextmanager
    def _limit(self, cls: str, tier: tuple | None = None):
        """The one limiter a request enters (GetQueryLimiter,
        render/data/multi_target.go:92-125): a user named in user-limits
        gets their own limiter (username from the X-Forwarded-User
        header, render/handler.go:273); else a matched [[query-params]]
        tier gets ITS limiter, a no-op when the tier sets no caps
        (config.go:760-765: 0 caps -> NoopLimiter); else the class
        limiter. The slot is held for the Spark work only: the reply
        writers call `_release_slot()` before the body goes out, so a
        slow reader never holds a slot."""
        user = self.headers.get("X-Forwarded-User", "")
        if user and self.user_limiters and user in self.user_limiters:
            lim = self.user_limiters[user]
        else:
            lim = tier[1] if tier is not None else getattr(self.limiters, cls, None)
        if lim is None:
            yield
            return
        with lim.enter() as release:
            self._slot_release = release
            try:
                yield
            finally:
                self._slot_release = None

    _slot_release = None  # the held limiter slot's release, if any

    def _release_slot(self) -> None:
        if self._slot_release is not None:
            self._slot_release()

    # ---- endpoints ------------------------------------------------------

    #: shared probe state: [last_probe_epoch, failed] — one storage probe
    #: per 10 s across threads (healthcheck/healthcheck.go:50-62)
    _health_state = [0.0, 1]
    _health_lock = threading.Lock()

    def _health(self):
        """Storage healthcheck: a guaranteed-empty index query proves the
        scan path end-to-end (the reference probes Level=20002 /
        Date='1970-02-12', healthcheck.go:41-47); rate-limited to one
        probe per 10 s."""
        import time as _time

        state = type(self)._health_state
        with type(self)._health_lock:
            now = _time.time()
            probe = now - state[0] >= 10
            if probe:
                state[0] = now
        if probe:
            failed = 1
            try:
                src = (
                    self.engine.path_index
                    if self.engine.path_index is not None
                    else self.engine.points
                )
                src.filter(
                    F.col("path").isin("NonExistient", "NonExistient.")
                ).limit(1).count()
                failed = 0
            except Exception:
                failed = 1
            state[1] = failed
        if state[1]:
            self._error(503, "Storage healthcheck failed")
        else:
            self._send(b"Graphite-clickhouse-spark is alive.\n", "text/plain")

    # ---- prometheus api (the label/series introspection surface of the
    # embedded prometheus listener, prometheus/querier.go:35-108; the
    # PromQL evaluator itself is out of scope) -------------------------

    def _prom_matchers(self, qlist: dict) -> list:
        from .plans.prometheus import parse_promql_selector

        return [parse_promql_selector(s) for s in qlist.get("match[]", [])]

    def _prom_ok(self, data):
        self._send(
            json.dumps({"status": "success", "data": data}).encode(),
            "application/json",
        )

    def _prom_window(self) -> tuple[int, int]:
        import time

        return self.engine.tagged_autocomplete_days, int(time.time())

    def _prom_labels(self, qlist: dict):
        from .plans.prometheus import label_names

        if self.engine.tags_index is None:
            raise ValueError("no tagged table configured")
        sels = self._prom_matchers(qlist)
        days, now = self._prom_window()
        names = label_names(
            self.engine.tags_index, sels[0] if sels else None,
            days=days, now_ts=now,
        )
        self._prom_ok([r.value for r in names.collect()])

    def _prom_label_values(self, label: str, qlist: dict):
        from .plans.prometheus import label_values

        if self.engine.tags_index is None:
            raise ValueError("no tagged table configured")
        sels = self._prom_matchers(qlist)
        days, now = self._prom_window()
        vals = label_values(
            self.engine.tags_index, label, sels[0] if sels else None,
            days=days, now_ts=now,
        )
        self._prom_ok([r.value for r in vals.collect()])

    def _prom_series(self, qlist: dict):
        from .plans.prometheus import series_label_sets

        if self.engine.tags_index is None:
            raise ValueError("no tagged table configured")
        sels = self._prom_matchers(qlist)
        if not sels:
            raise ValueError("no match[] parameter provided")
        days, now = self._prom_window()
        # optional start/end params resolve exactly like the storage
        # querier's hint range (querier_select.go:63-92): valid values
        # win, out-of-Date-range or absent values fall back to the
        # tagged-autocomplete-days window ending at now
        from .plans.prometheus import querier_time_range

        def _opt_ts(key):
            v = qlist.get(key, [None])[0] if isinstance(
                qlist.get(key), list) else qlist.get(key)
            return self._prom_ts(v, key) if v else None

        start, end = _opt_ts("start"), _opt_ts("end")
        # values at/past ClickHouse's Date max are "absent" to the
        # querier (querier_select.go:67-73); if nothing valid remains,
        # this is the default-window request
        from .plans.prometheus import _CH_DATE_MAX_SEC

        start = start if start is not None and 0 < start < _CH_DATE_MAX_SEC else None
        end = end if end is not None and 0 < end < _CH_DATE_MAX_SEC else None
        if start is not None or end is not None:
            from_ts, until_ts = querier_time_range(start, end, days, now)
            df = series_label_sets(
                self.engine.tags_index, sels,
                from_ts=from_ts, until_ts=until_ts,
            )
        else:
            # no explicit range: the days window stays a date-partition
            # prune (a no-op on date-less frames), as everywhere else
            df = series_label_sets(
                self.engine.tags_index, sels, days=days, now_ts=now
            )
        self._prom_ok([dict(r.tags) for r in df.collect()])

    # ---- prometheus query evaluation (the /api/v1/query{,_range} routes
    # the reference gets from embedding promql.NewEngine,
    # prometheus/run.go:43-63; evaluated by plans.promql) --------------

    def _prom_remote_read(self):
        """POST /api/v1/read — Prometheus remote read: snappy-framed
        prompb ReadRequest in, ReadResponse (SAMPLES) out. The reference
        serves this via the embedded Prometheus web handler
        (prometheus/run.go:63-87 -> querier_select.go:95-147); here each
        Query becomes a matcher-filtered, time-bounded, version-deduped
        scan of the tagged table (render/remote_read.py)."""
        from .functions.snappy import SnappyError, compress, decompress
        from .render import remote_read as RR

        tagged = self._prom_tagged()
        clen = int(self.headers.get("Content-Length") or 0)
        if clen <= 0:
            raise ValueError("remote read expects a snappy-compressed POST body")
        raw = self.rfile.read(clen)
        self._body_consumed = True
        try:
            body = decompress(raw)
        except SnappyError as exc:
            raise ValueError(f"snappy: {exc}")
        results = []
        for rq in RR.parse_read_request(body):
            # ms -> s: widen outward so boundary samples stay included
            df = RR.remote_read_frame(
                tagged, rq.matchers, rq.start_ms // 1000,
                -(-rq.end_ms // 1000),
            )
            results.append(RR.series_from_rows(df.collect()))
        payload = compress(RR.encode_read_response(results))
        self._release_slot()
        self.send_response(200)
        self.send_header("Content-Type", "application/x-protobuf")
        self.send_header("Content-Encoding", "snappy")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _prom_remote_write(self):
        """POST /api/v1/write — Prometheus remote write into the engine's
        ingest sink (additive surface: the reference is read-only; this
        engine owns ingest). Snappy-framed prompb WriteRequest in, 204
        out; samples land as canonical tagged points through the same
        write path carbon ingest uses (version-max dedup on read)."""
        from .functions.snappy import SnappyError, decompress
        from .render.remote_read import (
            parse_write_request,
            write_request_to_points,
        )

        job = getattr(self.engine, "ingest", None)
        if job is None:
            raise ValueError(
                "remote write requires an ingest sink (Engine.ingest)"
            )
        clen = int(self.headers.get("Content-Length") or 0)
        if clen <= 0:
            raise ValueError("remote write expects a snappy-compressed POST body")
        raw = self.rfile.read(clen)
        self._body_consumed = True
        try:
            body = decompress(raw)
        except SnappyError as exc:
            raise ValueError(f"snappy: {exc}")
        serieses = parse_write_request(body)
        if serieses:
            # honor the job's pinned write-version (deterministic tests /
            # replay); None falls back to ingest wall-clock, exactly like
            # the carbon path (parse_carbon_lines)
            job.write_batch(
                write_request_to_points(
                    self.engine.spark, serieses, version=job.version
                )
            )
        self._send(b"", "text/plain", status=204)

    @staticmethod
    def _prom_ts(s: str, what: str) -> int:
        """Unix seconds (float) or RFC3339 — both accepted upstream."""
        try:
            return int(float(s))
        except (TypeError, ValueError):
            pass
        try:
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return int(dt.timestamp())
        except (TypeError, ValueError, AttributeError):
            raise ValueError(f"invalid parameter {what!r}: {s!r}")

    def _prom_result(self, df, result_type: str, value_order: str | None = None):
        """(labels, series, t, value) rows -> Prometheus API payload.
        `df` is unordered (Engine.promql): the collected rows are sorted
        by (series, t) here, on the driver — Python's code-point order
        over `series` is Spark's UTF-8 byte order, so the series order is
        the one a Spark sort would give. Sample values are strings in the
        wire format; NaN stays out of JSON via the string encoding."""
        import math

        def fmt(v: float) -> str:
            if math.isnan(v):
                return "NaN"
            if math.isinf(v):
                return "+Inf" if v > 0 else "-Inf"
            return repr(v)  # shortest round-trip decimal

        try:
            rows = self._fetch_with_timeout(df.collect, "promql")
        except DataTimeout as exc:
            # stay in the Prometheus JSON error envelope (clients parse it)
            self._prom_err(str(exc), 504)
            return
        except Exception as exc:
            # vector-matching cardinality assertion raised executor-side
            # (plans/promql._unique_match_guard) -> upstream's 400, in the
            # JSON envelope (this runs OUTSIDE the handlers' try blocks)
            msg = str(exc)
            marker = "found duplicate series for the match group"
            if marker in msg:
                self._prom_err(msg[msg.index(marker):].split("\n")[0].strip(), 400)
                return
            raise

        series: dict[str, dict] = {}
        for r in sorted(rows, key=lambda r: (r.series, r.t)):
            entry = series.setdefault(
                r.series, {"metric": dict(r.labels), "values": []}
            )
            entry["values"].append([r.t, fmt(r.value)])
        result = []
        for e in series.values():
            if result_type == "vector":
                result.append({"metric": e["metric"], "value": e["values"][-1]})
            else:
                result.append(e)
        if value_order and result_type == "vector":
            # sort()/sort_desc(): order the instant vector by sample value
            # (upstream funcSort); NaN sorts last either way
            def keyf(entry):
                v = float(entry["value"][1]) if entry["value"][1] not in (
                    "NaN", "+Inf", "-Inf"
                ) else {"NaN": math.nan, "+Inf": math.inf, "-Inf": -math.inf}[
                    entry["value"][1]
                ]
                if math.isnan(v):
                    return (1, 0.0)
                return (0, -v if value_order == "desc" else v)

            result.sort(key=keyf)
        self._prom_ok({"resultType": result_type, "result": result})

    def _prom_tagged(self):
        if self.engine.tagged_points is None:
            raise ValueError("no tagged table configured")
        return self.engine.tagged_points

    def _prom_lookback(self) -> int:
        """[prometheus] lookback-delta (the engine's staleness window,
        prometheus/run.go:43-48)."""
        s = getattr(self, "settings", None)
        if s is None:
            from .plans.promql import DEFAULT_LOOKBACK

            return DEFAULT_LOOKBACK
        return int(s.prometheus_lookback_delta)

    def _prom_err(self, msg: str, status: int = 400):
        self._send(
            json.dumps(
                {"status": "error", "errorType": "bad_data", "error": msg}
            ).encode(),
            "application/json",
            status,
        )

    def _prom_query_range(self, q: dict):
        from .plans.promql import parse_duration

        try:
            self._prom_tagged()
            expr = q.get("query")
            if not expr:
                raise ValueError("missing parameter 'query'")
            start = self._prom_ts(q.get("start"), "start")
            end = self._prom_ts(q.get("end"), "end")
            step = parse_duration(q.get("step", ""))
            df = self.engine.promql(expr, start, end, step,
                                    self._prom_lookback())
        except ValueError as exc:
            self._prom_err(str(exc), getattr(exc, "http_status", 400))
            return
        self._prom_result(df, "matrix")

    def _prom_query(self, q: dict):
        import time as _time

        from .plans.promql import SortFn, parse_promql

        try:
            self._prom_tagged()
            expr = q.get("query")
            if not expr:
                raise ValueError("missing parameter 'query'")
            ts = self._prom_ts(q.get("time", str(int(_time.time()))), "time")
            node = parse_promql(expr)
            order = None
            if isinstance(node, SortFn):  # top-level sort orders the API reply
                order = "desc" if node.desc else "asc"
            df = self.engine.promql(expr, ts, ts, 1, self._prom_lookback())
        except ValueError as exc:
            self._prom_err(str(exc), getattr(exc, "http_status", 400))
            return
        self._prom_result(df, "vector", value_order=order)

    def _debug_config(self):
        """/debug/config (graphite-clickhouse.go:574-593): dump the active
        settings as indented JSON. Non-scalar fields (rules, limiters,
        compiled regexes) are rendered via repr — the endpoint is a
        debugging surface, not a machine contract."""
        s = getattr(self, "settings", None)
        if s is None:
            self._send(b"{}", "application/json")
            return
        import dataclasses

        out = {}
        for f in dataclasses.fields(s):
            v = getattr(s, f.name)
            try:
                json.dumps(v)
            except TypeError:
                v = repr(v)
            out[f.name] = _mask_url_passwords(v)
        self._send(json.dumps(out, indent=2).encode(), "application/json")

    def _capabilities(self, q: dict):
        """/_internal/capabilities/ (capabilities/handler.go:26-112):
        carbonapi protocol negotiation; format via ?format= or the
        Accept: application/x-carbonapi-v3-pb header."""
        import socket

        fmt = q.get("format", "")
        if self.headers.get("Accept") == "application/x-carbonapi-v3-pb":
            fmt = "carbonapi_v3_pb"
        name = socket.gethostname() or "(unknown)"
        if fmt == "json":
            self._send(R.capability_response_json(name), "application/json")
        elif fmt == "carbonapi_v3_pb":
            self._send(
                R.capability_response_v3_pb(name), "application/x-carbonapi-v3-pb"
            )
        else:
            self._error(400, "Bad request (unsupported format)")

    def _render(self, q: dict, qlist: dict):
        """One pass for every format, in the reference's order
        (render/handler.go:329): parse the targets and timeframes, match
        the [[query-params]] tier once on the parsed ranges, enter one
        limiter, then resolve every target under INDEX-timeout and fetch
        under the tier's DATA-timeout — the same two-query / two-timeout
        split the reference has between its index and data queries."""
        fmt = q.get("format", "json")
        if fmt not in RENDER_CONTENT_TYPES:
            raise ValueError(f"unsupported format: {fmt}")
        reqs = self._render_requests(q, qlist, fmt)
        tier = self._match_tier(reqs)
        # the default tier's read limits come from the [clickhouse] url
        # query string; a matched tier brings its own url's limits
        if tier is not None:
            timeout, limits = tier[2], tier[3]
        else:
            timeout, limits = None, getattr(self.settings, "storage_limits", None)
        with self._limit("render", tier):
            for r in reqs:
                r.storage_limits = limits
            self._fetch_with_index_timeout(
                lambda: [self.engine.resolve(r) for r in reqs], "render-find"
            )
            series = self._fetch_with_timeout(
                lambda: self._render_series(reqs), "render", timeout
            )
            enc = {
                "json": R.encode_render_json,
                "pickle": R.encode_pickle,
                "protobuf": R.encode_v2_pb,
                "carbonapi_v3_pb": R.encode_v3_pb,
            }[fmt]
            # X-Cached-Find: max cache TTL across targets whose find step
            # was served from cache (render/handler.go:360-368)
            hit_ttls = [r.cache_hit_ttl for r in reqs if r.cache_hit_ttl]
            hdrs = {"X-Cached-Find": str(max(hit_ttls))} if hit_ttls else None
            self._send(enc(series), RENDER_CONTENT_TYPES[fmt], headers=hdrs)

    def _render_requests(self, q: dict, qlist: dict, fmt: str) -> list:
        """The render's RenderRequests: from a carbonapi_v3_pb
        MultiFetchRequest POST body (render/reply/v3_pb.go:25-62), else
        from the URL params."""
        import time as _time

        from .functions.datetime_spec import date_param_to_epoch

        clen = int(self.headers.get("Content-Length") or 0)
        if clen and getattr(self, "_body_consumed", False):
            clen = 0  # form-encoded body already drained in _dispatch
        if clen and fmt == "carbonapi_v3_pb":
            from .render.request import parse_multi_fetch_request

            return [
                RenderRequest(
                    fr.target,
                    fr.start_time,
                    fr.stop_time,
                    max_data_points=fr.max_data_points or 1048576,
                    consolidate_by=fr.consolidate_by,
                )
                for fr in parse_multi_fetch_request(self.rfile.read(clen))
            ]
        # graphite-web sends one target= param PER TARGET; all render in
        # one request and the series concatenate (render/data/multi_target.go)
        targets = qlist.get("target") or [q.get("target", "")]
        now = int(_time.time())
        # graphite time specs (-1d, now, midnight+60s, epoch ints, ...);
        # no until means now, no from means the last 24h
        from_ts = date_param_to_epoch(q.get("from", ""), now)
        until_ts = date_param_to_epoch(q.get("until", ""), now)
        if until_ts == 0 and q.get("until", "") == "":
            until_ts = now
        if from_ts == 0 and q.get("from", "") == "":
            from_ts = until_ts - 86400
        mdp = int(q.get("maxDataPoints", 1048576))
        use_cache = not _truthy(q.get("noCache", ""))
        return [
            RenderRequest(
                target, from_ts, until_ts, max_data_points=mdp,
                use_cache=use_cache,
            )
            for target in targets
        ]

    def _match_tier(self, reqs: list) -> tuple | None:
        """The [[query-params]] tier (min_duration, limiter, data_timeout,
        storage_limits) for a parsed render: the LARGEST tier whose
        duration <= the longest timeframe (config.go GetQueryParam over
        the MultiTarget, getDataTimeout in
        render/data/multi_target.go:71-93). None is the implicit default
        tier: the class limiter and the [clickhouse] timeout and limits."""
        dur = max([0, *(r.until_ts - r.from_ts for r in reqs)])
        matched = None
        for tier in self.render_tiers:
            if dur < tier[0]:
                break
            matched = tier
        return matched

    def _render_series(self, reqs):
        """One target -> single plan; several -> render_multi's unioned
        plan (ONE fetch job for the whole request instead of one per
        target — the multi-target dashboards case)."""
        if not reqs:
            return []
        if len(reqs) == 1:
            df = self.engine.render(reqs[0])
            return R.series_from_render(
                df, reqs[0].target, reqs[0].from_ts, reqs[0].until_ts
            )
        return R.series_from_render_multi(self.engine.render_multi(reqs), reqs)

    def _find_rows(
        self, query: str, from_ts: int = 0, until_ts: int = 0
    ) -> list[tuple[str, bool]]:
        from .render.pipeline import find_tree_rows

        return find_tree_rows(self.engine, query, from_ts, until_ts)

    def _find(self, q: dict):
        query = q.get("query", "")
        fmt = q.get("format", "json")
        from_ts = int(q.get("from", 0) or 0)
        until_ts = int(q.get("until", 0) or 0)
        # carbonapi sends find as a v3_pb MultiGlobRequest POST body; like
        # the reference, only single-metric requests are supported
        # (find/handler.go:84-109)
        clen = int(self.headers.get("Content-Length") or 0)
        if clen and fmt == "carbonapi_v3_pb":
            from .render.request import parse_multi_glob_request

            metrics, g_start, g_stop = parse_multi_glob_request(self.rfile.read(clen))
            if len(metrics) != 1:
                raise ValueError(
                    "Multiple metrics in same find request is not supported yet"
                )
            query = metrics[0]
            from_ts, until_ts = g_start or from_ts, g_stop or until_ts
        # find-cache probe, bypassed by ?noCache=1 (find/handler.go:136);
        # hits announce themselves via X-Cached-Find: <ttl>
        # (find/handler.go:149, asserted by the reference e2e harness)
        cache = self.engine.find_cache
        use_cache = cache is not None and not _truthy(q.get("noCache", ""))
        rows = cache_key = cache_ttl = None
        hdrs: dict = {}
        if use_cache:
            rows, cache_key, cache_ttl = cache.find_request_cached(
                from_ts, until_ts, "find:" + query
            )
            if rows is not None:
                hdrs["X-Cached-Find"] = str(cache.find_timeout_sec)
        if rows is None:
            rows = self._fetch_with_index_timeout(
                lambda: self._find_rows(query, from_ts, until_ts), "find"
            )
            if use_cache:
                cache.set(cache_key, rows, cache_ttl)
        rows = [tuple(r) for r in rows]
        limit = self.max_find_answer
        if fmt == "json":
            # the pseudo-JSON format is served as text/plain, matching
            # the reference handler (find/handler_json_test.go asserts
            # "text/plain; charset=utf-8" for format=json)
            self._send(R.find_json(rows, limit),
                       "text/plain; charset=utf-8", headers=hdrs)
        elif fmt == "pickle":
            self._send(R.find_pickle(rows, limit), "application/pickle", headers=hdrs)
        elif fmt == "protobuf":
            self._send(R.find_v2_pb(query, rows, limit),
                       "application/x-protobuf", headers=hdrs)
        elif fmt == "carbonapi_v3_pb":
            self._send(R.find_v3_pb(query, rows, limit),
                       "application/x-protobuf", headers=hdrs)
        else:
            raise ValueError(f"unsupported format: {fmt}")

    def _telemetry_scrape(self):
        """/metrics — Prometheus exposition of the request counters and
        duration histograms (the reference's metrics/ package signals,
        scrape-shaped instead of push-to-graphite/statsd)."""
        if self.telemetry is None:
            raise ValueError("telemetry registry not configured")
        cache = self.engine.find_cache
        if cache is not None:
            body = self.telemetry.render().decode()
            body += (
                "# TYPE gchs_find_cache_hits_total counter\n"
                f"gchs_find_cache_hits_total {cache.hits}\n"
                "# TYPE gchs_find_cache_misses_total counter\n"
                f"gchs_find_cache_misses_total {cache.misses}\n"
            )
            payload = body.encode()
        else:
            payload = self.telemetry.render()
        self._send(payload, "text/plain; version=0.0.4")

    def _index(self):
        # /metrics/index.json serves ONLY from the path index, mirroring
        # the reference (index/index.go:23-120 reads only the index
        # table). A fallback distinct() over the points table would be a
        # full-corpus scan collected to the driver at 100 TB.
        src = self.engine.path_index
        if src is None:
            raise ValueError(
                "/metrics/index.json requires a path index table "
                "(build_path_index); refusing to scan the points table"
            )
        # STREAMED, never collected: namespaces reach 10^7-10^8 leaves.
        # Spark sorts executor-side; toLocalIterator pulls one partition
        # at a time; chunks go straight to the socket (HTTP/1.0 body —
        # no Content-Length, connection close delimits, as the reference
        # streams its chunked writer row-by-row)
        df = (
            src.filter(F.col("is_leaf"))
            .select("path")
            .filter(~F.col("path").endswith("."))
            .distinct()  # the daily index repeats a leaf once per day
            .sort("path")
        )
        self._last_status = 200
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        it = (r.path for r in df.toLocalIterator(prefetchPartitions=True))
        for chunk in R.index_json_chunks(it):
            self.wfile.write(chunk)

    def _autocomplete_cache_probe(self, q: dict, key: str):
        """Autocomplete responses share the find-cache under the find TTL
        (autocomplete.go:306-321): (values-or-None, key, ttl, headers)."""
        cache = self.engine.find_cache
        if cache is None or _truthy(q.get("noCache", "")):
            return None, None, None, {}
        vals, cache_key, ttl = cache.find_request_cached(0, 0, key)
        hdrs = {"X-Cached-Find": str(cache.find_timeout_sec)} if vals is not None else {}
        return vals, cache_key, ttl, hdrs

    def _tags_autocomplete(self, q: dict, qlist: dict):
        import time

        if self.engine.tags_index is None:
            raise ValueError("no tagged table configured")
        exprs = qlist.get("expr", [])
        limit = int(q.get("limit", 10000))
        ck = f"tags:{';'.join(sorted(exprs))}:{q.get('tagPrefix', '')}:{limit}"
        tags, cache_key, ttl, hdrs = self._autocomplete_cache_probe(q, ck)
        if tags is None:
            def _fetch():
                self.engine.storage_query_start()
                return autocomplete_tags(
                    self.engine.tags_index, exprs or None,
                    q.get("tagPrefix", ""), limit,
                    days=self.engine.tagged_autocomplete_days,
                    now_ts=int(time.time()),
                    date_mode=self.engine.date_mode,
                    flags=self.engine.flags,
                )

            tags = self._fetch_with_index_timeout(_fetch, "tags")
            if cache_key is not None:
                self.engine.find_cache.set(cache_key, tags, ttl)
        self._send(json.dumps(tags).encode(), "application/json", headers=hdrs)

    def _values_autocomplete(self, q: dict, qlist: dict):
        import time

        if self.engine.tags_index is None:
            raise ValueError("no tagged table configured")
        tag = q.get("tag", "")
        if not tag:
            raise ValueError("tag parameter required")
        exprs = qlist.get("expr", [])
        limit = int(q.get("limit", 10000))
        ck = (f"values:{tag}:{';'.join(sorted(exprs))}:"
              f"{q.get('valuePrefix', '')}:{limit}")
        vals, cache_key, ttl, hdrs = self._autocomplete_cache_probe(q, ck)
        if vals is None:
            def _fetch():
                self.engine.storage_query_start()
                df = tag_values_df(
                    self.engine.tags_index, tag, exprs or None,
                    q.get("valuePrefix", ""), limit,
                    flags=self.engine.flags,
                    days=self.engine.tagged_autocomplete_days,
                    now_ts=int(time.time()),
                    date_mode=self.engine.date_mode,
                )
                return [r.value for r in df.collect()]

            vals = self._fetch_with_index_timeout(_fetch, "tags")
            if cache_key is not None:
                self.engine.find_cache.set(cache_key, vals, ttl)
        self._send(json.dumps(vals).encode(), "application/json", headers=hdrs)


def warmup_engine(engine, now_ts: int | None = None) -> dict[str, float]:
    """Fire one representative query per request class through the
    engine BEFORE the listener opens — the cold-start mitigation the
    reference never needs (graphite-clickhouse.go:518-559 is a Go
    binary that serves its first request at native speed, while a fresh
    Spark driver pays session init + first-job scheduling + JIT on the
    first real dashboard load; measured in BENCH_LATENCY.json
    'cold_start').

    Three classes, matching the interactive surface: find (path-index
    glob resolution), render (points fetch + resample + gapfill +
    reply), PromQL instant (tagged-table selector).  Results are
    discarded; ALL exceptions are swallowed — an empty or odd store
    still warms the JVM, the whole-stage-codegen compiler, the parquet
    footer cache, and the Python worker pool, and a warmup failure must
    never block serving.  Returns per-class seconds for the startup
    log."""
    import time as _time

    from .render.pipeline import RenderRequest

    timings: dict[str, float] = {}

    def _phase(name, fn):
        t0 = _time.monotonic()
        try:
            fn()
        except Exception:  # noqa: BLE001 — warmup is best-effort by contract
            pass
        timings[name] = round(_time.monotonic() - t0, 3)

    # anchor the warmup window to the store's own newest point so the
    # render/promql phases compile the REAL fetch+resample+gapfill
    # codegen over non-empty data, not a vacuous future window (this
    # first tiny agg is itself useful: it pays the parquet-footer read
    # and first-job scheduling cost)
    now = int(now_ts if now_ts is not None else _time.time())
    try:
        from pyspark.sql import functions as _F

        t_max = engine.points.agg(_F.max("time")).first()[0]
        if t_max:
            now = int(t_max)
    except Exception:  # noqa: BLE001
        pass
    req = RenderRequest("*", now - 3600, now, max_data_points=100,
                        use_cache=False)
    _phase("find", lambda: engine.resolve(req))
    _phase("render", lambda: engine.render(req).collect())
    if engine.tagged_points is not None:
        from .plans.promql import eval_promql

        _phase(
            "promql",
            lambda: eval_promql(
                engine.tagged_points, "up", now, now, 1, ordered=False
            ).collect(),
        )
    return timings


def make_server(
    engine: Engine, host: str = "127.0.0.1", port: int = 0, settings=None
) -> ThreadingHTTPServer:
    """Bind (port=0 -> ephemeral). Caller runs serve_forever (or use
    serve_background). `settings` (config.Settings) wires the per-class
    request limiters and find-answer cap."""
    from .metrics import Registry

    attrs = {"engine": engine, "telemetry": Registry()}
    if settings is not None:
        attrs["settings"] = settings
        attrs["max_find_answer"] = settings.max_metrics_in_find_answer
        attrs["limiters"] = settings.class_limiters()
        attrs["user_limiters"] = settings.user_limiters()
        attrs["render_tiers"] = tuple(settings.render_tiers())
    handler = type("BoundHandler", (GraphiteHandler,), attrs)

    class _Server(ThreadingHTTPServer):
        # socketserver's default listen backlog is 5: a burst of
        # concurrent connects overflows it and the surplus SYNs sit in
        # kernel retransmit (measured as exact ~1s/2s latency cliffs on
        # otherwise-1ms find-cache hits in BENCH_LATENCY). The reference
        # (Go net/http) listens with the OS maximum; match that intent.
        request_queue_size = 128

    srv = _Server((host, port), handler)
    tls = getattr(settings, "server_tls", None) if settings is not None else None
    if tls:
        import ssl

        cert, key, ca = tls
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(cert, key or None)
        if ca:  # mTLS: require and verify client certificates
            ctx.load_verify_locations(ca)
            ctx.verify_mode = ssl.CERT_REQUIRED
        srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    return srv


def serve_background(engine: Engine, host: str = "127.0.0.1", port: int = 0, settings=None):
    """Start in a daemon thread; returns (server, base_url)."""
    srv = make_server(engine, host, port, settings=settings)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://{srv.server_address[0]}:{srv.server_address[1]}"
