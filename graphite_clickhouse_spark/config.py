"""TOML config loader — accepts the reference's graphite-clickhouse.conf
format (doc/config.md:233-521, config/config.go) so an existing deployment
can bring its config file unchanged.

Only the query-semantic knobs are honoured; infra-only sections (listen
addresses, logging, ClickHouse URLs) are parsed and recorded in
``Settings.ignored`` but have no Spark equivalent — Spark IS the
execution engine, there is no database to dial. [common] service
discovery (service-discovery-type/-ns/-ds/-expire, base_weight,
degraged-*) IS honoured: it registers the driver's HTTP listener, see
the sd/ package.

Mapping (reference key -> here):
- [common] max-metrics-in-find-answer / max-metrics-per-target -> find
  encoder limit / Engine.max_metrics_per_target (L2/L3)
- [common] target-blacklist -> plans.guards.Blacklist (P12)
- [common.find-cache] -> plans.findcache.CacheConfig (SO3); type "null"
  or all-zero timeouts disable it
- [feature-flags] -> plans.tagged.FeatureFlags (P9/P10 semantics)
- [clickhouse] extra-prefix -> plans.guards.PrefixFinder (P13)
- [clickhouse] wildcard-min-distance / tags-min-in-query -> find guards
- [clickhouse] max-data-points -> RenderRequest default (L4)
- [clickhouse] render/find/tags *-concurrent-queries / *-max-queries ->
  plans.limiter.ClassLimiters (the reference's limiter/ package)
- [clickhouse] rollup-conf path / "none" (+ rollup-default-precision,
  rollup-default-function), or per-[[data-table]] rollup-conf ->
  operators.rollup.Rules ("auto" has no remote server here; it falls back
  to the defaults, as the reference does before the first fetch)
- [clickhouse] data-timeout / index-timeout -> per-class limiter queue
  timeouts (closest Spark-side analogue of query deadlines)
"""

from __future__ import annotations

import re
import tomllib
from dataclasses import dataclass, field
from typing import Any

from .operators.rollup import Rules
from .plans.findcache import CacheConfig
from .plans.glob import ReverseRule
from .plans.guards import Blacklist, PrefixFinder, StorageLimits
from .plans.limiter import ClassLimiters
from .plans.tagged import FeatureFlags

_DURATION_RE = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h|d)")
_UNIT_SEC = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1, "m": 60, "h": 3600, "d": 86400}


def parse_go_duration(s: str | int | float) -> float:
    """Go duration string ("1m0s", "100ms") -> seconds. Bare numbers pass
    through (the reference accepts integer seconds in a few places)."""
    if isinstance(s, (int, float)):
        return float(s)
    s = s.strip()
    if not s or s == "0":
        return 0.0
    total, matched = 0.0, 0
    for m in _DURATION_RE.finditer(s):
        total += float(m.group(1)) * _UNIT_SEC[m.group(2)]
        matched += len(m.group(0))
    if matched != len(s.replace("-", "", 1)):
        raise ValueError(f"bad duration: {s!r}")
    return -total if s.startswith("-") else total


@dataclass
class Settings:
    """Parsed, engine-ready view of a graphite-clickhouse.conf."""

    max_metrics_in_find_answer: int = 0  # 0 = unlimited
    #: server TLS termination: (cert, key, ca-or-None). The reference's
    #: [clickhouse.tls] is a CLIENT config for the ClickHouse hop — a
    #: process boundary the Spark build doesn't have; terminating TLS on
    #: the serving side (tests/tls/ posture) is the surviving analog.
    #: ca set -> mTLS: client certificates are required and verified.
    server_tls: tuple | None = None
    max_metrics_per_target: int = 15000
    #: [[clickhouse.query-params]] duration tiers (sorted ascending)
    query_params: list = field(default_factory=list)
    append_empty_series: bool = False
    blacklist: Blacklist | None = None
    find_cache: CacheConfig | None = None
    flags: FeatureFlags = field(default_factory=FeatureFlags)
    prefix: PrefixFinder | None = None
    wildcard_min_distance: int = 0
    tags_min_in_query: int = 0
    index_reverse: str = "auto"
    index_reverses: tuple = ()
    try_split_query: bool = False
    max_node_to_split_index: int = 0
    index_use_daily: bool = True
    date_mode: str = "utc"
    tagged_autocomplete_days: int = 7
    max_data_points: int = 1048576
    internal_aggregation: bool = True
    data_timeout_sec: float = 60.0
    index_timeout_sec: float = 60.0
    #: read limits from the [clickhouse] url query string
    #: (max_rows_to_read / max_memory_usage -> 403 guards on the scan,
    #: helper/clickhouse/clickhouse.go:60-95); tiers carry their own
    storage_limits: StorageLimits | None = None
    limiters: dict[str, dict[str, int]] = field(default_factory=dict)
    #: [clickhouse.user-limits.<name>] overrides, keyed by the
    #: X-Forwarded-User header value (config.go:162-165,236)
    user_limits: dict[str, dict[str, int]] = field(default_factory=dict)
    rules: Rules = field(default_factory=Rules.default)
    data_tables: list[dict[str, Any]] = field(default_factory=list)
    #: [prometheus] lookback-delta (config.go Prometheus section; the
    #: staleness window promql.NewEngine is built with, prometheus/run.go)
    prometheus_lookback_delta: float = 300.0
    #: [common] service discovery (config.go:108-115, sd/register.go):
    #: sd_url empty disables; defaults below follow
    #: config.go NeedLoadAvgColect (:779-799)
    sd_type: str = ""
    sd_url: str = ""
    sd_namespace: str = "graphite"
    sd_dc: tuple = ()
    sd_expire_sec: float = 86400.0
    base_weight: int = 100
    degraded_multiply: float = 4.0
    degraded_load: float = 1.0
    #: [tags] — the tagger batch job (config.go:281-295, tagger/):
    #: rules file, optional metric-list input, output location (a
    #: parquet directory here; the reference writes a RowBinary upload
    #: file). Empty rules disables the `--build-tags` mode.
    tags_rules_path: str = ""
    tags_input_file: str = ""
    tags_output_path: str = ""
    #: [clickhouse] tag-table: parquet dir of the tagger's (path, tags)
    #: output — enables the legacy `_tag` browse (finder/tag.go WrapTag;
    #: the reference activates it on the same key)
    tag_table_path: str = ""
    #: sections/keys present in the file that have no Spark-side meaning
    ignored: list[str] = field(default_factory=list)

    def class_limiters(self) -> ClassLimiters:
        """Per-class request limiters from the parsed capacities; a
        capacity of 0 means unlimited (reference semantics) — modelled as
        a very large limiter rather than no limiter, keeping one code
        path."""
        def cap(c: str, key: str, default: int) -> int:
            v = self.limiters.get(c, {}).get(key, 0)
            return v if v > 0 else default

        cls = ClassLimiters(
            render=cap("render", "concurrent", 1 << 20),
            find=cap("find", "concurrent", 1 << 20),
            tags=cap("tags", "concurrent", 1 << 20),
            queue_timeout_sec=self.index_timeout_sec or 60.0,
        )
        # adaptive-queries > 0 upgrades the class to the load-avg
        # limiter (config.go:749-766 builds ALimiter for every class;
        # with n<=0 it degrades to the plain one, alimiter.go:55-60)
        from .plans.limiter import AdaptiveLimiter

        for c in ("render", "find", "tags"):
            n = self.limiters.get(c, {}).get("adaptive", 0)
            if n > 0:
                setattr(cls, c, AdaptiveLimiter(
                    cap(c, "concurrent", 1 << 20), n,
                    queue_timeout_sec=self.index_timeout_sec or 60.0,
                ))
        return cls

    def render_tiers(self) -> list:
        """[(min_duration_sec, limiter_or_None, data_timeout_or_None,
        storage_limits_or_None)]
        from [[clickhouse.query-params]] (config.go GetQueryParam:
        requests pick the LARGEST tier whose duration <= their range;
        tier 0 — the implicit default — uses the render class limiter
        and the default data-timeout, so it is not materialized here)."""
        from .plans.limiter import AdaptiveLimiter, RequestLimiter

        tiers = []
        for qp in self.query_params:
            if qp["adaptive"] > 0:
                # adaptive with no explicit concurrency: same unlimited-
                # capacity default class_limiters uses, so the load-avg
                # throttle is never silently dropped
                lim = AdaptiveLimiter(
                    qp["concurrent"] if qp["concurrent"] > 0 else 1 << 20,
                    qp["adaptive"],
                    max_queue=qp["max"],
                    queue_timeout_sec=self.index_timeout_sec or 60.0,
                )
            elif qp["concurrent"] > 0 or qp["max"] > 0:
                lim = RequestLimiter(
                    qp["concurrent"] if qp["concurrent"] > 0 else 1 << 20,
                    max_queue=qp["max"],
                    queue_timeout_sec=self.index_timeout_sec or 60.0,
                )
            else:
                lim = None
            tiers.append(
                (qp["duration"], lim, qp["data_timeout"], qp.get("limits"))
            )
        return tiers

    def user_limiters(self) -> dict:
        """Per-user limiter overrides (render/data/multi_target.go:95-125:
        a user present in user-limits gets their OWN limiter instead of
        the class one)."""
        from .plans.limiter import RequestLimiter

        out = {}
        for user, lim in self.user_limits.items():
            conc = int(lim.get("concurrent-queries", 0) or 0)
            out[user] = RequestLimiter(
                conc if conc > 0 else 1 << 20,
                max_queue=int(lim.get("max-queries", 0) or 0),
                queue_timeout_sec=self.index_timeout_sec or 60.0,
            )
        return out


def _read_rollup(ch: dict[str, Any], tables: list[dict[str, Any]], ignored: list[str]) -> Rules:
    """rollup-conf resolution order mirrors config.go: the first
    [[data-table]] with an explicit rollup-conf wins, else [clickhouse]."""
    candidates: list[dict[str, Any]] = [t for t in tables if t.get("rollup-conf")] + [ch]
    for src in candidates:
        conf = src.get("rollup-conf", "auto")
        default_prec = int(src.get("rollup-default-precision", 0) or 0)
        default_fn = src.get("rollup-default-function", "") or "avg"
        if conf == "none":
            return Rules.single_default(default_prec or 60, default_fn)
        if conf in ("auto", ""):
            # no remote ClickHouse to fetch from: run on defaults, like the
            # reference before its first auto-refresh completes
            if conf == "auto":
                ignored.append("clickhouse.rollup-conf=auto (no remote server)")
            continue
        with open(conf, "rb") as fh:
            text = fh.read().decode()
        # XML (the production format), the ClickHouse JSON dump of
        # system.graphite_retentions (what rollup-conf="auto" fetches —
        # a saved copy loads identically), or the reference's compact
        # test-fixture form `regexp;function;age:precision,...`
        if text.lstrip().startswith("<"):
            return Rules.from_xml(text)
        if text.lstrip().startswith("{"):
            return Rules.from_json(text)
        return Rules.from_compact(text)
    return Rules.default()


def _join_inline_tables(text: str) -> str:
    """Fold newlines inside `{ ... }` inline tables into spaces.

    The reference configs use Go-TOML's lenient multi-line inline tables
    (tests/error_handling/graphite-clickhouse.conf.tpl query-params);
    TOML 1.0 (tomllib) forbids newlines there. Tracks string state so
    braces inside quoted values ("{{ .PROXY_URL }}") are untouched."""
    out, depth, quote, i = [], 0, "", 0
    while i < len(text):
        c = text[i]
        if quote:
            if c == "\\" and quote == '"':
                out.append(text[i:i + 2])
                i += 2
                continue
            if c == quote:
                quote = ""
        elif c == "#" and depth == 0:
            # comment: copy verbatim to end of line WITHOUT counting
            # braces/quotes (an unbalanced '{' in a comment must not
            # open a fold region swallowing the rest of the file)
            j = text.find("\n", i)
            j = len(text) if j < 0 else j
            out.append(text[i:j])
            i = j
            continue
        elif c in "\"'":
            quote = c
        elif c == "{":
            depth += 1
        elif c == "}":
            depth = max(0, depth - 1)
        elif c == "\n" and depth > 0:
            # drop a trailing comma-newline's newline; keep separators
            out.append(" ")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def load_settings(toml_text: str) -> Settings:
    """Parse a graphite-clickhouse.conf (TOML) into Settings."""
    raw = tomllib.loads(_join_inline_tables(toml_text))
    s = Settings()

    common = raw.get("common", {})
    s.max_metrics_in_find_answer = int(common.get("max-metrics-in-find-answer", 0))
    s.max_metrics_per_target = int(common.get("max-metrics-per-target", 15000)) or (1 << 31)
    s.append_empty_series = bool(common.get("append-empty-series", False))
    bl = common.get("target-blacklist", [])
    s.blacklist = Blacklist(list(bl)) if bl else None
    tls = common.get("tls", {})
    if tls.get("cert"):
        s.server_tls = (
            str(tls["cert"]), str(tls.get("key", "")),
            str(tls.get("ca-cert", "")) or None,
        )
    fc = common.get("find-cache", {})
    if fc and fc.get("type", "null") != "null":
        s.find_cache = CacheConfig(
            default_timeout_sec=int(parse_go_duration(fc.get("default-timeout", 0))),
            short_timeout_sec=int(parse_go_duration(fc.get("short-timeout", 0))),
            short_duration_sec=int(parse_go_duration(fc.get("short-duration", "0s")))
            or 3 * 3600,
            short_until_offset_sec=int(fc.get("short-offset", 0) or 120),
            find_timeout_sec=int(parse_go_duration(fc.get("find-timeout", 0))),
            # "mem" or "memcached" (+ servers), matching the reference's
            # [common] find-cache section (cache.go:22-41, doc/config.md)
            cache_type=str(fc.get("type", "mem")),
            memcached_servers=tuple(fc.get("memcached-servers", [])),
        )

    # service discovery (config.go:108-115 keys; :779-799 defaults).
    # sd_type accepts "nginx" (the only registered flavour) or "";
    # anything else is the reference's "invalid sd type" error.
    s.sd_type = str(common.get("service-discovery-type", "") or "")
    if s.sd_type not in ("", "nginx"):
        raise ValueError(f"invalid sd type {s.sd_type!r}")
    s.sd_url = str(common.get("service-discovery", "") or "")
    s.sd_dc = tuple(common.get("service-discovery-ds", []) or ())
    if s.sd_url:
        s.sd_namespace = str(
            common.get("service-discovery-ns", "") or "graphite"
        )
        s.sd_expire_sec = max(
            parse_go_duration(common.get("service-discovery-expire", 0)),
            86400.0,
        )
        s.base_weight = int(common.get("base_weight", 0) or 0) or 100
        s.degraded_multiply = (
            float(common.get("degraged-multiply", 0) or 0) or 4.0
        )
        s.degraded_load = (
            float(common.get("degraged-load-avg", 0) or 0) or 1.0
        )

    ff = raw.get("feature-flags", {})
    s.flags = FeatureFlags(
        use_carbon_behaviour=bool(ff.get("use-carbon-behaviour", False)),
        dont_match_missing_tags=bool(ff.get("dont-match-missing-tags", False)),
    )

    ch = raw.get("clickhouse", {})
    if ch.get("extra-prefix"):
        s.prefix = PrefixFinder(ch["extra-prefix"])
    s.wildcard_min_distance = int(ch.get("wildcard-min-distance", 0))
    s.tags_min_in_query = int(ch.get("tags-min-in-query", 0))
    s.index_use_daily = bool(ch.get("index-use-daily", True))
    mode = str(ch.get("date-format", "") or "utc").lower()
    if mode == "":
        mode = "utc"
    if mode not in ("utc", "default", "both"):
        raise ValueError(f"unsupported date-format: {mode}")
    s.date_mode = mode
    s.try_split_query = bool(ch.get("try-split-query", False))
    s.max_node_to_split_index = int(ch.get("max-node-to-split-index", 0))
    s.index_reverse = str(ch.get("index-reverse", "auto"))
    s.index_reverses = tuple(
        ReverseRule(
            reverse=r.get("reverse", "auto"),
            prefix=r.get("prefix", ""),
            suffix=r.get("suffix", ""),
            regex=r.get("regex") or None,
        )
        for r in ch.get("index-reverses", [])
    )
    s.tagged_autocomplete_days = int(ch.get("tagged-autocomplete-days", 7))
    s.max_data_points = int(ch.get("max-data-points", 1048576))
    s.internal_aggregation = bool(ch.get("internal-aggregation", True))
    s.data_timeout_sec = parse_go_duration(ch.get("data-timeout", "1m"))
    # read limits ride the storage URL query string in the reference
    # (url = ".../?max_rows_to_read=...&max_memory_usage=...")
    s.storage_limits = StorageLimits.from_url(str(ch.get("url", "")))
    # duration-tiered query params (config.go QueryParams: requests with
    # range >= duration get their own limiter + data-timeout tier)
    s.query_params = []
    for qp in ch.get("query-params", []):
        duration = int(parse_go_duration(qp.get("duration", 0)))
        if duration <= 0:
            # config.go:607-608: a tier without a duration is an error,
            # not a catch-all tier 0
            raise ValueError(f"query duration param not set for: {qp}")
        max_q = int(qp.get("max-queries", 0) or 0)
        concurrent = int(
            qp.get("concurrent-queries", 0) or qp.get("max-concurrent", 0) or 0
        )
        if concurrent > max_q and max_q > 0:
            concurrent = 0  # config.go:603-605
        qp_url = str(qp.get("url", "") or "")
        s.query_params.append({
            "duration": duration,
            "data_timeout": (
                parse_go_duration(qp["data-timeout"])
                if "data-timeout" in qp else None
            ),
            # a tier without its own url REUSES the default url — and
            # with it the default read limits (config.go:615-618); only
            # an explicit tier url overrides them
            "limits": (
                StorageLimits.from_url(qp_url) if qp_url else s.storage_limits
            ),
            "max": max_q,
            "concurrent": concurrent,
            "adaptive": int(qp.get("adaptive-queries", 0) or 0),
        })
    s.query_params.sort(key=lambda t: t["duration"])
    s.index_timeout_sec = parse_go_duration(ch.get("index-timeout", "1m"))
    s.tag_table_path = str(ch.get("tag-table", "") or "")
    for cls in ("render", "find", "tags"):
        s.limiters[cls] = {
            "max": int(ch.get(f"{cls}-max-queries", 0)),
            "concurrent": int(
                ch.get(f"{cls}-concurrent-queries", 0)
                or ch.get(f"{cls}-max-concurrent", 0)
            ),
            # load-avg adaptive slot reserve (NewALimiter's n,
            # config.go FindAdaptiveQueries &c.)
            "adaptive": int(ch.get(f"{cls}-adaptive-queries", 0)),
        }

    s.user_limits = {
        user: dict(lim)
        for user, lim in (ch.get("user-limits", {}) or {}).items()
    }
    s.data_tables = list(raw.get("data-table", []))
    s.rules = _read_rollup(ch, s.data_tables, s.ignored)

    tags_cfg = raw.get("tags", {}) or {}
    s.tags_rules_path = str(tags_cfg.get("rules", "") or "")
    s.tags_input_file = str(tags_cfg.get("input-file", "") or "")
    s.tags_output_path = str(tags_cfg.get("output-file", "") or "")
    for key in tags_cfg:
        if key not in ("rules", "input-file", "output-file"):
            s.ignored.append(f"tags.{key}")

    prom = raw.get("prometheus", {}) or {}
    s.prometheus_lookback_delta = parse_go_duration(
        prom.get("lookback-delta", "5m")
    )
    for section in ("logging", "debug", "carbonlink", "sd", "metrics"):
        if section in raw:
            s.ignored.append(section)
    for key in ("listen", "external-url", "page-title",
                "remote-read-concurrency-limit"):
        if key in prom:
            s.ignored.append(f"prometheus.{key}")
    for key in ("listen", "pprof-listen", "max-cpu", "memory-return-interval"):
        if key in common:
            s.ignored.append(f"common.{key}")
    for key in ("url", "connect-timeout", "tls", "query-params", "index-table",
                "tagged-table", "tags-count-table"):
        if key in ch:
            s.ignored.append(f"clickhouse.{key}")
    return s


def load_settings_file(path: str) -> Settings:
    with open(path, "rb") as fh:
        return load_settings(fh.read().decode())


def engine_from_settings(spark, settings: Settings, points, path_index=None,
                         tagged_points=None, table_frames=None,
                         tags_index=None):
    """Wire Settings into a render Engine (plus FindCache when enabled).

    `table_frames` maps [[data-table]] `table` names to DataFrames; each
    configured data-table entry with a frame becomes a DataTableRoute
    (selectDataTable routing, targets.go:75-132). Entries without a
    frame are skipped (they name ClickHouse tables this deployment does
    not materialize)."""
    from .plans.findcache import FindCache
    from .render.pipeline import DataTableRoute, Engine

    cache = FindCache(settings.find_cache) if settings.find_cache else None
    tag_table = None
    if settings.tag_table_path:
        tag_table = (
            spark.read.parquet(settings.tag_table_path).select("path", "tags")
        )
    routes = []
    for t in settings.data_tables:
        frame = (table_frames or {}).get(t.get("table", ""))
        if frame is None:
            continue
        routes.append(DataTableRoute(
            points=frame,
            max_interval=int(parse_go_duration(t.get("max-interval", 0))),
            min_interval=int(parse_go_duration(t.get("min-interval", 0))),
            max_age=int(parse_go_duration(t.get("max-age", 0))),
            min_age=int(parse_go_duration(t.get("min-age", 0))),
            target_match_any=t.get("target-match-any") or None,
            target_match_all=t.get("target-match-all") or None,
        ))
    return Engine(
        data_tables=tuple(routes),
        spark=spark,
        points=points,
        path_index=path_index,
        tagged_points=tagged_points,
        tags_index=tags_index,
        rules=settings.rules,
        max_metrics_per_target=settings.max_metrics_per_target,
        wildcard_min_distance=settings.wildcard_min_distance,
        find_cache=cache,
        flags=settings.flags,
        blacklist=settings.blacklist,
        prefix=settings.prefix,
        tags_min_in_query=settings.tags_min_in_query,
        append_empty_series=settings.append_empty_series,
        index_reverse=settings.index_reverse,
        index_reverses=settings.index_reverses,
        internal_aggregation=settings.internal_aggregation,
        try_split_query=settings.try_split_query,
        max_node_to_split_index=settings.max_node_to_split_index,
        index_use_daily=settings.index_use_daily,
        date_mode=settings.date_mode,
        tagged_autocomplete_days=settings.tagged_autocomplete_days,
        tag_table=tag_table,
    )
