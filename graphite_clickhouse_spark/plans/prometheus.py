"""Prometheus adapter — label matchers over the graphite tag model
(SURVEY.md §3.4; reference prometheus/ package).

The reference embeds the Prometheus engine and implements its
storage.Querier by translating label matchers into TaggedTerms
(prometheus/matcher.go:15-77), running the normal tagged finder, and
serving series through the same fetch path with
maxDataPoints = 1000 * (until - from) / step
(prometheus/querier_select.go:95-147). LabelNames/LabelValues are direct
tag queries (prometheus/querier.go:35-108).

Here the PromQL engine itself is out of scope (no public pure-Python
PromQL evaluator is baked into this container); what we implement is the
storage layer it would sit on: matcher -> predicate compilation, series
selection, and label introspection — all as DataFrame plans over the
tagged table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tagged import TaggedTerm, tagged_predicate

#: prompb.LabelMatcher_Type / labels.MatchType -> tagged op
#: (prometheus/matcher.go:15-27); graphite spells NRE as '!=~'
MATCH_TYPE_TO_OP = {
    "=": "=",
    "!=": "!=",
    "=~": "=~",
    "!~": "!=~",
}


@dataclass
class LabelMatcher:
    name: str
    op: str  # "=", "!=", "=~", "!~"
    value: str


def parse_promql_selector(sel: str) -> list[LabelMatcher]:
    """Parse a PromQL instant-vector selector — `name{k="v",k2=~"re"}`,
    `{k!="v"}`, or a bare `name` — into LabelMatchers (the /api/v1/series
    match[] parameter shape). Uses the PromQL parser, so string escapes
    and non-ASCII values read exactly as in a query; anything but a plain
    selector (offset, `@`, range, function, operator) is a ValueError."""
    from .promql import VectorSelector, parse_promql

    node = parse_promql(sel)
    if type(node) is not VectorSelector or node.offset or node.at_ts is not None:
        raise ValueError(f"invalid selector: {sel!r}")
    return node.matchers


def terms_from_matchers(matchers: list[LabelMatcher]) -> list[TaggedTerm]:
    """prometheus/matcher.go:29-77: each matcher becomes a TaggedTerm.
    The special graphite bridge (`{graphite="a.*.b"}` -> plain glob find,
    finder/plain_from_tagged.go:16-65) is handled by the caller."""
    terms = []
    for m in matchers:
        if m.op not in MATCH_TYPE_TO_OP:
            raise ValueError(f"unknown matcher type {m.op!r}")
        terms.append(TaggedTerm(key=m.name, op=MATCH_TYPE_TO_OP[m.op], value=m.value))
    # same Eq < Match < Ne < NotMatch cost order the reference sorts by
    # (finder/tagged.go:51-76) — semantically inert in Spark (Catalyst
    # reorders conjuncts) but keeps plans/logs comparable.
    order = {"=": 0, "=~": 1, "!=": 2, "!=~": 3}
    terms.sort(key=lambda t: (t.key != "__name__", order[t.op]))
    return terms


def decoded_tags(col: str = "tags"):
    """The PROMETHEUS view of a tagged path URL-decodes label keys and
    values — prometheus/labels.go:28-50 runs url.Parse over the stored
    path, so `instance=telegraf.default%3A9273` surfaces as
    `instance="telegraf.default:9273"` (and `+` decodes to space, the
    url.Values rule). Graphite surfaces and LabelValues/LabelNames stay
    RAW (querier.go:34-46 splits the stored Tag1 without decoding), and
    matcher FILTERING runs on raw tags too — only rendered label sets
    decode. Undecodable %-sequences pass through unchanged (upstream
    falls back to the raw path on parse errors)."""
    return F.expr(
        f"map_from_arrays("
        f"transform(map_keys({col}), k -> coalesce(try_url_decode(k), k)), "
        f"transform(map_values({col}), v -> coalesce(try_url_decode(v), v)))"
    )


def select_series(tagged: DataFrame, matchers: list[LabelMatcher]) -> DataFrame:
    """storage.Querier.Select: matching series paths (distinct)."""
    pred = tagged_predicate(terms_from_matchers(matchers), F.col("tags"))
    return tagged.filter(pred).select("path").distinct()


# ClickHouse's Date type tops out at 2149-06-06 (querier_select.go:66);
# timestamps at/past it are treated as absent, not clamped
_CH_DATE_MAX_SEC = 5662310400


def querier_time_range(
    start: int | None,
    end: int | None,
    days: int,
    now_ts: int,
    mint: int | None = None,
    maxt: int | None = None,
) -> tuple[int, int]:
    """Querier.timeRange (prometheus/querier_select.go:63-92): explicit
    start/end win when present and inside ClickHouse's Date range; else
    the querier's mint/maxt under the same validity rule; else
    (now - tagged-autocomplete-days, now). All values unix seconds."""

    def _valid(ts):
        return ts is not None and 0 < ts < _CH_DATE_MAX_SEC

    until = end if _valid(end) else (maxt if _valid(maxt) else now_ts)
    from_ = start if _valid(start) else (
        mint if _valid(mint) else until - days * 86400
    )
    return from_, until


def tagged_window_range(
    tagged: DataFrame, from_ts: int, until_ts: int, date_mode: str = "utc"
) -> DataFrame:
    """Bound the tags table to an explicit [from, until] second range via
    its date partition column (the window the querier computes in
    timeRange). The reference's tag table is always Date-bounded at day
    granularity (autocomplete.go dateString); a date-less frame gets the
    equivalent day-rounded bound on `time` instead, and a frame with
    neither column passes through."""
    if "date" not in tagged.columns:
        if "time" in tagged.columns:
            lo = (from_ts // 86400) * 86400
            hi = (until_ts // 86400 + 1) * 86400 - 1
            return tagged.filter(F.col("time").between(lo, hi))
        return tagged
    from ..functions.date import date_bounds

    lo, hi = date_bounds(from_ts, until_ts, date_mode)
    return tagged.filter(F.col("date").between(lo, hi))


def series_label_sets(
    tagged: DataFrame,
    selectors: list[list[LabelMatcher]],
    days: int = 0,
    now_ts: int | None = None,
    from_ts: int | None = None,
    until_ts: int | None = None,
) -> DataFrame:
    """/api/v1/series: union of series matching ANY selector, one row per
    distinct series with its full label map (Prometheus Series() over the
    tagged table). With explicit from_ts/until_ts (the API's optional
    start/end), the window follows them instead of the days default."""
    from .autocomplete import tagged_window

    if from_ts is not None and until_ts is not None:
        base = tagged_window_range(tagged, from_ts, until_ts)
    else:
        base = tagged_window(tagged, days, now_ts)
    out: DataFrame | None = None
    for matchers in selectors:
        pred = tagged_predicate(terms_from_matchers(matchers), F.col("tags"))
        df = base.filter(pred).select("path", "tags")
        out = df if out is None else out.unionByName(df)
    if out is None:
        out = base.select("path", "tags")
    return (
        out.dropDuplicates(["path"])
        .select("path", decoded_tags("tags").alias("tags"))
        .orderBy("path")
    )


def label_names(
    tagged: DataFrame,
    matchers: list[LabelMatcher] | None = None,
    days: int = 0,
    now_ts: int | None = None,
) -> DataFrame:
    """LabelNames (prometheus/querier.go:35-70) — distinct tag keys of
    matching series; Prometheus spells the metric-name label __name__, so
    no name-aliasing here (unlike graphite autocomplete). days/now_ts
    apply the tagged-autocomplete-days scan bound (querier.go:40)."""
    from .autocomplete import tagged_window

    df = tagged_window(tagged, days, now_ts)
    if matchers:
        df = df.filter(tagged_predicate(terms_from_matchers(matchers), F.col("tags")))
    return (
        df.select(F.explode(F.map_keys("tags")).alias("value")).distinct().orderBy("value")
    )


def label_values(
    tagged: DataFrame,
    label: str,
    matchers: list[LabelMatcher] | None = None,
    days: int = 0,
    now_ts: int | None = None,
) -> DataFrame:
    """LabelValues (prometheus/querier.go:72-108); days/now_ts is the
    tagged-autocomplete-days bound (querier.go:77)."""
    from .autocomplete import tagged_window

    df = tagged_window(tagged, days, now_ts)
    if matchers:
        df = df.filter(tagged_predicate(terms_from_matchers(matchers), F.col("tags")))
    return (
        df.select(F.col("tags").getItem(label).alias("value"))
        .filter(F.col("value").isNotNull())
        .distinct()
        .orderBy("value")
    )


def prom_max_data_points(from_ts: int, until_ts: int, step: int) -> int:
    """prometheus/querier_select.go:95-147."""
    return 1000 * max(0, until_ts - from_ts) // max(1, step)


@dataclass
class PlainFromTagged:
    """Parsed `graphite{target="a.*.b", node1="host", rename="..."}`
    special form (finder/plain_from_tagged.go:16-65): a Prometheus
    selector that queries PLAIN graphite metrics through the tag API."""

    target: str
    metric_name: str = "graphite"
    node_labels: dict[int, str] | None = None


def plain_from_tagged(terms) -> PlainFromTagged | None:
    """makePlainFromTagged (plain_from_tagged.go:23-65): recognized when
    the matchers include __name__="graphite" (Eq) and a non-empty
    target="glob" (Eq). nodeN="label" matchers map path node N to a
    Prometheus label; rename="m" overrides the synthetic metric name.
    Returns None when the selector is a normal tagged query."""
    is_graphite = any(
        t.key == "__name__" and t.op == "=" and t.value == "graphite" for t in terms
    )
    target = next(
        (t.value for t in terms if t.key == "target" and t.op == "=" and t.value),
        "",
    )
    if not is_graphite or not target:
        return None
    spec = PlainFromTagged(target=target)
    node_labels: dict[int, str] = {}
    for t in terms:
        if t.op != "=" or not t.value:
            continue
        if t.key == "rename":
            spec.metric_name = t.value
        elif t.key.startswith("node") and t.key[4:].isdigit():
            node_labels[int(t.key[4:])] = t.value
    spec.node_labels = node_labels or None
    return spec


def plain_display_names(paths: DataFrame, spec: PlainFromTagged,
                        path_col: str = "path") -> DataFrame:
    """Abs (plain_from_tagged.go:85-124): each found plain path becomes a
    tagged display name `name?metric=<path>&label=<node>...` with labels
    sorted by name and URL-escaped (QueryEscape = quote_plus).

    Pure JVM expressions: split + element_at + url_encode — no Python in
    the per-row path."""
    from urllib.parse import quote_plus

    parts = F.split(F.col(path_col), "[.]")
    labels: list[tuple[str, object]] = [("metric", F.col(path_col))]
    for n, label in (spec.node_labels or {}).items():
        # element_at is 1-based; missing nodes yield NULL and are skipped
        labels.append((label, F.element_at(parts, n + 1)))
    labels.sort(key=lambda kv: kv[0])
    pieces = [
        F.when(
            v.isNotNull(),
            F.concat(F.lit(quote_plus(k) + "="), F.url_encode(v)),
        )
        for k, v in labels
    ]
    display = F.concat(
        F.lit(spec.metric_name + "?"),
        F.array_join(F.array(*pieces), "&"),  # array_join drops NULLs
    )
    return paths.select(display.alias(path_col))


def select_series_engine(engine, matchers: list[LabelMatcher]) -> DataFrame:
    """Full Select path incl. the plain-graphite bridge (finder.go:135-145):
    `graphite{target=...}` routes through the PLAIN finder (globs, reversed
    index, split — everything Engine.find_paths does) and synthesizes
    tagged display names; anything else is a normal tagged select."""
    terms = terms_from_matchers(matchers)
    spec = plain_from_tagged(terms)
    if spec is not None:
        return plain_display_names(engine.find_paths(spec.target), spec)
    return select_series(engine.tagged_points, matchers)
