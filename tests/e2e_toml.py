"""Generic runner for the reference's e2e scenario corpus
(/root/reference/tests/*/test.toml, harness cmd/e2e-test/e2etesting.go).

The reference harness feeds carbon plaintext into carbon-clickhouse ->
ClickHouse and asserts find/tags/render golden outputs against a live
graphite-clickhouse. This runner reproduces the same scenario state on the
Spark engine:

- input points are resolved with the same time-spec grammar
  (DateParamToEpoch, helper/datetime/datetime.go:47-193) against a fixed
  aligned `rnow`;
- `delay` fields split the input stream into upload PARTS — every part
  gets a distinct write-version (carbon-clickhouse stamps rows with the
  upload wall-clock Timestamp), points inside one part share it
  (cmd/e2e-test/e2etesting.go:184-217 sendPlain);
- each part is passed through graphite_merge (the GraphiteMergeTree
  background-merge equivalent) because by check time ClickHouse has
  merged each uploaded part: times are rounded to the retention
  precision. Cross-part state stays UNMERGED (parts survive until
  OPTIMIZE), which is exactly what the agg_internal/agg_latest goldens
  encode: internal aggregation sees one row per (part, bucket) and
  aggregates them all, the unaggregated path Uniq-dedups the equal
  rounded times by version;
- a render_check's `optimize = [...]` runs the full cross-part merge
  (OPTIMIZE TABLE FINAL, e2etesting.go:356-376) — persistent from that
  check on;
- graphite-clickhouse config template knobs (internal-aggregation,
  feature flags, guards) are read from the scenario's .conf.tpl.
"""

from __future__ import annotations

import math
import re
import tomllib
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from graphite_clickhouse_spark.functions.datetime_spec import (
    date_param_to_epoch,
    interval_seconds,
)
from graphite_clickhouse_spark.operators.resample import AGG_DISPLAY_NAME
from graphite_clickhouse_spark.operators.rollup import Rules, graphite_merge
from graphite_clickhouse_spark.plans.autocomplete import tag_values_df
from graphite_clickhouse_spark.plans.tagged import FeatureFlags
from graphite_clickhouse_spark.render.pipeline import (
    Engine,
    RenderRequest,
    find_tree_rows,
)
from graphite_clickhouse_spark.render.reply import tagged_display_name
from graphite_clickhouse_spark.sources.tables import (
    build_daily_path_index,
    build_path_index,
)
from graphite_clickhouse_spark.streaming.ingest import (
    parse_carbon_lines,
    tags_map_from_path,
)

REFERENCE_TESTS = Path("/root/reference/tests")
RNOW = 1_704_154_000  # 10s-aligned fixed "now"
MERGE_NOW = RNOW + 60  # wall clock when merges/checks happen

_CONSOLIDATE_RE = re.compile(r"consolidateBy\(\s*['\"]([^'\"]*)['\"]\s*\)")


def _go_duration_seconds(s) -> int:
    if isinstance(s, (int, float)):
        return int(s)
    total, sign = 0, 1
    for num, unit in re.findall(r"(\d+)(h|m|s|ms)", s):
        total += int(num) * {"h": 3600, "m": 60, "s": 1, "ms": 0}[unit]
    return sign * total


@dataclass
class TemplateKnobs:
    name: str
    internal_aggregation: bool = True
    append_empty_series: bool = False
    use_carbon_behaviour: bool = False
    dont_match_missing_tags: bool = False
    tags_min_in_query: int = 0
    wildcard_min_distance: int = 0
    index_use_daily: bool = False
    date_format: str = "utc"


def template_knobs(scenario_dir: Path, template: str) -> TemplateKnobs:
    txt = (scenario_dir / template).read_text()

    def _bool(key: str, default: bool) -> bool:
        m = re.search(rf"^\s*{re.escape(key)}\s*=\s*(true|false)", txt, re.M)
        return m.group(1) == "true" if m else default

    def _int(key: str, default: int) -> int:
        m = re.search(rf"^\s*{re.escape(key)}\s*=\s*(\d+)", txt, re.M)
        return int(m.group(1)) if m else default

    def _str(key: str, default: str) -> str:
        m = re.search(rf'^\s*{re.escape(key)}\s*=\s*"([^"]*)"', txt, re.M)
        return m.group(1) if m else default

    return TemplateKnobs(
        name=template,
        internal_aggregation=_bool("internal-aggregation", True),
        append_empty_series=_bool("append-empty-series", False),
        use_carbon_behaviour=_bool("use-carbon-behaviour", False),
        dont_match_missing_tags=_bool("dont-match-missing-tags", False),
        tags_min_in_query=_int("tags-min-in-query", 0),
        wildcard_min_distance=_int("wildcard-min-distance", 0),
        index_use_daily=_bool("index-use-daily", False),
        date_format=_str("date-format", "utc"),
    )


@dataclass
class Scenario:
    name: str
    precision: int
    cfg: dict
    templates: list[TemplateKnobs] = field(default_factory=list)

    @property
    def rules(self) -> Rules:
        # every scenario here uses the shared rollup fixture
        xml = (REFERENCE_TESTS / "clickhouse/rollup/rollup.xml").read_text()
        return Rules.from_xml(xml)


def load_scenario(name: str) -> Scenario:
    # most scenarios live under tests/; regression dirs (issues/daytime,
    # the GH #184 day-boundary corpus) sit at the repo root
    d = REFERENCE_TESTS / name
    if not d.exists():
        d = REFERENCE_TESTS.parent / name
    cfg = tomllib.loads((d / "test.toml").read_text())["test"]
    precision = _go_duration_seconds(cfg.get("precision", "1s"))
    templates = [
        template_knobs(d, g["template"]) for g in cfg.get("graphite_clickhouse", [])
    ]
    return Scenario(name=name, precision=precision, cfg=cfg, templates=templates)


def resolve_ts(spec: str | int, precision: int) -> int:
    if isinstance(spec, int):
        return spec
    return date_param_to_epoch(str(spec), RNOW, precision)


def input_parts(cfg: dict, precision: int) -> list[tuple[int, list[str]]]:
    """-> [(version, carbon lines)] split at `delay` points (sendPlain)."""
    parts: list[tuple[int, list[str]]] = []
    version, lines = 1, []
    for block in cfg.get("input", []):
        name = block["name"]
        for p in block.get("points", []):
            ts = resolve_ts(p["time"], precision)
            lines.append(f"{name} {p['value']} {ts}")
            if p.get("delay"):
                parts.append((version, lines))
                version, lines = version + 1, []
    if lines:
        parts.append((version, lines))
    return parts


class ScenarioEngine:
    """Engine + mutable storage state (optimize switches to fully merged)."""

    def __init__(self, spark, scenario: Scenario, knobs: TemplateKnobs):
        self.spark = spark
        self.scenario = scenario
        self.knobs = knobs
        self.rules = scenario.rules
        parts = []
        for version, lines in input_parts(scenario.cfg, scenario.precision):
            raw = parse_carbon_lines(
                spark.createDataFrame([(l,) for l in lines], "value string"),
                version=version,
            )
            parts.append(graphite_merge(raw, self.rules, MERGE_NOW))
        pts = parts[0]
        for p in parts[1:]:
            pts = pts.unionByName(p)
        self.points = pts.cache()
        self.optimized = False
        self._build_engine()

    def _build_engine(self):
        pts = self.points
        plain = pts.filter(~F.col("path").contains("?"))
        tagged = pts.filter(F.col("path").contains("?")).withColumn(
            "tags", tags_map_from_path("path")
        )
        k = self.knobs
        # index-use-daily: one index tree per day a path received points,
        # find bounded by the request window (finder/index.go:151-161)
        idx = (
            build_daily_path_index(plain)
            if k.index_use_daily
            else build_path_index(plain.select("path"))
        )
        self.engine = Engine(
            spark=self.spark,
            points=plain,
            path_index=idx,
            tagged_points=tagged,
            rules=self.rules,
            index_use_daily=k.index_use_daily,
            date_mode=k.date_format,
            internal_aggregation=k.internal_aggregation,
            append_empty_series=k.append_empty_series,
            tags_min_in_query=k.tags_min_in_query,
            wildcard_min_distance=k.wildcard_min_distance,
            flags=FeatureFlags(
                use_carbon_behaviour=k.use_carbon_behaviour,
                dont_match_missing_tags=k.dont_match_missing_tags,
            ),
        )

    def optimize(self):
        """OPTIMIZE TABLE FINAL: merge ALL parts into one
        (e2etesting.go:356-376; persistent for later checks)."""
        if self.optimized:
            return
        self.points = graphite_merge(self.points, self.rules, MERGE_NOW).cache()
        self.optimized = True
        self._build_engine()


# ---------------------------------------------------------------------------
# check execution


def _http_error_string(exc: Exception) -> str:
    status = getattr(exc, "http_status", None)
    if status is None:
        status = 403 if "metrics per target limit exceeded" in str(exc) else 400
    return f"{status}: {exc}"


def run_render_check(se: ScenarioEngine, check: dict, precision: int):
    if check.get("optimize"):
        se.optimize()
    from_ts = resolve_ts(check["from"], precision)
    until_ts = resolve_ts(check["until"], precision)
    mdp = int(check.get("max_data_points", 0)) or 1048576
    consolidate = None
    for ff in check.get("filtering_functions", []):
        m = _CONSOLIDATE_RE.search(ff)
        if m:
            consolidate = m.group(1)

    def _run():
        rows = []
        for target in check["targets"]:
            df = se.engine.render(
                RenderRequest(
                    target,
                    from_ts,
                    until_ts,
                    max_data_points=mdp,
                    consolidate_by=consolidate,
                )
            )
            for r in df.collect():
                vals = [float("nan") if v is None else v for v in r.values]
                fn = r.function
                if not all(math.isnan(v) for v in vals):
                    fn = AGG_DISPLAY_NAME.get(fn, fn)
                rows.append(
                    {
                        "name": tagged_display_name(r.path),
                        "path": target,
                        "consolidation": fn,
                        "start": r.start,
                        "stop": r.stop,
                        "step": r.step,
                        "values": vals,
                    }
                )
        return rows

    if check.get("error_regexp"):
        pat = re.compile(check["error_regexp"])
        try:
            _run()
        except ValueError as exc:
            assert pat.search(_http_error_string(exc)), (
                f"error mismatch: want {check['error_regexp']!r}, "
                f"got {_http_error_string(exc)!r}"
            )
            return
        raise AssertionError(f"expected error {check['error_regexp']!r}, got result")

    got = sorted(_run(), key=lambda r: (r["name"], r["path"]))
    # path/consolidation are optional in the goldens: v2_pb/pickle check
    # blocks omit fields their wire format does not carry
    # (cmd/e2e-test/checks.go compares per-format structs)
    want = []
    for res in check.get("result", []):
        want.append(
            {
                "name": res["name"],
                "path": res.get("path"),
                "consolidation": res.get("consolidation"),
                "start": resolve_ts(res["start"], precision),
                "stop": resolve_ts(res["stop"], precision),
                "step": res["step"],
                "values": [float(v) for v in res["values"]],
            }
        )
    want.sort(key=lambda r: (r["name"], r["path"] or ""))
    assert [r["name"] for r in got] == [r["name"] for r in want], (
        f"series set mismatch:\n got {[r['name'] for r in got]}\n"
        f"want {[r['name'] for r in want]}"
    )
    for g, w in zip(got, want):
        for k in ("path", "consolidation", "start", "stop", "step"):
            if k in ("path", "consolidation") and w[k] is None:
                continue
            assert g[k] == w[k], f"{w['name']}: {k} {g[k]} != {w[k]}\n{g}\n{w}"
        assert len(g["values"]) == len(w["values"]), (
            f"{w['name']}: length {len(g['values'])} != {len(w['values'])}"
            f"\n{g['values']}\n{w['values']}"
        )
        for i, (gv, wv) in enumerate(zip(g["values"], w["values"])):
            ok = (
                (math.isnan(gv) and math.isnan(wv))
                or (not math.isnan(gv) and not math.isnan(wv)
                    and math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9))
            )
            assert ok, f"{w['name']}: values[{i}] {gv} != {wv}\n{g['values']}\n{w['values']}"


def run_find_check(se: ScenarioEngine, check: dict, precision: int):
    query = check["query"]
    from_ts = resolve_ts(check["from"], precision) if "from" in check else 0
    until_ts = resolve_ts(check["until"], precision) if "until" in check else 0

    def _run():
        return find_tree_rows(se.engine, query, from_ts, until_ts)

    if check.get("error_regexp"):
        pat = re.compile(check["error_regexp"])
        try:
            _run()
        except ValueError as exc:
            assert pat.search(_http_error_string(exc)), (
                f"error mismatch: want {check['error_regexp']!r}, "
                f"got {_http_error_string(exc)!r}"
            )
            return
        raise AssertionError(f"expected error {check['error_regexp']!r}, got result")

    got = sorted((p, leaf) for p, leaf in _run())
    want = sorted((r["path"], bool(r["is_leaf"])) for r in check.get("result", []))
    assert got == want, f"find {query!r}:\n got {got}\nwant {want}"


def run_tags_check(se: ScenarioEngine, check: dict, precision: int):
    """tags_checks drive /tags/autoComplete/values with the client query
    grammar `tag;expr1;expr2` (helper/client/tags.go)."""
    query = check["query"]
    args = query.split(";")
    tag, exprs = args[0], [a for a in args[1:] if a]
    limit = int(check.get("limits", 0)) or 10000

    def _run():
        df = tag_values_df(
            se.engine.tags_index, tag, exprs, limit=limit, flags=se.engine.flags
        )
        return [r.value for r in df.collect()]

    if check.get("error_regexp"):
        pat = re.compile(check["error_regexp"])
        try:
            _run()
        except ValueError as exc:
            assert pat.search(_http_error_string(exc)), (
                f"error mismatch: want {check['error_regexp']!r}, "
                f"got {_http_error_string(exc)!r}"
            )
            return
        raise AssertionError(f"expected error {check['error_regexp']!r}, got result")

    got = _run()
    assert got == list(check.get("result", [])), (
        f"tags {query!r}:\n got {got}\nwant {check.get('result')}"
    )
