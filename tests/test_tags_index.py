"""Name questions are answered from the index tables.

Autocomplete, seriesByTag resolution and the Prometheus label/series
endpoints read `Engine.tags_index` (one row per tagged series per day),
never the tagged points; find and /metrics/index.json read the raw daily
`path_index`, each ending in its own distinct. The store here is built
through the real ingest path (`IngestJob.write_batch`) from two
overlapping batches over two days, so both index tables hold repeated
rows, and served by `__main__.build_engine`, the `--data` wiring.
`compact` and `optimize` merge both index tables to one row per
(path, date), and optimize's TTL drops their expired date partitions.
"""

import copy
import json
import time
import urllib.parse
import urllib.request

import pytest

from graphite_clickhouse_spark.__main__ import build_engine
from graphite_clickhouse_spark.config import Settings
from graphite_clickhouse_spark.plans.tagged import FeatureFlags
from graphite_clickhouse_spark.render.pipeline import find_tree_rows
from graphite_clickhouse_spark.server import serve_background
from graphite_clickhouse_spark.streaming.ingest import IngestJob, parse_carbon_lines

# two whole days inside the 7-day autocomplete window, whatever the hour
DAY2 = int(time.time()) // 86400 * 86400 - 86400 + 3600
DAY1 = DAY2 - 86400

PLAIN = ["a.b", "a.b-c", "a.b.x", "srv.h1.cpu", "srv.h2.cpu"]
TAGGED = [
    "cpu_usage;dc=x;host=h1;mode=user",
    "cpu_usage;dc=x;host=h2;mode=idle",
    "net_bytes_total;dc=x;host=h1",
    "net_bytes_total;dc=y;host=h3",
    # duplicate tag key: the last occurrence wins (tags_map_from_path)
    "m?a=1&a=2",
]


def _write(spark, job, names, ts):
    lines = [f"{n} 1.0 {ts}" for n in names]
    job.write_batch(parse_carbon_lines(
        spark.createDataFrame([(x,) for x in lines], "value string"),
        version=1,
    ))


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("store") / "data")
    job = IngestJob(base, version=1)
    # batch 1: every series on day 1; batch 2 repeats them on day 1
    # (overlap) and adds day 2, so index rows repeat within a date too
    _write(spark, job, PLAIN + TAGGED, DAY1)
    _write(spark, job, PLAIN + TAGGED, DAY1 + 60)
    _write(spark, job, PLAIN + TAGGED, DAY2)
    return base


@pytest.fixture(scope="module")
def engine(spark, store):
    return build_engine(spark, Settings(), data_dir=store)


@pytest.fixture(scope="module")
def servers(spark, store, engine):
    """(index_url, points_url): the same store served with tags_index
    read from tags_index/ and with tags_index = tagged_points."""
    over_points = build_engine(spark, Settings(), data_dir=store)
    over_points.frame_loader = None  # keep the substituted frame
    over_points.tags_index = over_points.tagged_points
    started = [serve_background(engine), serve_background(over_points)]
    yield tuple(url for _srv, url in started)
    for srv, _url in started:
        srv.shutdown()


def get_json(base: str, path: str, **params):
    query = urllib.parse.urlencode(params, doseq=True)
    with urllib.request.urlopen(f"{base}{path}?{query}", timeout=120) as resp:
        assert resp.status == 200
        return json.loads(resp.read())


class TestTagsIndexEquivalence:
    """Every tag answer over the raw tags_index equals the answer over
    the tagged points it indexes."""

    CASES = [
        ("/tags/autoComplete/tags", {}),
        ("/tags/autoComplete/tags", {"expr": ["dc=x"]}),
        ("/tags/autoComplete/tags", {"tagPrefix": "h"}),
        ("/tags/autoComplete/values", {"tag": "host"}),
        ("/tags/autoComplete/values", {"tag": "name"}),
        ("/tags/autoComplete/values", {"tag": "a"}),
        ("/tags/autoComplete/values",
         {"tag": "host", "expr": ["name=cpu_usage"], "valuePrefix": "h"}),
        ("/api/v1/labels", {}),
        ("/api/v1/labels", {"match[]": ['cpu_usage{dc="x"}']}),
        ("/api/v1/label/host/values", {}),
        ("/api/v1/label/a/values", {}),
        ("/api/v1/label/__name__/values", {"match[]": ['{dc="y"}']}),
        ("/api/v1/series", {"match[]": ["cpu_usage", '{host="h1"}']}),
        ("/api/v1/series", {"match[]": ["m"]}),
        ("/api/v1/series",
         {"match[]": ["net_bytes_total"], "start": str(DAY2),
          "end": str(DAY2 + 60)}),
    ]

    @pytest.mark.parametrize("path,params", CASES)
    def test_http_answers_match(self, servers, path, params):
        index_url, points_url = servers
        params = {**params, "noCache": "1"}
        got = get_json(index_url, path, **params)
        assert got == get_json(points_url, path, **params)
        data = got["data"] if isinstance(got, dict) else got
        assert data, "an empty answer would make the comparison vacuous"
        if isinstance(data, list) and data and isinstance(data[0], str):
            assert len(data) == len(set(data))  # raw index rows deduped

    def test_known_answers(self, servers):
        index_url, _ = servers
        got = get_json(index_url, "/tags/autoComplete/values",
                       tag="host", noCache="1")
        assert got == ["h1", "h2", "h3"]
        got = get_json(index_url, "/api/v1/label/a/values", noCache="1")
        assert got["data"] == ["2"]
        series = get_json(index_url, "/api/v1/series",
                          **{"match[]": ["net_bytes_total"]})["data"]
        assert sorted(s["host"] for s in series) == ["h1", "h3"]

    @pytest.mark.parametrize("target", [
        "seriesByTag('name=cpu_usage')",
        "seriesByTag('dc=x')",
        "seriesByTag('host=~h[13]', 'name!=cpu_usage')",
        "seriesByTag('a=2')",
    ])
    def test_series_by_tag_resolution(self, engine, target):
        over_points = copy.copy(engine)
        over_points.tags_index = engine.tagged_points
        got = [r.path for r in engine.find_paths(target).collect()]
        want = [r.path for r in over_points.find_paths(target).collect()]
        assert got and sorted(got) == sorted(want)
        assert len(got) == len(set(got))


class TestAutocompleteFlags:
    """The HTTP autocomplete handlers match expressions under the
    engine's feature flags, as the seriesByTag finder does: with
    use-carbon-behaviour, `mode=` selects series WITHOUT a mode tag."""

    @pytest.fixture(scope="class")
    def carbon_url(self, spark, store):
        eng = build_engine(spark, Settings(), data_dir=store)
        eng.flags = FeatureFlags(use_carbon_behaviour=True)
        srv, url = serve_background(eng)
        yield url
        srv.shutdown()

    def test_values(self, carbon_url):
        got = get_json(carbon_url, "/tags/autoComplete/values",
                       tag="host", expr="mode=", noCache="1")
        assert got == ["h1", "h3"]  # the net_bytes_total hosts

    def test_tags(self, carbon_url):
        got = get_json(carbon_url, "/tags/autoComplete/tags",
                       expr="mode=", noCache="1")
        assert got == ["a", "dc", "host", "name"]


class TestPathIndexConsumers:
    def test_index_json_lists_each_leaf_once(self, servers):
        index_url, _ = servers
        got = get_json(index_url, "/metrics/index.json")
        assert got == sorted(PLAIN)

    def test_find_keeps_spark_byte_order(self, engine):
        # stored rows `a.b` (leaf) < `a.b-c` (leaf) < `a.b.` (node) in
        # byte order; sorting after the '.' is stripped would move the
        # node before `a.b-c`
        assert find_tree_rows(engine, "a.*") == [
            ("a.b", True), ("a.b-c", True), ("a.b", False),
        ]


class TestServedPlans:
    """A find collects its distinct index rows in two Spark jobs and
    sorts them on the driver; the served autocomplete plan scans the tag
    index, not the points."""

    def test_find_runs_at_most_two_jobs(self, spark, engine):
        sc = spark.sparkContext
        group = "tags-index-find-jobs"
        sc.setJobGroup(group, group)
        try:
            rows = find_tree_rows(engine, "srv.*.*")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows == [("srv.h1.cpu", True), ("srv.h2.cpu", True)]
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 1 <= len(jobs) <= 2, jobs

    def test_autocomplete_scans_tags_index(self, servers, monkeypatch):
        from graphite_clickhouse_spark import server
        from graphite_clickhouse_spark.plans import autocomplete

        plans = []

        def capture(fn):
            def wrapped(*args, **kwargs):
                df = fn(*args, **kwargs)
                plans.append(df._jdf.queryExecution().executedPlan().toString())
                return df
            return wrapped

        monkeypatch.setattr(server, "tag_values_df",
                            capture(server.tag_values_df))
        monkeypatch.setattr(autocomplete, "tag_keys_df",
                            capture(autocomplete.tag_keys_df))
        index_url, _ = servers
        get_json(index_url, "/tags/autoComplete/values", tag="host",
                 noCache="1")
        get_json(index_url, "/tags/autoComplete/tags", noCache="1")
        assert len(plans) == 2
        for plan in plans:
            assert "/data/tags_index" in plan and "/points" not in plan, plan


def _parquet_files(table_dir):
    """{date partition: parquet file count} of a stored table."""
    import os

    return {
        d: len([f for f in os.listdir(os.path.join(table_dir, d))
                if f.endswith(".parquet")])
        for d in os.listdir(table_dir) if d.startswith("date=")
    }


class TestIndexMaintenance:
    """Each micro-batch appends index rows for every series it touched;
    compact and optimize fold them like ClickHouse's ReplacingMergeTree
    merge, and optimize's TTL takes expired series out of every name
    answer."""

    def test_compact_merges_index_rows(self, spark, tmp_path):
        base = str(tmp_path / "data")
        job = IngestJob(base, version=1)
        for i in range(3):
            _write(spark, job, PLAIN + TAGGED, DAY1 + 60 * i)
        _write(spark, job, TAGGED, DAY2)
        before = build_engine(spark, Settings(), data_dir=base)
        targets = ["seriesByTag('dc=x')", "seriesByTag('a=2')"]
        want = [sorted(r.path for r in before.find_paths(t).collect())
                for t in targets]
        want_find = find_tree_rows(before, "srv.*.*")
        nodes = job.read_path_index(spark).distinct().count()
        assert job.read_tags_index(spark).count() == 4 * len(TAGGED)

        job.compact(spark)
        assert job.read_tags_index(spark).count() == 2 * len(TAGGED)
        assert job.read_path_index(spark).count() == nodes
        for table in (job.tags_dir, job.index_dir):
            files = _parquet_files(table)
            assert files and set(files.values()) == {1}, (table, files)
        after = build_engine(spark, Settings(), data_dir=base)
        assert [sorted(r.path for r in after.find_paths(t).collect())
                for t in targets] == want
        assert find_tree_rows(after, "srv.*.*") == want_find

    def test_optimize_ttl_drops_expired_index_partitions(self, spark,
                                                         tmp_path):
        base = str(tmp_path / "data")
        job = IngestJob(base, version=1)
        # day 0 (time 60) expires; day 3 (time 260000) stays
        _write(spark, job, ["old.m", "old;dc=x"], 60)
        _write(spark, job, ["new.m", "new;dc=x"], 260_000)
        job.optimize(spark, Settings().rules, now_ts=300_000,
                     drop_older_than_sec=200_000)
        for table in (job.tags_dir, job.index_dir):
            assert set(_parquet_files(table)) == {"date=1970-01-04"}
        engine = build_engine(spark, Settings(), data_dir=base)
        got = engine.find_paths("seriesByTag('dc=x')").collect()
        assert [r.path for r in got] == ["new?dc=x"]
        assert find_tree_rows(engine, "*") == [("new", False)]
        srv, url = serve_background(engine)
        try:
            def series(start, end):
                return get_json(url, "/api/v1/series", start=str(start),
                                end=str(end), noCache="1",
                                **{"match[]": ['{dc="x"}']})["data"]

            assert series(30, 90) == []
            assert series(259_000, 261_000) == [
                {"__name__": "new", "dc": "x"}]
        finally:
            srv.shutdown()
