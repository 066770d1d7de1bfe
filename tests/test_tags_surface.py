"""Autocomplete tags/values, prometheus label adapter, tagger batch job."""

import pytest
from pyspark.sql import functions as F

from graphite_clickhouse_spark.pipeline.tagger import apply_rules, parse_rules, tagged_table
from graphite_clickhouse_spark.plans.autocomplete import (
    autocomplete_tags,
    tag_keys_df,
    tag_values_df,
)
from graphite_clickhouse_spark.plans.prometheus import (
    LabelMatcher,
    label_names,
    label_values,
    prom_max_data_points,
    select_series,
    terms_from_matchers,
)


@pytest.fixture(scope="module")
def tagged(spark):
    rows = [
        ("cpu?env=prod&host=h1", {"__name__": "cpu", "env": "prod", "host": "h1"}),
        ("cpu?env=dev&host=h2", {"__name__": "cpu", "env": "dev", "host": "h2"}),
        ("mem?env=prod&host=h1&rack=r9", {"__name__": "mem", "env": "prod", "host": "h1", "rack": "r9"}),
    ]
    return spark.createDataFrame(rows, "path string, tags map<string,string>")


class TestAutocomplete:
    def test_tag_keys_all(self, tagged):
        got = [r.value for r in tag_keys_df(tagged).collect()]
        assert got == ["env", "host", "name", "rack"]

    def test_tag_keys_filtered_by_expr_drops_used(self, tagged):
        # env=prod matches cpu#1 + mem; 'env' is a used tag -> excluded
        got = [r.value for r in tag_keys_df(tagged, exprs=["env=prod"]).collect()]
        assert got == ["host", "name", "rack"]

    def test_tag_keys_prefix(self, tagged):
        got = [r.value for r in tag_keys_df(tagged, tag_prefix="r").collect()]
        assert got == ["rack"]

    def test_name_injected(self, tagged):
        # keys from a prefix that excludes name, but 'name' matches prefix ''
        assert "name" in autocomplete_tags(tagged)

    def test_values(self, tagged):
        got = [r.value for r in tag_values_df(tagged, "host").collect()]
        assert got == ["h1", "h2"]

    def test_values_with_expr_and_prefix(self, tagged):
        got = [
            r.value
            for r in tag_values_df(tagged, "host", exprs=["env=prod"], value_prefix="h").collect()
        ]
        assert got == ["h1"]

    def test_values_of_name(self, tagged):
        got = [r.value for r in tag_values_df(tagged, "name").collect()]
        assert got == ["cpu", "mem"]

    def test_autocomplete_days_window(self, spark):
        """tagged-autocomplete-days bounds the scan to [now-days, now]
        (autocomplete.go:302,586): a tag row last written outside the
        window disappears from keys and values."""
        import datetime

        now = 1_704_154_000  # 2024-01-02 UTC
        rows = [
            ("cpu?env=prod", {"__name__": "cpu", "env": "prod"},
             datetime.date(2024, 1, 2)),
            ("old?zone=z1", {"__name__": "old", "zone": "z1"},
             datetime.date(2023, 12, 20)),
        ]
        df = spark.createDataFrame(
            rows, "path string, tags map<string,string>, date date"
        )
        keys = [r.value for r in tag_keys_df(df, days=7, now_ts=now).collect()]
        assert keys == ["env", "name"]
        vals = [
            r.value
            for r in tag_values_df(df, "name", days=7, now_ts=now).collect()
        ]
        assert vals == ["cpu"]
        # no bound -> both days visible
        assert len(tag_keys_df(df).collect()) == 3

    def test_prometheus_label_window(self, spark):
        import datetime

        now = 1_704_154_000
        rows = [
            ("cpu?env=prod", {"__name__": "cpu", "env": "prod"},
             datetime.date(2024, 1, 2)),
            ("old?zone=z1", {"__name__": "old", "zone": "z1"},
             datetime.date(2023, 12, 20)),
        ]
        df = spark.createDataFrame(
            rows, "path string, tags map<string,string>, date date"
        )
        names = [r.value for r in label_names(df, days=7, now_ts=now).collect()]
        assert names == ["__name__", "env"]
        vals = [
            r.value
            for r in label_values(df, "__name__", days=7, now_ts=now).collect()
        ]
        assert vals == ["cpu"]


class TestPrometheus:
    def test_matcher_translation_and_order(self):
        terms = terms_from_matchers(
            [
                LabelMatcher("env", "!~", "d.*"),
                LabelMatcher("__name__", "=", "cpu"),
                LabelMatcher("host", "=~", "h."),
            ]
        )
        assert [(t.key, t.op, t.value) for t in terms] == [
            ("__name__", "=", "cpu"),
            ("host", "=~", "h."),
            ("env", "!=~", "d.*"),
        ]

    def test_unknown_op(self):
        with pytest.raises(ValueError):
            terms_from_matchers([LabelMatcher("a", "~~", "x")])

    def test_select_series(self, tagged):
        got = sorted(
            r.path
            for r in select_series(
                tagged,
                [LabelMatcher("__name__", "=", "cpu"), LabelMatcher("env", "!=", "dev")],
            ).collect()
        )
        assert got == ["cpu?env=prod&host=h1"]

    def test_label_names_values(self, tagged):
        names = [r.value for r in label_names(tagged, [LabelMatcher("__name__", "=", "cpu")]).collect()]
        assert names == ["__name__", "env", "host"]
        vals = [r.value for r in label_values(tagged, "env").collect()]
        assert vals == ["dev", "prod"]

    def test_max_data_points(self):
        assert prom_max_data_points(0, 3600, 60) == 60000


RULES_TOML = """
[[rule]]
has-prefix = "cpu."
tag = "kind=compute"

[[rule]]
contains = ".h1."
tags = ["host=h1", "seen=yes"]

[[rule]]
regexp = "\\\\.err(or)?$"
tag = "severity=bad"

[[rule]]
equal = "uptime"
tag = "kind=health"
"""


class TestPromSelectorParser:
    def test_bare_name(self):
        from graphite_clickhouse_spark.plans.prometheus import parse_promql_selector

        (m,) = parse_promql_selector("cpu_usage")
        assert (m.name, m.op, m.value) == ("__name__", "=", "cpu_usage")

    def test_name_and_matchers(self):
        from graphite_clickhouse_spark.plans.prometheus import parse_promql_selector

        ms = parse_promql_selector('cpu{env="prod", host=~"h.*", rack!="r9", dc!~"us-.*"}')
        assert [(m.name, m.op, m.value) for m in ms] == [
            ("__name__", "=", "cpu"),
            ("env", "=", "prod"),
            ("host", "=~", "h.*"),
            ("rack", "!=", "r9"),
            ("dc", "!~", "us-.*"),
        ]

    def test_escaped_quote_and_empty_brace(self):
        from graphite_clickhouse_spark.plans.prometheus import parse_promql_selector

        (m1, m2) = parse_promql_selector(r'm{k="a\"b"}')
        assert m2.value == 'a"b'
        (m,) = parse_promql_selector("m{}")
        assert m.name == "__name__"

    def test_non_ascii_and_unicode_escape(self):
        from graphite_clickhouse_spark.plans.prometheus import parse_promql_selector

        (_, m) = parse_promql_selector('m{k="café"}')
        assert m.value == "café"
        (_, m) = parse_promql_selector(r'm{k="caf\u00e9"}')
        assert m.value == "café"

    def test_invalid(self):
        from graphite_clickhouse_spark.plans.prometheus import parse_promql_selector

        import pytest as _pytest

        for bad in ("", "{", "m{k=v}", "m{k=}", "{k=='v'}", "{}",
                    "m offset 5m", "m @ 100", "m[5m]", "rate(m[5m])",
                    "sum(m)", "m + m"):
            with _pytest.raises(ValueError):
                parse_promql_selector(bad)


class TestTagger:
    def test_parse(self):
        rules = parse_rules(RULES_TOML)
        assert len(rules) == 4
        assert rules[0].tags == ["kind=compute"] and rules[0].has_prefix == "cpu."
        assert rules[1].tags == ["host=h1", "seen=yes"]

    def test_apply_union_of_matching_rules(self, spark):
        paths = spark.createDataFrame(
            [("cpu.h1.error",), ("cpu.h2.load",), ("disk.h1.io",), ("uptime",), ("other",)],
            "path string",
        )
        got = {
            r.path: (r.tags, r.tags_map)
            for r in apply_rules(paths, parse_rules(RULES_TOML)).collect()
        }
        assert got["cpu.h1.error"][0] == ["host=h1", "kind=compute", "seen=yes", "severity=bad"]
        assert got["cpu.h1.error"][1]["severity"] == "bad"
        assert got["cpu.h2.load"][0] == ["kind=compute"]
        assert got["disk.h1.io"][0] == ["host=h1", "seen=yes"]
        assert got["uptime"][0] == ["kind=health"]
        assert got["other"][0] == []

    def test_tagged_table_drops_untagged(self, spark):
        paths = spark.createDataFrame([("cpu.x",), ("nothing",)], "path string")
        got = [r.path for r in tagged_table(paths, parse_rules(RULES_TOML)).collect()]
        assert got == ["cpu.x"]

    def test_value_with_equals_sign(self, spark):
        # value containing '=' survives the k=v split (split limit 2)
        rules = parse_rules('[[rule]]\nhas-prefix = "a"\ntag = "expr=x=y"\n')
        got = apply_rules(spark.createDataFrame([("a.b",)], "path string"), rules).collect()
        assert got[0].tags_map == {"expr": "x=y"}


class TestPlainFromTagged:
    """graphite{target="..."} bridge (finder/plain_from_tagged.go)."""

    def test_parse(self):
        from graphite_clickhouse_spark.plans.prometheus import plain_from_tagged
        from graphite_clickhouse_spark.plans.tagged import TaggedTerm

        terms = [
            TaggedTerm("__name__", "=", "graphite"),
            TaggedTerm("target", "=", "telegraf.*.cpu.avg"),
            TaggedTerm("node1", "=", "host"),
            TaggedTerm("rename", "=", "cpu_avg"),
        ]
        spec = plain_from_tagged(terms)
        assert spec.target == "telegraf.*.cpu.avg"
        assert spec.metric_name == "cpu_avg"
        assert spec.node_labels == {1: "host"}
        # normal tagged query -> None
        assert plain_from_tagged([TaggedTerm("__name__", "=", "cpu")]) is None

    def test_display_names(self, spark):
        from graphite_clickhouse_spark.plans.prometheus import (
            PlainFromTagged,
            plain_display_names,
        )

        paths = spark.createDataFrame(
            [("telegraf.db01.cpu.avg",), ("telegraf.web02.cpu.avg",)],
            "path string",
        )
        spec = PlainFromTagged(
            target="telegraf.*.cpu.avg", node_labels={1: "host"}
        )
        got = sorted(r.path for r in plain_display_names(paths, spec).collect())
        # labels sorted by name: host < metric (Abs, plain_from_tagged.go:105)
        assert got == [
            "graphite?host=db01&metric=telegraf.db01.cpu.avg",
            "graphite?host=web02&metric=telegraf.web02.cpu.avg",
        ]

    def test_select_series_engine_bridge(self, spark):
        from graphite_clickhouse_spark.plans.prometheus import (
            LabelMatcher,
            select_series_engine,
        )
        from graphite_clickhouse_spark.render.pipeline import Engine

        points = spark.createDataFrame(
            [("telegraf.db01.cpu.avg", 0, 1.0, 1)],
            "path string, time long, value double, version long",
        )
        eng = Engine(spark=spark, points=points)
        got = [
            r.path
            for r in select_series_engine(
                eng,
                [
                    LabelMatcher("__name__", "=", "graphite"),
                    LabelMatcher("target", "=", "telegraf.*.cpu.*"),
                    LabelMatcher("node0", "=", "app"),
                ],
            ).collect()
        ]
        assert got == ["graphite?app=telegraf&metric=telegraf.db01.cpu.avg"]


class TestBuildTagsCLI:
    """--build-tags: the reference's `-tags` batch mode
    (graphite-clickhouse.go:549-552) — [tags] rules over a metric list,
    tagged table written as parquet."""

    def test_end_to_end_text_input(self, spark, tmp_path, capsys):
        from graphite_clickhouse_spark.__main__ import main

        rules = tmp_path / "rules.toml"
        rules.write_text(
            '[[rule]]\nregexp = "^carbon\\\\."\ntag = "scope=internal"\n'
            '[[rule]]\nhas-suffix = ".cpu"\ntags = ["unit=percent", "kind=cpu"]\n'
        )
        metrics = tmp_path / "metrics.txt"
        metrics.write_text(
            "carbon.agents.host1.cpu\nweb.host2.cpu\nweb.host2.mem\n\n"
        )
        out_dir = tmp_path / "tagged"
        conf = tmp_path / "gch.conf"
        conf.write_text(
            "[tags]\n"
            f'rules = "{rules}"\n'
            f'input-file = "{metrics}"\n'
            f'output-file = "{out_dir}"\n'
        )
        main(["--config", str(conf), "--build-tags"])
        assert "wrote 2 tagged paths" in capsys.readouterr().err

        got = {
            r["path"]: list(r["tags"])
            for r in spark.read.parquet(str(out_dir)).collect()
        }
        # union of ALL matching rules' tags, sorted (tagger.go Set)
        assert got == {
            "carbon.agents.host1.cpu": [
                "kind=cpu", "scope=internal", "unit=percent"
            ],
            "web.host2.cpu": ["kind=cpu", "unit=percent"],
        }  # web.host2.mem matched nothing -> not uploaded

    def test_requires_rules_and_output(self, tmp_path):
        import pytest as _pytest

        from graphite_clickhouse_spark.__main__ import main

        conf = tmp_path / "gch.conf"
        conf.write_text("[tags]\n")
        with _pytest.raises(SystemExit):
            main(["--config", str(conf), "--build-tags"])


class TestTaggerReferenceGoldens:
    """tagger/rule_test.go::TestRules — the `Match` (all-trees) rows;
    the per-tree methods are the reference's internal index structures,
    which the predicate compilation subsumes."""

    RULES = """
[[rule]]
tag = "prefix"
has-prefix = "prefix"

[[rule]]
tag = "suffix"
has-suffix = "suffix"

[[rule]]
tag = "contains"
contains = "contains"

[[rule]]
tag = "equal"
equal = "equal"

[[rule]]
tag = "regexp"
regexp = "reg[e]xp"
"""

    def test_reference_match_table(self, spark):
        from graphite_clickhouse_spark.pipeline.tagger import (
            apply_rules,
            parse_rules,
        )

        rules = parse_rules(self.RULES)
        cases = {
            "prefix.metric": ["prefix"],
            "metric.suffix": ["suffix"],
            "hello.contains.world": ["contains"],
            "hello.regexp.world": ["regexp"],
            "prefix.suffix": ["prefix", "suffix"],
            "equal": ["equal"],
            "nothing.matches.here": [],
        }
        df = spark.createDataFrame([(p,) for p in cases], "path string")
        got = {r["path"]: sorted(r["tags"])
               for r in apply_rules(df, rules).collect()}
        for path, want in cases.items():
            assert got[path] == sorted(want), path


class TestPrometheusLabelDecoding:
    """prometheus/labels_test.go::TestLabels — the prometheus view of a
    tagged path URL-decodes label values (instance=...%3A9273 ->
    'telegraf.default:9273'); matching and graphite surfaces stay raw."""

    def test_series_label_sets_decode(self, spark):
        from graphite_clickhouse_spark.plans.prometheus import (
            LabelMatcher,
            series_label_sets,
        )
        from graphite_clickhouse_spark.streaming.ingest import (
            tags_map_from_path,
        )

        paths = [
            ("cpu_usage_system?cpu=cpu5&host=telegraf-b9468c8b5-g47xt"
             "&instance=telegraf.default%3A9273&job=telegraf",),
            ("cpu_usage_system?cpu=cpu0&instance=plain",),
        ]
        tagged = spark.createDataFrame(paths, "path string").select(
            "path", tags_map_from_path("path").alias("tags")
        )
        out = {r["path"]: dict(r["tags"]) for r in series_label_sets(
            tagged,
            [[LabelMatcher("__name__", "=", "cpu_usage_system")]],
        ).collect()}
        esc = paths[0][0]
        assert out[esc]["instance"] == "telegraf.default:9273"
        assert out[esc]["job"] == "telegraf"
        assert out[esc]["__name__"] == "cpu_usage_system"

    def test_matching_still_raw(self, spark):
        # the stored (escaped) value is what matchers compare against,
        # exactly like the reference's ClickHouse WHERE over raw Tag1
        from graphite_clickhouse_spark.plans.prometheus import (
            LabelMatcher,
            select_series,
        )
        from graphite_clickhouse_spark.streaming.ingest import (
            tags_map_from_path,
        )

        tagged = spark.createDataFrame(
            [("m?instance=a%3A1",)], "path string"
        ).select("path", tags_map_from_path("path").alias("tags"))
        raw = select_series(
            tagged, [LabelMatcher("instance", "=", "a%3A1")]
        ).count()
        decoded = select_series(
            tagged, [LabelMatcher("instance", "=", "a:1")]
        ).count()
        assert (raw, decoded) == (1, 0)


def test_plain_from_tagged_abs_reference_golden(spark):
    """finder/plain_from_tagged_test.go::TestPlainFromTaggedFinderAbs."""
    from graphite_clickhouse_spark.plans.prometheus import (
        plain_display_names,
        plain_from_tagged,
    )
    from graphite_clickhouse_spark.plans.tagged import TaggedTerm

    terms = [
        TaggedTerm("__name__", "=", "graphite"),
        TaggedTerm("rename", "=", "cpu_usage"),
        TaggedTerm("target", "=", "telegraf.*.cpu.usage"),
        TaggedTerm("node1", "=", "host"),
    ]
    spec = plain_from_tagged(terms)
    assert spec is not None
    df = spark.createDataFrame(
        [("telegraf.localhost.cpu.usage",)], "path string"
    )
    [row] = plain_display_names(df, spec).collect()
    assert row["path"] == (
        "cpu_usage?host=localhost&metric=telegraf.localhost.cpu.usage"
    )


def test_querier_time_range_reference_table():
    """prometheus/querier_select_test.go::TestQuerier_timeRange verbatim
    (hint start/end here are the HTTP API's optional start/end params, in
    seconds; ms inputs from SelectHints divide by 1000 upstream)."""
    from graphite_clickhouse_spark.plans.prometheus import (
        querier_time_range,
    )

    now = 1669714247  # 2022-11-29 09:30:47 UTC
    days = 4
    # default from/until
    assert querier_time_range(None, None, days, now) == (1669368647, now)
    # start/end present and valid
    assert querier_time_range(1669453200, 1669626000, days, now) == (
        1669453200, 1669626000)
    # start/end past ClickHouse's Date range -> ignored
    assert querier_time_range(5662310401, 5662310500, days, now) == (
        1669368647, now)
    # absent start/end, valid mint/maxt
    assert querier_time_range(None, None, days, now,
                              mint=1669194000, maxt=1669280400) == (
        1669194000, 1669280400)
    # mint/maxt overflow -> default window
    assert querier_time_range(None, None, days, now,
                              mint=5662310401, maxt=5662310500) == (
        1669368647, now)
