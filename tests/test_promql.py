"""PromQL subset evaluator (plans/promql.py): parser, evaluation
semantics against hand-computed Prometheus results (selector staleness,
rate/increase/delta extrapolation — promql/functions.go semantics), and
the /api/v1/query{,_range} HTTP routes (the surface the reference gets
from embedding promql.NewEngine, prometheus/run.go:43-63)."""

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from graphite_clickhouse_spark.plans.promql import (
    Aggregate,
    BinOp,
    PromQLError,
    RangeFn,
    VectorSelector,
    eval_promql,
    parse_duration,
    parse_promql,
)


@pytest.fixture(scope="module")
def tagged(spark):
    rows = [
        # series a: counter with a reset at t=220; series b: gauge
        ("m?k=a", {"__name__": "m", "k": "a"}, 100, 1.0, 1),
        ("m?k=a", {"__name__": "m", "k": "a"}, 160, 3.0, 2),
        ("m?k=a", {"__name__": "m", "k": "a"}, 220, 1.0, 3),
        ("m?k=a", {"__name__": "m", "k": "a"}, 280, 2.0, 4),
        ("m?k=b", {"__name__": "m", "k": "b"}, 100, 10.0, 5),
        ("m?k=b", {"__name__": "m", "k": "b"}, 220, 20.0, 6),
        # duplicate (path, time): higher version must win (A6 semantics)
        ("m?k=b", {"__name__": "m", "k": "b"}, 220, 25.0, 7),
    ]
    return spark.createDataFrame(
        rows, "path string, tags map<string,string>, time long, value double, version long"
    )


def rows(df):
    return {(r.series, r.t): r.value for r in df.collect()}


class TestParser:
    def test_selector_forms(self):
        node = parse_promql('m{k="v",j=~"re"}')
        assert isinstance(node, VectorSelector)
        assert [(m.name, m.op, m.value) for m in node.matchers] == [
            ("__name__", "=", "m"), ("k", "=", "v"), ("j", "=~", "re"),
        ]
        bare = parse_promql("some_metric")
        assert bare.matchers[0].value == "some_metric"
        anon = parse_promql('{k!="v"}')
        assert anon.matchers[0].op == "!="

    def test_range_fn_and_agg(self):
        node = parse_promql('sum by (k) (rate(m{k="a"}[5m]))')
        assert isinstance(node, Aggregate)
        assert node.op == "sum" and node.grouping == ["k"] and not node.without
        assert isinstance(node.expr, RangeFn)
        assert node.expr.fn == "rate" and node.expr.window == 300

    def test_trailing_by_and_without(self):
        node = parse_promql("avg (m) by (k, j)")
        assert node.grouping == ["k", "j"]
        node = parse_promql("count without (k) (m)")
        assert node.without and node.grouping == ["k"]

    def test_scalar_arith(self):
        node = parse_promql("m * 8")
        assert isinstance(node, BinOp) and node.scalar == 8.0
        node = parse_promql("2 * m")
        assert node.scalar_on_left

    def test_durations(self):
        assert parse_duration("90s") == 90
        assert parse_duration("1h30m") == 5400
        assert parse_duration("15") == 15
        with pytest.raises(PromQLError):
            parse_duration("-5m")

    @pytest.mark.parametrize("bad", [
        "rate(m)", "m[5m]", "foo(m[5m])", "sum(m) by", "m offset x",
        "m{k=v}", "", "1 + 2",
    ])
    def test_rejects(self, bad):
        with pytest.raises(PromQLError):
            parse_promql(bad)


class TestEval:
    def test_selector_staleness_and_version(self, tagged):
        # t=300: newest of series a is (280, 2.0); series b dedups the
        # (220) duplicate to version 7's value 25.0
        got = rows(eval_promql(tagged, 'm{k=~"a|b"}', 300, 300, 1))
        assert got == {
            ("__name__=m,k=a", 300): 2.0,
            ("__name__=m,k=b", 300): 25.0,
        }

    def test_selector_outside_lookback_absent(self, tagged):
        # at t=700 every sample is > 300 s old -> empty vector, not NaN
        assert rows(eval_promql(tagged, "m", 700, 700, 1)) == {}

    def test_range_grid(self, tagged):
        got = rows(eval_promql(tagged, 'm{k="b"}', 100, 300, 100))
        assert got == {
            ("__name__=m,k=b", 100): 10.0,
            ("__name__=m,k=b", 200): 10.0,
            ("__name__=m,k=b", 300): 25.0,
        }

    def test_increase_reset_and_extrapolation(self, tagged):
        # window (100, 300]: samples 3,1,2 -> reset-adjusted raw = 1+1 = 2;
        # ft=160 lt=280 sampled=120 cnt=3 avgDur=60 thr=66;
        # durStart=60 durEnd=20 (both < thr, kept); zero-guard 180 > 60;
        # factor=(120+60+20)/120 -> increase = 2*5/3
        got = rows(eval_promql(tagged, 'increase(m{k="a"}[200s])', 300, 300, 1))
        assert got[("k=a", 300)] == pytest.approx(10 / 3)

    def test_rate_is_increase_over_window(self, tagged):
        got = rows(eval_promql(tagged, 'rate(m{k="a"}[200s])', 300, 300, 1))
        assert got[("k=a", 300)] == pytest.approx(10 / 3 / 200)

    def test_delta_gauge(self, tagged):
        # b in (0,300]: 10 -> 25, sampled=120, durStart=100, durEnd=80,
        # avgDur=120 thr=132 -> factor 2.5 -> 37.5
        got = rows(eval_promql(tagged, 'delta(m{k="b"}[300s])', 300, 300, 1))
        assert got[("k=b", 300)] == pytest.approx(37.5)

    def test_idelta(self, tagged):
        got = rows(eval_promql(tagged, 'idelta(m{k="a"}[300s])', 300, 300, 1))
        assert got[("k=a", 300)] == pytest.approx(2.0 - 1.0)

    def test_over_time_family(self, tagged):
        got = rows(eval_promql(
            tagged, "sum by (k) (avg_over_time(m[5m]))", 200, 300, 100))
        assert got == {
            ("k=a", 200): 2.0, ("k=a", 300): 1.75,
            ("k=b", 200): 10.0, ("k=b", 300): 17.5,
        }
        got = rows(eval_promql(tagged, "count_over_time(m[300s])", 300, 300, 1))
        assert got[("k=a", 300)] == 4.0 and got[("k=b", 300)] == 2.0
        got = rows(eval_promql(tagged, "last_over_time(m[300s])", 300, 300, 1))
        # last_over_time keeps __name__
        assert got[("__name__=m,k=b", 300)] == 25.0

    def test_agg_plain_and_without(self, tagged):
        got = rows(eval_promql(tagged, "sum(m)", 300, 300, 1))
        assert got == {("", 300): 27.0}
        got = rows(eval_promql(tagged, "count without (k) (m)", 300, 300, 1))
        assert got == {("", 300): 2.0}

    def test_vector_scalar(self, tagged):
        got = rows(eval_promql(tagged, 'm{k="b"} * 2', 300, 300, 1))
        assert got == {("k=b", 300): 50.0}
        got = rows(eval_promql(tagged, '100 - m{k="b"}', 300, 300, 1))
        assert got == {("k=b", 300): 75.0}

    def test_resolution_cap(self, tagged):
        with pytest.raises(PromQLError, match="11,000"):
            eval_promql(tagged, "m", 0, 20000, 1)


class TestHTTP:
    def test_query_range(self, prom_url):
        q = urllib.parse.urlencode({
            "query": 'm{k="b"}', "start": 100, "end": 300, "step": "100",
        })
        with urllib.request.urlopen(f"{prom_url}/api/v1/query_range?{q}", timeout=120) as r:
            got = json.loads(r.read())
        assert got["status"] == "success"
        assert got["data"]["resultType"] == "matrix"
        (series,) = got["data"]["result"]
        assert series["metric"] == {"__name__": "m", "k": "b"}
        assert series["values"] == [[100, "10.0"], [200, "10.0"], [300, "25.0"]]

    def test_instant_query(self, prom_url):
        q = urllib.parse.urlencode({
            "query": 'sum by (k) (m)', "time": 300,
        })
        with urllib.request.urlopen(f"{prom_url}/api/v1/query?{q}", timeout=120) as r:
            got = json.loads(r.read())
        assert got["data"]["resultType"] == "vector"
        vals = {tuple(sorted(e["metric"].items())): e["value"]
                for e in got["data"]["result"]}
        assert vals[(("k", "a"),)] == [300, "2.0"]
        assert vals[(("k", "b"),)] == [300, "25.0"]

    def test_bad_query_is_json_400(self, prom_url):
        q = urllib.parse.urlencode({
            "query": "rate(m)", "start": 0, "end": 10, "step": 1,
        })
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(f"{prom_url}/api/v1/query_range?{q}", timeout=120)
        assert exc.value.code == 400
        err = json.loads(exc.value.read())
        assert err["status"] == "error" and err["errorType"] == "bad_data"


@pytest.fixture(scope="module")
def prom_url(spark, tagged):
    from graphite_clickhouse_spark.render.pipeline import Engine
    from graphite_clickhouse_spark.server import serve_background

    engine = Engine(
        spark=spark,
        points=tagged.select("path", "time", "value", "version"),
        path_index=None,
        tagged_points=tagged,
    )
    srv, url = serve_background(engine)
    yield url
    srv.shutdown()


class TestParamAggs:
    def test_topk(self, tagged):
        # t=300 values: a=2.0, b=25.0
        got = rows(eval_promql(tagged, "topk(1, m)", 300, 300, 1))
        assert got == {("__name__=m,k=b", 300): 25.0}

    def test_bottomk(self, tagged):
        got = rows(eval_promql(tagged, "bottomk(1, m)", 300, 300, 1))
        assert got == {("__name__=m,k=a", 300): 2.0}

    def test_topk_keeps_labels_by_group(self, tagged):
        # grouping by k puts each series in its own group -> both survive
        got = rows(eval_promql(tagged, "topk(1, m) by (k)", 300, 300, 1))
        assert set(got) == {("__name__=m,k=a", 300), ("__name__=m,k=b", 300)}

    def test_quantile(self, tagged):
        got = rows(eval_promql(tagged, "quantile(0.5, m)", 300, 300, 1))
        assert got[("", 300)] == pytest.approx((2.0 + 25.0) / 2)
        got = rows(eval_promql(tagged, "quantile(1, m)", 300, 300, 1))
        assert got[("", 300)] == 25.0

    def test_param_required(self):
        with pytest.raises(PromQLError):
            parse_promql("topk(m)")

    def test_quantile_phi_range(self, tagged):
        with pytest.raises(PromQLError):
            eval_promql(tagged, "quantile(2, m)", 300, 300, 1)


class TestExtendedFns:
    def test_offset_selector(self, tagged):
        # t=380 with offset 100s reads the window ending at 280
        got = rows(eval_promql(tagged, 'm{k="a"} offset 1m40s', 380, 380, 1))
        assert got == {("__name__=m,k=a", 380): 2.0}

    def test_offset_negative(self, tagged):
        got = rows(eval_promql(tagged, 'm{k="a"} offset -1m40s', 180, 180, 1))
        assert got == {("__name__=m,k=a", 180): 2.0}

    def test_offset_in_range_fn(self, tagged):
        shifted = rows(eval_promql(
            tagged, 'rate(m{k="a"}[200s] offset 1m40s)', 400, 400, 1))
        plain = rows(eval_promql(tagged, 'rate(m{k="a"}[200s])', 300, 300, 1))
        assert shifted[("k=a", 400)] == pytest.approx(plain[("k=a", 300)])

    def test_changes_and_resets(self, tagged):
        # a: 1 -> 3 -> 1 -> 2 : three transitions, one decrease
        got = rows(eval_promql(tagged, 'changes(m{k="a"}[300s])', 300, 300, 1))
        assert got[("k=a", 300)] == 3.0
        got = rows(eval_promql(tagged, 'resets(m{k="a"}[300s])', 300, 300, 1))
        assert got[("k=a", 300)] == 1.0

    def test_changes_single_sample_zero(self, tagged):
        # only the t=100 sample of b falls in (0, 150] -> 0 changes
        got = rows(eval_promql(tagged, 'changes(m{k="b"}[150s])', 150, 150, 1))
        assert got[("k=b", 150)] == 0.0

    def test_deriv_least_squares(self, tagged):
        # b: (100, 10) and (220, 25) -> slope 15/120
        got = rows(eval_promql(tagged, 'deriv(m{k="b"}[300s])', 300, 300, 1))
        assert got[("k=b", 300)] == pytest.approx(0.125)

    def test_absent(self, tagged):
        got = rows(eval_promql(tagged, 'absent(nomatch{job="x"})', 300, 300, 1))
        assert got == {("job=x", 300): 1.0}
        assert rows(eval_promql(tagged, "absent(m)", 300, 300, 1)) == {}

    def test_absent_partial_grid(self, tagged):
        # m{k="b"} has samples only near 100/220: present at t=100..500
        # (lookback 300), absent at t=600
        got = rows(eval_promql(tagged, 'absent(m{k="b"})', 500, 600, 100))
        assert got == {("k=b", 600): 1.0}


class TestHistogramQuantile:
    @pytest.fixture(scope="class")
    def hist(self, spark):
        rows = []
        for inst, counts in (("a", [10.0, 40.0, 90.0, 100.0]),
                             ("b", [0.0, 0.0, 0.0, 50.0])):
            for le, c in zip(["0.1", "0.5", "1", "+Inf"], counts):
                rows.append((f"h?inst={inst}&le={le}",
                             {"__name__": "h", "inst": inst, "le": le},
                             100, c, 1))
        return spark.createDataFrame(
            rows,
            "path string, tags map<string,string>, time long, value double, version long",
        )

    def test_interpolation(self, hist):
        # a: rank 50 lands in (0.5, 1] holding counts 40->90:
        # 0.5 + 0.5 * (50-40)/(90-40) = 0.6
        got = rows(eval_promql(hist, "histogram_quantile(0.5, h)", 100, 100, 1))
        assert got[("__name__=h,inst=a", 100)] == pytest.approx(0.6)

    def test_all_mass_in_inf_returns_last_finite_le(self, hist):
        got = rows(eval_promql(hist, "histogram_quantile(0.5, h)", 100, 100, 1))
        assert got[("__name__=h,inst=b", 100)] == pytest.approx(1.0)

    def test_first_bucket_interpolates_from_zero(self, hist):
        got = rows(eval_promql(
            hist, 'histogram_quantile(0.05, h{inst="a"})', 100, 100, 1))
        assert got[("__name__=h,inst=a", 100)] == pytest.approx(0.05)

    def test_phi_saturation(self, hist):
        got = rows(eval_promql(
            hist, 'histogram_quantile(2, h{inst="a"})', 100, 100, 1))
        assert got[("__name__=h,inst=a", 100)] == float("inf")

    def test_missing_inf_bucket_is_nan(self, spark):
        import math

        rows_ = [(f"h?le={le}", {"__name__": "h", "le": le}, 100, c, 1)
                 for le, c in [("0.1", 10.0), ("1", 50.0)]]
        df = spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )
        got = rows(eval_promql(df, "histogram_quantile(0.5, h)", 100, 100, 1))
        assert math.isnan(got[("__name__=h", 100)])


class TestLookbackConfig:
    def test_config_parses_prometheus_section(self):
        from graphite_clickhouse_spark.config import load_settings

        s = load_settings("""
[prometheus]
listen = ":9092"
lookback-delta = "1m"
""")
        assert s.prometheus_lookback_delta == 60
        assert "prometheus.listen" in s.ignored

    def test_default_lookback(self):
        from graphite_clickhouse_spark.config import load_settings

        assert load_settings("").prometheus_lookback_delta == 300

    def test_server_uses_configured_lookback(self, spark, tagged):
        import urllib.request as rq

        from graphite_clickhouse_spark.config import load_settings
        from graphite_clickhouse_spark.render.pipeline import Engine
        from graphite_clickhouse_spark.server import serve_background

        settings = load_settings('[prometheus]\nlookback-delta = "10s"\n')
        engine = Engine(
            spark=spark,
            points=tagged.select("path", "time", "value", "version"),
            path_index=None,
            tagged_points=tagged,
        )
        srv, url = serve_background(engine, settings=settings)
        try:
            # newest sample of b is at 220; with a 10 s lookback t=300
            # sees nothing, t=225 sees it
            q = urllib.parse.urlencode({"query": 'm{k="b"}', "time": 300})
            with rq.urlopen(f"{url}/api/v1/query?{q}", timeout=120) as r:
                got = json.loads(r.read())
            assert got["data"]["result"] == []
            q = urllib.parse.urlencode({"query": 'm{k="b"}', "time": 225})
            with rq.urlopen(f"{url}/api/v1/query?{q}", timeout=120) as r:
                got = json.loads(r.read())
            assert got["data"]["result"][0]["value"] == [225, "25.0"]
        finally:
            srv.shutdown()


class TestMathAndLabelFns:
    def test_math_family(self, tagged):
        got = rows(eval_promql(tagged, 'sqrt(m{k="b"})', 300, 300, 1))
        assert got[("k=b", 300)] == pytest.approx(5.0)
        got = rows(eval_promql(tagged, 'clamp_max(m{k="b"}, 20)', 300, 300, 1))
        assert got[("k=b", 300)] == 20.0
        got = rows(eval_promql(tagged, 'clamp_min(m{k="a"}, 5)', 300, 300, 1))
        assert got[("k=a", 300)] == 5.0
        got = rows(eval_promql(tagged, 'ln(exp(m{k="a"}))', 300, 300, 1))
        assert got[("k=a", 300)] == pytest.approx(2.0)

    def test_round_to_nearest(self, spark):
        df = spark.createDataFrame(
            [("m?k=a", {"__name__": "m", "k": "a"}, 100, 12.5, 1)],
            "path string, tags map<string,string>, time long, value double, version long",
        )
        got = rows(eval_promql(df, "round(m, 5)", 100, 100, 1))
        assert got[("k=a", 100)] == 15.0  # ties round up
        got = rows(eval_promql(df, "round(m)", 100, 100, 1))
        assert got[("k=a", 100)] == 13.0

    def test_clamp_requires_scalar(self):
        with pytest.raises(PromQLError):
            parse_promql("clamp_min(m)")

    def test_label_replace(self, tagged):
        got = eval_promql(
            tagged,
            'label_replace(m{k="a"}, "kk", "$1x", "k", "(a)")',
            300, 300, 1,
        ).collect()
        assert dict(got[0].labels) == {"__name__": "m", "k": "a", "kk": "ax"}
        # non-matching regex leaves the vector untouched
        got = eval_promql(
            tagged,
            'label_replace(m{k="a"}, "kk", "$1", "k", "zzz")',
            300, 300, 1,
        ).collect()
        assert dict(got[0].labels) == {"__name__": "m", "k": "a"}

    def test_label_replace_empty_removes_dst(self, tagged):
        got = eval_promql(
            tagged, 'label_replace(m{k="a"}, "k", "", "k", "a")', 300, 300, 1
        ).collect()
        assert dict(got[0].labels) == {"__name__": "m"}

    def test_label_join(self, tagged):
        got = eval_promql(
            tagged,
            'label_join(m{k="a"}, "joined", "-", "__name__", "k")',
            300, 300, 1,
        ).collect()
        assert dict(got[0].labels)["joined"] == "m-a"


class TestVectorVectorArith:
    def test_ratio(self, tagged):
        # m{k}/m{k} == 1 for each series present at t
        got = rows(eval_promql(tagged, "m / m", 300, 300, 1))
        assert got == {("k=a", 300): 1.0, ("k=b", 300): 1.0}

    def test_matching_drops_name_and_requires_same_labels(self, spark):
        rows_ = [
            ("a?k=x", {"__name__": "a", "k": "x"}, 100, 10.0, 1),
            ("b?k=x", {"__name__": "b", "k": "x"}, 100, 4.0, 2),
            ("b?k=y", {"__name__": "b", "k": "y"}, 100, 7.0, 3),  # unmatched
        ]
        df = spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )
        got = rows(eval_promql(df, "a - b", 100, 100, 1))
        assert got == {("k=x", 100): 6.0}

    def test_composes_with_functions(self, tagged):
        # (sum(m) by (k)) / (count(m) by (k)) == avg per series
        got = rows(eval_promql(
            tagged, "sum by (k) (m) / count by (k) (m)", 300, 300, 1))
        assert got == {("k=a", 300): 2.0, ("k=b", 300): 25.0}


class TestComparisons:
    def test_filter_mode_keeps_name(self, tagged):
        # at t=300: a=2.0, b=25.0; m > 10 keeps only b WITH __name__
        got = rows(eval_promql(tagged, "m > 10", 300, 300, 1))
        assert got == {("__name__=m,k=b", 300): 25.0}

    def test_bool_mode(self, tagged):
        got = rows(eval_promql(tagged, "m > bool 10", 300, 300, 1))
        assert got == {("k=a", 300): 0.0, ("k=b", 300): 1.0}

    def test_scalar_on_left(self, tagged):
        # 10 >= m keeps samples where 10 >= value -> only a (2.0)
        got = rows(eval_promql(tagged, "10 >= m", 300, 300, 1))
        assert got == {("__name__=m,k=a", 300): 2.0}

    def test_eq_and_ne(self, tagged):
        got = rows(eval_promql(tagged, "m == 25", 300, 300, 1))
        assert got == {("__name__=m,k=b", 300): 25.0}
        got = rows(eval_promql(tagged, "m != 25", 300, 300, 1))
        assert got == {("__name__=m,k=a", 300): 2.0}

    def test_vector_vector_filter(self, spark):
        rows_ = [
            ("a?k=x", {"__name__": "a", "k": "x"}, 100, 10.0, 1),
            ("a?k=y", {"__name__": "a", "k": "y"}, 100, 3.0, 2),
            ("b?k=x", {"__name__": "b", "k": "x"}, 100, 4.0, 3),
            ("b?k=y", {"__name__": "b", "k": "y"}, 100, 7.0, 4),
        ]
        df = spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )
        # a > b keeps left samples where the matched pair satisfies it
        got = rows(eval_promql(df, "a > b", 100, 100, 1))
        assert got == {("__name__=a,k=x", 100): 10.0}
        got = rows(eval_promql(df, "a >= bool b", 100, 100, 1))
        assert got == {("k=x", 100): 1.0, ("k=y", 100): 0.0}

    def test_bool_only_on_comparisons(self):
        with pytest.raises(PromQLError):
            parse_promql("m + bool 5")


class TestSubqueries:
    def test_max_over_time_subquery(self, tagged):
        # inner selector evaluated at multiples of 50 in (100, 300]:
        # 150->1.0, 200->3.0, 250->25.0? (b excluded by matcher) ...
        got = rows(eval_promql(
            tagged, 'max_over_time(m{k="a"}[200s:50s])', 300, 300, 1))
        assert got[("k=a", 300)] == 3.0

    def test_subquery_over_expression(self, tagged):
        got = rows(eval_promql(
            tagged, 'max_over_time((m{k="a"} * 10)[200s:50s])', 300, 300, 1))
        assert got[("k=a", 300)] == 30.0

    def test_default_resolution_is_outer_step(self, tagged):
        # res omitted -> 100 s: inner evals at 200 (3.0) and 300 (2.0)
        got = rows(eval_promql(
            tagged, 'avg_over_time(m{k="a"}[200s:])', 300, 300, 100))
        assert got[("k=a", 300)] == pytest.approx(2.5)

    def test_rate_over_subquery(self, tagged):
        # subquery materializes a dense 50s-grid counter; rate over it
        got = rows(eval_promql(
            tagged, 'rate(m{k="a"}[200s:50s])', 300, 300, 1))
        assert ("k=a", 300) in got

    def test_range_selector_still_requires_selector(self):
        with pytest.raises(PromQLError, match="subquery"):
            parse_promql("rate((m * 2)[5m])")

    def test_agg_of_subquery_fn(self, tagged):
        got = rows(eval_promql(
            tagged, 'sum by (k) (max_over_time(m[200s:50s]))', 300, 300, 1))
        assert got[("k=a", 300)] == 3.0


class TestTimeFn:
    def test_time_minus_vector(self, tagged):
        # freshness: time() - last sample time proxy; b at t=300 is 25.0
        got = rows(eval_promql(tagged, 'time() - m{k="b"}', 300, 300, 1))
        assert got == {("k=b", 300): 275.0}

    def test_vector_div_time(self, tagged):
        got = rows(eval_promql(tagged, 'm{k="b"} / time()', 300, 300, 1))
        assert got[("k=b", 300)] == pytest.approx(25.0 / 300)

    def test_time_comparison_filter(self, tagged):
        # m < time() keeps everything at t=300 (2.0, 25.0 < 300)
        got = rows(eval_promql(tagged, "m < time()", 300, 300, 1))
        assert set(got) == {("__name__=m,k=a", 300), ("__name__=m,k=b", 300)}

    def test_rfc3339_api(self, prom_url):
        q = urllib.parse.urlencode({
            "query": 'm{k="b"}', "start": "1970-01-01T00:01:40Z",
            "end": "1970-01-01T00:05:00Z", "step": "100",
        })
        with urllib.request.urlopen(f"{prom_url}/api/v1/query_range?{q}", timeout=120) as r:
            got = json.loads(r.read())
        (series,) = got["data"]["result"]
        assert series["values"][0] == [100, "10.0"]


class TestMatchingModifiers:
    @pytest.fixture(scope="class")
    def two_metrics(self, spark):
        rows_ = [
            ("err?inst=1&job=api", {"__name__": "err", "inst": "1", "job": "api"}, 100, 2.0, 1),
            ("err?inst=2&job=api", {"__name__": "err", "inst": "2", "job": "api"}, 100, 4.0, 2),
            ("tot?inst=1", {"__name__": "tot", "inst": "1"}, 100, 10.0, 3),
            ("tot?inst=2", {"__name__": "tot", "inst": "2"}, 100, 8.0, 4),
        ]
        return spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )

    def test_default_matching_fails_on_extra_label(self, two_metrics):
        # err carries job=api, tot does not -> no pairs by default
        assert rows(eval_promql(two_metrics, "err / tot", 100, 100, 1)) == {}

    def test_on_restricts_match_key(self, two_metrics):
        got = rows(eval_promql(two_metrics, "err / on(inst) tot", 100, 100, 1))
        assert got == {
            ("inst=1,job=api", 100): 0.2,
            ("inst=2,job=api", 100): 0.5,
        }

    def test_ignoring_removes_labels(self, two_metrics):
        got = rows(eval_promql(two_metrics, "err / ignoring(job) tot", 100, 100, 1))
        assert got[("inst=1,job=api", 100)] == pytest.approx(0.2)

    def test_on_with_comparison(self, two_metrics):
        got = rows(eval_promql(
            two_metrics, "err > bool on(inst) tot", 100, 100, 1))
        assert got == {("inst=1,job=api", 100): 0.0, ("inst=2,job=api", 100): 0.0}

    def test_on_rejected_for_scalar(self):
        with pytest.raises(PromQLError):
            parse_promql("err / on(inst) 5")


class TestGroupModifiersAndPredict:
    @pytest.fixture(scope="class")
    def err_tot(self, spark):
        rows_ = [
            ("err?code=500&inst=1", {"__name__": "err", "code": "500", "inst": "1"}, 100, 2.0, 1),
            ("err?code=404&inst=1", {"__name__": "err", "code": "404", "inst": "1"}, 100, 6.0, 2),
            ("tot?inst=1", {"__name__": "tot", "inst": "1"}, 100, 10.0, 3),
        ]
        return spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )

    def test_group_left_many_to_one(self, err_tot):
        got = rows(eval_promql(
            err_tot, "err / on(inst) group_left tot", 100, 100, 1))
        assert got == {
            ("code=404,inst=1", 100): 0.6,
            ("code=500,inst=1", 100): 0.2,
        }

    def test_group_right_mirror(self, err_tot):
        got = rows(eval_promql(
            err_tot, "tot / on(inst) group_right err", 100, 100, 1))
        assert got == {
            ("code=404,inst=1", 100): pytest.approx(10 / 6),
            ("code=500,inst=1", 100): 5.0,
        }

    def test_predict_linear(self, spark):
        rows_ = [
            ("m?k=a", {"__name__": "m", "k": "a"}, 0, 0.0, 1),
            ("m?k=a", {"__name__": "m", "k": "a"}, 100, 10.0, 2),
        ]
        df = spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )
        got = rows(eval_promql(df, "predict_linear(m[200s], 100)", 100, 100, 1))
        assert got[("k=a", 100)] == pytest.approx(20.0)
        got = rows(eval_promql(df, "predict_linear(m[200s], 0)", 100, 100, 1))
        assert got[("k=a", 100)] == pytest.approx(10.0)

    def test_predict_requires_scalar(self):
        with pytest.raises(PromQLError):
            parse_promql("predict_linear(m[5m])")


class TestStatsFns:
    @pytest.fixture(scope="class")
    def series5(self, spark):
        vals = [10.0, 12.0, 11.0, 14.0, 16.0]
        rows_ = [("m?k=a", {"__name__": "m", "k": "a"}, 60 * i, v, i)
                 for i, v in enumerate(vals)]
        return spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )

    def test_stddev_stdvar_over_time(self, series5):
        # pop variance of [10,12,11,14,16] = 4.64
        got = rows(eval_promql(series5, "stdvar_over_time(m[300s])", 280, 280, 1))
        assert got[("k=a", 280)] == pytest.approx(4.64)
        got = rows(eval_promql(series5, "stddev_over_time(m[300s])", 280, 280, 1))
        assert got[("k=a", 280)] == pytest.approx(4.64 ** 0.5)

    def test_quantile_over_time(self, series5):
        got = rows(eval_promql(
            series5, "quantile_over_time(0.5, m[300s])", 280, 280, 1))
        assert got[("k=a", 280)] == 12.0

    def test_holt_winters_matches_reference_algo(self, series5):
        vals = [10.0, 12.0, 11.0, 14.0, 16.0]
        sf_, tf_ = 0.5, 0.3
        s0, s1, b = 0.0, vals[0], vals[1] - vals[0]
        for i in range(1, len(vals)):
            b2 = b if i - 1 == 0 else tf_ * (s1 - s0) + (1 - tf_) * b
            s0, s1, b = s1, sf_ * vals[i] + (1 - sf_) * (s1 + b2), b2
        got = rows(eval_promql(
            series5, "holt_winters(m[300s], 0.5, 0.3)", 280, 280, 1))
        assert got[("k=a", 280)] == pytest.approx(s1, rel=1e-12)

    def test_holt_winters_factor_range(self, series5):
        with pytest.raises(PromQLError):
            eval_promql(series5, "holt_winters(m[300s], 1.5, 0.3)", 280, 280, 1)

    def test_stddev_agg(self, tagged):
        # two series at t=300: 2.0 and 25.0 -> pop stddev = 11.5
        got = rows(eval_promql(tagged, "stddev(m)", 300, 300, 1))
        assert got[("", 300)] == pytest.approx(11.5)


class TestSetOperators:
    @pytest.fixture(scope="class")
    def ab(self, spark):
        rows_ = [
            ("a?k=x", {"__name__": "a", "k": "x"}, 100, 1.0, 1),
            ("a?k=y", {"__name__": "a", "k": "y"}, 100, 2.0, 2),
            ("b?k=y", {"__name__": "b", "k": "y"}, 100, 9.0, 3),
            ("b?k=z", {"__name__": "b", "k": "z"}, 100, 8.0, 4),
        ]
        return spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )

    def test_and(self, ab):
        got = rows(eval_promql(ab, "a and b", 100, 100, 1))
        assert got == {("__name__=a,k=y", 100): 2.0}

    def test_unless(self, ab):
        got = rows(eval_promql(ab, "a unless b", 100, 100, 1))
        assert got == {("__name__=a,k=x", 100): 1.0}

    def test_or(self, ab):
        got = rows(eval_promql(ab, "a or b", 100, 100, 1))
        assert got == {
            ("__name__=a,k=x", 100): 1.0,
            ("__name__=a,k=y", 100): 2.0,
            ("__name__=b,k=z", 100): 8.0,
        }

    def test_and_composes_with_comparison(self, ab):
        # alert shape: series above a threshold AND present in b
        got = rows(eval_promql(ab, "(a > 1.5) and b", 100, 100, 1))
        assert got == {("__name__=a,k=y", 100): 2.0}


class TestClampSgn:
    def test_clamp(self, tagged):
        got = rows(eval_promql(tagged, "clamp(m, 3, 20)", 300, 300, 1))
        assert got == {("k=a", 300): 3.0, ("k=b", 300): 20.0}

    def test_clamp_min_gt_max_empty(self, tagged):
        assert rows(eval_promql(tagged, "clamp(m, 5, 1)", 300, 300, 1)) == {}

    def test_sgn(self, tagged):
        got = rows(eval_promql(tagged, "sgn(m - 10)", 300, 300, 1))
        assert got == {("k=a", 300): -1.0, ("k=b", 300): 1.0}

    def test_clamp_arity(self):
        with pytest.raises(PromQLError):
            parse_promql("clamp(m, 1)")


class TestIrate:
    def test_irate_last_two_samples(self, tagged):
        # a: last two in (0,300] are (220,1.0),(280,2.0) -> 1/60
        got = rows(eval_promql(tagged, 'irate(m{k="a"}[300s])', 300, 300, 1))
        assert got[("k=a", 300)] == pytest.approx(1.0 / 60)

    def test_irate_counter_reset(self, tagged):
        # window (100,220]: samples (160,3.0),(220,1.0) -> reset: 1.0/60
        got = rows(eval_promql(tagged, 'irate(m{k="a"}[120s])', 220, 220, 1))
        assert got[("k=a", 220)] == pytest.approx(1.0 / 60)


class TestFormPost:
    def test_form_encoded_post_query(self, prom_url):
        import urllib.request as rq

        data = urllib.parse.urlencode({
            "query": 'm{k="b"}', "time": 300,
        }).encode()
        req = rq.Request(
            f"{prom_url}/api/v1/query", data=data,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        with rq.urlopen(req, timeout=120) as r:
            got = json.loads(r.read())
        assert got["status"] == "success"
        assert got["data"]["result"][0]["value"] == [300, "25.0"]

    def test_body_param_wins_over_url(self, prom_url):
        """Go's Request.FormValue reads POST body values before the URL
        query string, so a form-POSTed query overrides the URL's."""
        import urllib.request as rq

        data = urllib.parse.urlencode({"query": 'm{k="a"}', "time": 300}).encode()
        req = rq.Request(
            f"{prom_url}/api/v1/query?query=" + urllib.parse.quote('m{k="b"}'),
            data=data,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        with rq.urlopen(req, timeout=120) as r:
            got = json.loads(r.read())
        (res,) = got["data"]["result"]
        assert res["metric"]["k"] == "a"


class TestCountValues:
    def test_count_values(self, spark):
        rows_ = [
            ("m?k=a", {"__name__": "m", "k": "a"}, 100, 2.0, 1),
            ("m?k=b", {"__name__": "m", "k": "b"}, 100, 2.0, 2),
            ("m?k=c", {"__name__": "m", "k": "c"}, 100, 0.5, 3),
        ]
        df = spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )
        got = rows(eval_promql(df, 'count_values("val", m)', 100, 100, 1))
        assert got == {("val=2", 100): 2.0, ("val=0.5", 100): 1.0}

    def test_count_values_by(self, spark):
        rows_ = [
            ("m?k=a", {"__name__": "m", "k": "a"}, 100, 7.0, 1),
            ("m?k=b", {"__name__": "m", "k": "b"}, 100, 7.0, 2),
        ]
        df = spark.createDataFrame(
            rows_,
            "path string, tags map<string,string>, time long, value double, version long",
        )
        got = rows(eval_promql(df, 'count_values("v", m) by (k)', 100, 100, 1))
        assert got == {("k=a,v=7", 100): 1.0, ("k=b,v=7", 100): 1.0}

    def test_invalid_dst_label(self):
        with pytest.raises(PromQLError):
            parse_promql('count_values("not a label!", m)')


class TestPrecedence:
    """Upstream operator precedence: ^ > */% > +- > comparisons >
    and/unless > or; ^ right-associative (promql docs)."""

    def test_mul_binds_tighter_than_add(self):
        node = parse_promql("m + 2 * 3")  # rhs folds scalar-side
        assert isinstance(node, BinOp) and node.op == "+" and node.scalar == 6.0
        node = parse_promql("m * 2 + 3")
        assert node.op == "+" and node.scalar == 3.0
        inner = node.expr
        assert isinstance(inner, BinOp) and inner.op == "*" and inner.scalar == 2.0

    def test_vector_vector_precedence(self):
        from graphite_clickhouse_spark.plans.promql import VecBinOp

        node = parse_promql("a - b / c")
        assert isinstance(node, VecBinOp) and node.op == "-"
        assert isinstance(node.right, VecBinOp) and node.right.op == "/"

    def test_comparison_binds_looser_than_arith(self):
        node = parse_promql("m > 1 + 1")
        assert isinstance(node, BinOp) and node.op == ">" and node.scalar == 2.0

    def test_and_binds_tighter_than_or(self):
        from graphite_clickhouse_spark.plans.promql import VecBinOp

        node = parse_promql("a or b and c")
        assert isinstance(node, VecBinOp) and node.op == "or"
        assert isinstance(node.right, VecBinOp) and node.right.op == "and"

    def test_pow_right_assoc(self):
        node = parse_promql("m ^ 2 ^ 3")
        assert isinstance(node, BinOp) and node.op == "^" and node.scalar == 8.0

    def test_parenthesized_scalar_subexpr(self):
        node = parse_promql("m * (2 + 3)")
        assert isinstance(node, BinOp) and node.scalar == 5.0

    def test_scalar_comparison_requires_bool(self):
        with pytest.raises(PromQLError, match="BOOL"):
            parse_promql("m * (2 > 1)")
        node = parse_promql("m * (2 > bool 1)")
        assert node.scalar == 1.0

    def test_set_op_rejects_scalar(self):
        with pytest.raises(PromQLError, match="set operator"):
            parse_promql("m and 2")

    def test_unary_minus(self):
        node = parse_promql("-m")
        assert isinstance(node, BinOp) and node.op == "*"
        assert node.scalar == -1.0 and node.scalar_on_left
        node = parse_promql("m * -2")
        assert node.op == "*" and node.scalar == -2.0

    def test_mod_and_pow_eval(self, tagged):
        got = rows(eval_promql(tagged, "m % 3", 100, 100, 1))
        assert got[("k=a", 100)] == 1.0  # 1 % 3
        assert got[("k=b", 100)] == 1.0  # 10 % 3
        got = rows(eval_promql(tagged, "m ^ 2", 100, 100, 1))
        assert got[("k=b", 100)] == 100.0

    def test_precedence_eval_end_to_end(self, tagged):
        # (m * 2 + 3) at t=100: a=1 -> 5, b=10 -> 23 ; flat-left parse
        # would have computed (m+3)*2 = 8 / 26
        got = rows(eval_promql(tagged, "m * 2 + 3", 100, 100, 1))
        assert got[("k=a", 100)] == 5.0
        assert got[("k=b", 100)] == 23.0


class TestStringUnquote:
    def test_non_ascii_matcher_survives(self):
        node = parse_promql('m{k="café"}')
        assert node.matchers[1].value == "café"

    def test_escapes(self):
        node = parse_promql(r'm{k="a\nb\t\"c\\d"}')
        assert node.matchers[1].value == 'a\nb\t"c\\d'
        node = parse_promql(r'm{k="\x41é"}')
        assert node.matchers[1].value == "Aé"

    def test_bad_escape_rejected(self):
        with pytest.raises(PromQLError):
            parse_promql(r'm{k="\q"}')


class TestSubSecondDurations:
    def test_ms_multiple_of_second_ok(self):
        assert parse_duration("2000ms") == 2

    def test_fractional_ms_rejected(self):
        with pytest.raises(PromQLError, match="sub-second"):
            parse_duration("1500ms")

    def test_fractional_bare_step_rejected(self):
        with pytest.raises(PromQLError, match="sub-second"):
            parse_duration("0.5")


class TestDuplicateSeriesError:
    def test_one_to_one_duplicate_match_group_errors(self, tagged):
        # on(j): neither series has label j -> both collapse to the same
        # match group; upstream raises instead of multiplying pairs
        df = eval_promql(tagged, "m + on(j) m", 100, 100, 1)
        with pytest.raises(Exception, match="found duplicate series"):
            df.collect()

    def test_unique_match_groups_still_join(self, tagged):
        got = rows(eval_promql(tagged, "m + on(k) m", 100, 100, 1))
        assert got[("k=a", 100)] == 2.0
        assert got[("k=b", 100)] == 20.0


class TestSnappyCodec:
    def test_roundtrip_shapes(self):
        import random

        from graphite_clickhouse_spark.functions.snappy import (
            compress,
            decompress,
        )

        random.seed(7)
        cases = [
            b"", b"x", b"abcd" * 4, b"y" * 200000,
            bytes(random.randrange(256) for _ in range(70000)),
            b"prometheus remote read body " * 3000,
        ]
        for c in cases:
            assert decompress(compress(c)) == c

    def test_spec_vectors(self):
        from graphite_clickhouse_spark.functions.snappy import (
            SnappyError,
            decompress,
        )

        # literal-only stream: len=3, literal tag (len-1)<<2, payload
        assert decompress(b"\x03\x08abc") == b"abc"
        # overlapping copy1 (RLE): 'a' literal then copy off=1 len=4
        assert decompress(bytes([5, 0, ord("a"), 0b001, 1])) == b"aaaaa"
        with pytest.raises(SnappyError):
            decompress(b"\x05\x08abc")  # declared 5, produces 3
        with pytest.raises(SnappyError):
            decompress(b"")


class TestRemoteRead:
    @staticmethod
    def _read_request(queries):
        """Hand-encode a prompb ReadRequest: [(start_ms, end_ms,
        [(type,name,value)...])...]."""
        import struct as st

        def uv(v):
            out = b""
            while True:
                b = v & 0x7F
                v >>= 7
                if v:
                    out += bytes([b | 0x80])
                else:
                    return out + bytes([b])

        def ld(f, payload):
            return bytes([(f << 3) | 2]) + uv(len(payload)) + payload

        def s(f, txt):
            return ld(f, txt.encode())

        body = b""
        for start_ms, end_ms, matchers in queries:
            q = bytes([1 << 3]) + uv(start_ms) + bytes([2 << 3]) + uv(end_ms)
            for mtype, name, value in matchers:
                m = (bytes([1 << 3]) + uv(mtype)) + s(2, name) + s(3, value)
                q += ld(3, m)
            body += ld(1, q)
        return body

    @staticmethod
    def _parse_response(body):
        from graphite_clickhouse_spark.render.request import _decode_fields

        results = []
        for f, _w, qr in _decode_fields(body):
            assert f == 1
            series = []
            for f2, _w2, ts in _decode_fields(qr):
                assert f2 == 1
                labels, samples = {}, []
                for f3, _w3, v3 in _decode_fields(ts):
                    if f3 == 1:
                        parts = {ff: vv for ff, _ww, vv in _decode_fields(v3)}
                        labels[parts[1].decode()] = parts[2].decode()
                    else:
                        parts = {ff: (vv) for ff, _ww, vv in _decode_fields(v3)}
                        samples.append((parts.get(2, 0), parts[1]))
                series.append((labels, samples))
            results.append(series)
        return results

    def test_remote_read_roundtrip(self, prom_url):
        import urllib.request as rq

        from graphite_clickhouse_spark.functions.snappy import (
            compress,
            decompress,
        )

        body = compress(self._read_request([
            (100_000, 300_000, [(0, "__name__", "m"), (2, "k", "a|b")]),
        ]))
        req = rq.Request(
            f"{prom_url}/api/v1/read", data=body,
            headers={
                "Content-Type": "application/x-protobuf",
                "Content-Encoding": "snappy",
            },
        )
        with rq.urlopen(req, timeout=120) as r:
            assert r.headers["Content-Encoding"] == "snappy"
            raw = decompress(r.read())
        (series,) = self._parse_response(raw)
        assert len(series) == 2
        by_k = {s[0]["k"]: s for s in series}
        assert by_k["a"][0] == {"__name__": "m", "k": "a"}
        # all 4 samples of series a in [100s, 300s], ms timestamps, sorted
        assert by_k["a"][1] == [
            (100000, 1.0), (160000, 3.0), (220000, 1.0), (280000, 2.0)
        ]
        # series b: version dedup keeps 25.0 at t=220
        assert by_k["b"][1] == [(100000, 10.0), (220000, 25.0)]

    def test_remote_read_matcher_ops(self, prom_url):
        import urllib.request as rq

        from graphite_clickhouse_spark.functions.snappy import (
            compress,
            decompress,
        )

        # NEQ: k != a  -> only series b
        body = compress(self._read_request([
            (0, 400_000, [(0, "__name__", "m"), (1, "k", "a")]),
        ]))
        req = rq.Request(f"{prom_url}/api/v1/read", data=body,
                         headers={"Content-Type": "application/x-protobuf"})
        with rq.urlopen(req, timeout=120) as r:
            raw = decompress(r.read())
        (series,) = self._parse_response(raw)
        assert [s[0]["k"] for s in series] == ["b"]

    def test_slot_is_free_when_the_reply_is_written(self, spark, tagged):
        import io

        from graphite_clickhouse_spark import server
        from graphite_clickhouse_spark.functions.snappy import compress
        from graphite_clickhouse_spark.plans.limiter import (
            ClassLimiters,
            LimitExceeded,
        )
        from graphite_clickhouse_spark.render.pipeline import Engine

        cls = ClassLimiters(render=1, max_queue=0)
        free = []

        def probe(_data):
            try:
                with cls.render.enter():
                    free.append(True)
            except LimitExceeded:
                free.append(False)

        body = compress(self._read_request([
            (100_000, 300_000, [(0, "__name__", "m")]),
        ]))
        h = object.__new__(server.GraphiteHandler)
        h.limiters, h.user_limiters, h.settings = cls, {}, None
        h.engine = Engine(
            spark=spark,
            points=tagged.select("path", "time", "value", "version"),
            tagged_points=tagged,
        )
        h.path, h.command = "/api/v1/read", "POST"
        h.request_version, h.requestline = "HTTP/1.1", ""
        h.headers = {"Content-Length": str(len(body)),
                     "Content-Type": "application/x-protobuf"}
        h.rfile = io.BytesIO(body)
        h.wfile = type("Probe", (), {"write": lambda _self, d: probe(d)})()
        h._dispatch()
        assert free and all(free)

    def test_remote_read_plan_pushes_filters(self, tagged):
        from graphite_clickhouse_spark.plans.prometheus import LabelMatcher
        from graphite_clickhouse_spark.render.remote_read import (
            remote_read_frame,
        )

        df = remote_read_frame(
            tagged, [LabelMatcher("__name__", "=", "m")], 100, 300
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # one aggregate (version dedup), no join, no sort
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


class TestAtModifier:
    def test_parse_at_forms(self):
        node = parse_promql("m @ 300")
        assert node.at_ts == 300
        node = parse_promql("m @ start()")
        assert node.at_ts == "start"
        node = parse_promql("m offset 1m @ 300")
        assert node.offset == 60 and node.at_ts == 300
        node = parse_promql("m @ 300 offset 1m")
        assert node.offset == 60 and node.at_ts == 300
        node = parse_promql("rate(m[5m] @ end())")
        assert node.selector.at_ts == "end"
        with pytest.raises(PromQLError):
            parse_promql("m @ x")

    def test_instant_selector_pinned(self, tagged):
        # m @ 300 is constant across the whole grid: the value at t=300
        # (a: 2.0 via staleness, b: 25.0 after version dedup)
        got = rows(eval_promql(tagged, "m @ 300", 100, 300, 100))
        for t in (100, 200, 300):
            assert got[("__name__=m,k=a", t)] == 2.0
            assert got[("__name__=m,k=b", t)] == 25.0

    def test_at_end_matches_literal(self, tagged):
        lit = rows(eval_promql(tagged, "m @ 300", 100, 300, 100))
        sym = rows(eval_promql(tagged, "m @ end()", 100, 300, 100))
        assert lit == sym

    def test_range_fn_pinned(self, tagged):
        # rate over a window anchored at 300 equals the instant rate at
        # t=300, replicated at every step
        pinned = rows(eval_promql(tagged, "rate(m{k=\"a\"}[200s] @ 300)",
                                  100, 300, 100))
        instant = rows(eval_promql(tagged, "rate(m{k=\"a\"}[200s])",
                                  300, 300, 1))
        expect = instant[("k=a", 300)]
        assert pinned[("k=a", 100)] == pytest.approx(expect)
        assert pinned[("k=a", 300)] == pytest.approx(expect)

    def test_at_with_offset(self, tagged):
        # @300 offset 100s == evaluated at 200
        got = rows(eval_promql(tagged, 'm{k="b"} @ 300 offset 100s',
                               100, 300, 100))
        ref = rows(eval_promql(tagged, 'm{k="b"}', 200, 200, 1))
        assert got[("__name__=m,k=b", 100)] == ref[("__name__=m,k=b", 200)]


class TestFunctionSurface2:
    """Round-2 upstream function additions."""

    def test_trig_and_deg_rad(self, tagged):
        import math as m

        got = rows(eval_promql(tagged, 'sin(m{k="a"})', 100, 100, 1))
        assert got[("k=a", 100)] == pytest.approx(m.sin(1.0))
        got = rows(eval_promql(tagged, 'deg(m{k="a"})', 100, 100, 1))
        assert got[("k=a", 100)] == pytest.approx(m.degrees(1.0))
        got = rows(eval_promql(tagged, 'rad(deg(m{k="a"}))', 100, 100, 1))
        assert got[("k=a", 100)] == pytest.approx(1.0)

    def test_pi_folds_as_scalar(self, tagged):
        import math as m

        got = rows(eval_promql(tagged, 'm{k="a"} * pi()', 100, 100, 1))
        assert got[("k=a", 100)] == pytest.approx(m.pi)

    def test_time_components_on_values(self, tagged):
        # m{k=b} value at t=100 is 10.0 -> 1970-01-01T00:00:10Z
        got = rows(eval_promql(tagged, 'hour(m{k="b"})', 100, 100, 1))
        assert got[("k=b", 100)] == 0.0
        got = rows(eval_promql(tagged, 'year(m{k="b"})', 100, 100, 1))
        assert got[("k=b", 100)] == 1970.0

    def test_time_components_zero_arg(self, tagged):
        # hour() at eval time t: t=100 -> hour 0 of 1970-01-01
        got = {r.t: r.value for r in
               eval_promql(tagged, "hour()", 100, 300, 100).collect()}
        assert got == {100: 0.0, 200: 0.0, 300: 0.0}
        got = {r.t: r.value for r in
               eval_promql(tagged, "day_of_week()", 100, 100, 1).collect()}
        assert got[100] == 4.0  # 1970-01-01 was a Thursday

    def test_group_aggregator(self, tagged):
        got = rows(eval_promql(tagged, "group by (k) (m)", 100, 100, 1))
        assert got == {("k=a", 100): 1.0, ("k=b", 100): 1.0}

    def test_present_over_time(self, tagged):
        got = rows(eval_promql(tagged, "present_over_time(m[100s])",
                               300, 300, 1))
        assert got == {("k=a", 300): 1.0, ("k=b", 300): 1.0}

    def test_absent_over_time(self, tagged):
        # no samples after t=280: absent_over_time over a 50s window is
        # 1 from t=350 onward, absent (no rows) where samples exist
        got = {r.t: r.value for r in
               eval_promql(tagged, 'absent_over_time(m{k="a"}[50s])',
                           250, 450, 100).collect()}
        assert 250 not in got  # sample at 220 < 250 <= in (200, 250]? 220 yes
        assert got.get(450) == 1.0

    def test_scalar_fn(self, tagged):
        # scalar of a 1-series vector: usable in arithmetic against a
        # differently-labeled vector (t-only join)
        got = rows(eval_promql(tagged, 'm{k="a"} + scalar(m{k="b"})',
                               100, 100, 1))
        assert got[("k=a", 100)] == 11.0
        # >1 series -> NaN propagates
        import math as m

        got = rows(eval_promql(tagged, 'm{k="a"} + scalar(m)', 100, 100, 1))
        assert m.isnan(got[("k=a", 100)])

    def test_vector_fn_or_idiom(self, tagged):
        got = rows(eval_promql(tagged, 'sum(m{k="zzz"}) or vector(0)',
                               100, 100, 1))
        assert got == {("", 100): 0.0}
        got = rows(eval_promql(tagged, 'sum(m) or vector(0)', 100, 100, 1))
        assert got == {("", 100): 11.0}

    def test_timestamp_fn(self, tagged):
        # newest sample time within lookback at t=300: a->280, b->220
        got = rows(eval_promql(tagged, "timestamp(m)", 300, 300, 1))
        assert got[("k=a", 300)] == 280.0
        assert got[("k=b", 300)] == 220.0

    def test_double_exponential_smoothing_alias(self, tagged):
        a = rows(eval_promql(
            tagged, 'holt_winters(m{k="a"}[200s], 0.5, 0.5)', 300, 300, 1))
        b = rows(eval_promql(
            tagged,
            'double_exponential_smoothing(m{k="a"}[200s], 0.5, 0.5)',
            300, 300, 1))
        assert a == b


class TestRemoteWrite:
    @staticmethod
    def _write_request(serieses):
        """[(labels dict, [(ts_ms, value)])] -> prompb.WriteRequest."""
        import struct as st

        def uv(v):
            out = b""
            while True:
                b = v & 0x7F
                v >>= 7
                if v:
                    out += bytes([b | 0x80])
                else:
                    return out + bytes([b])

        def ld(f, payload):
            return bytes([(f << 3) | 2]) + uv(len(payload)) + payload

        body = b""
        for labels, samples in serieses:
            ts = b""
            for k, v in labels.items():
                ts += ld(1, ld(1, k.encode()) + ld(2, v.encode()))
            for t_ms, val in samples:
                ts += ld(2, b"\x09" + st.pack("<d", val) + bytes([2 << 3]) + uv(t_ms))
            body += ld(1, ts)
        return body

    def test_poison_timestamp_dropped_not_fatal(self, spark):
        """A hostile int64 sample timestamp must be dropped like a bad
        carbon line (uint32 wire bound), never reach timestamp_seconds —
        whose micros multiplication kills the whole write job with
        java.lang.ArithmeticException: long overflow (same poison-pill
        class the ingest differential fuzz found)."""
        from graphite_clickhouse_spark.render.remote_read import (
            write_request_to_points,
        )

        rows = write_request_to_points(spark, [
            ({"__name__": "vm"}, [
                (5000, 1.0),                      # sane: kept
                (2**62, 2.0),                     # absurd ms: dropped
                (-5000, 3.0),                     # negative: dropped
                (4294967295 * 1000 + 999, 4.0),   # uint32 max sec: kept
            ]),
        ], version=1).collect()
        got = sorted((r.time, r.value) for r in rows)
        assert got == [(5, 1.0), (4294967295, 4.0)]

    def test_write_then_query_roundtrip(self, spark, tmp_path):
        import urllib.request as rq

        from graphite_clickhouse_spark.functions.snappy import compress
        from graphite_clickhouse_spark.render.pipeline import Engine
        from graphite_clickhouse_spark.server import serve_background
        from graphite_clickhouse_spark.streaming.ingest import (
            IngestJob,
            tags_map_from_path,
        )

        job = IngestJob(str(tmp_path / "rw"), version=7)
        engine = Engine(
            spark=spark,
            points=spark.createDataFrame(
                [], "path string, value double, time long, version long"),
            ingest=job,
        )
        srv, base = serve_background(engine)
        try:
            body = compress(self._write_request([
                ({"__name__": "wm", "k": "a"}, [(100_000, 1.5), (160_000, 2.5)]),
                ({"__name__": "wm", "k": "b"}, [(100_000, 9.0)]),
                ({"k": "nameless"}, [(100_000, 0.0)]),  # dropped
            ]))
            req = rq.Request(f"{base}/api/v1/write", data=body,
                             headers={"Content-Type": "application/x-protobuf",
                                      "Content-Encoding": "snappy"})
            with rq.urlopen(req, timeout=120) as r:
                assert r.status == 204
        finally:
            srv.shutdown()

        pts = job.read_points(spark)
        rows_ = {(r.path, r.time): r.value for r in pts.collect()}
        assert rows_ == {
            ("wm?k=a", 100): 1.5, ("wm?k=a", 160): 2.5, ("wm?k=b", 100): 9.0,
        }
        # written samples are queryable through the PromQL surface
        tagged = pts.withColumn("tags", tags_map_from_path("path"))
        got = rows(eval_promql(tagged, 'wm{k="a"}', 160, 160, 1))
        assert got[("__name__=wm,k=a", 160)] == 2.5

    def test_write_without_sink_400(self, prom_url):
        import urllib.error
        import urllib.request as rq

        from graphite_clickhouse_spark.functions.snappy import compress

        req = rq.Request(f"{prom_url}/api/v1/write", data=compress(b"\x0a\x00"))
        with pytest.raises(urllib.error.HTTPError) as ei:
            rq.urlopen(req, timeout=60)
        assert ei.value.code == 400
        assert b"ingest" in ei.value.read()


class TestSortFns:
    def test_parse_and_passthrough(self, tagged):
        from graphite_clickhouse_spark.plans.promql import SortFn

        node = parse_promql("sort_desc(m)")
        assert isinstance(node, SortFn) and node.desc
        # evaluation is a passthrough (ordering is presentation-level)
        got = rows(eval_promql(tagged, "sort(m)", 300, 300, 1))
        assert got == rows(eval_promql(tagged, "m", 300, 300, 1))

    def test_instant_api_orders_by_value(self, prom_url):
        for fn, expect in (("sort", [2.0, 25.0]), ("sort_desc", [25.0, 2.0])):
            q = urllib.parse.urlencode({"query": f"{fn}(m)", "time": 300})
            with urllib.request.urlopen(
                f"{prom_url}/api/v1/query?{q}", timeout=120
            ) as r:
                got = json.loads(r.read())
            vals = [float(e["value"][1]) for e in got["data"]["result"]]
            assert vals == expect, (fn, vals)


class TestSnappyFuzz:
    def test_roundtrip_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from graphite_clickhouse_spark.functions.snappy import (
            compress,
            decompress,
        )

        @settings(max_examples=200, deadline=None)
        @given(st.binary(max_size=300_000))
        def roundtrip(data):
            assert decompress(compress(data)) == data

        roundtrip()

    def test_decompress_never_crashes_on_garbage(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from graphite_clickhouse_spark.functions.snappy import (
            SnappyError,
            decompress,
        )

        @settings(max_examples=300, deadline=None)
        @given(st.binary(max_size=4096))
        def fuzz(data):
            try:
                decompress(data)
            except SnappyError:
                pass  # the only allowed failure mode

        fuzz()


class TestReviewFixes:
    """Regression tests for the round-2 self-review findings."""

    def test_unary_minus_binds_below_pow(self):
        # upstream: unary has the precedence of *, below ^ -> -2^2 == -4
        with pytest.raises(PromQLError):  # top-level scalar still rejected
            parse_promql("-2 ^ 2")
        node = parse_promql("m * (-2 ^ 2)")
        assert isinstance(node, BinOp) and node.scalar == -4.0
        node = parse_promql("-m ^ 2")  # -(m^2): negation wraps the pow
        assert node.op == "*" and node.scalar == -1.0 and node.scalar_on_left
        inner = node.expr
        assert isinstance(inner, BinOp) and inner.op == "^" and inner.scalar == 2.0

    def test_duplicate_series_error_is_json_enveloped(self, prom_url):
        import urllib.error

        q = urllib.parse.urlencode({"query": "m + on(j) m", "time": 100})
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{prom_url}/api/v1/query?{q}", timeout=120)
        assert ei.value.code == 400
        body = json.loads(ei.value.read())
        assert body["status"] == "error"
        assert "found duplicate series" in body["error"]

    def test_absent_over_time_honors_at(self, tagged):
        # pinned at t=450 with a 50s window: no samples in (400, 450]
        # -> absent=1 replicated at EVERY grid step
        got = {r.t: r.value for r in
               eval_promql(tagged, 'absent_over_time(m{k="a"}[50s] @ 450)',
                           100, 300, 100).collect()}
        assert got == {100: 1.0, 200: 1.0, 300: 1.0}
        # pinned where samples exist: absent nowhere
        got = {r.t: r.value for r in
               eval_promql(tagged, 'absent_over_time(m{k="a"}[50s] @ 280)',
                           100, 300, 100).collect()}
        assert got == {}

    def test_remote_write_uses_job_version(self, spark, tmp_path):
        import urllib.request as rq

        from graphite_clickhouse_spark.functions.snappy import compress
        from graphite_clickhouse_spark.render.pipeline import Engine
        from graphite_clickhouse_spark.server import serve_background
        from graphite_clickhouse_spark.streaming.ingest import IngestJob

        job = IngestJob(str(tmp_path / "ver"), version=42)
        engine = Engine(
            spark=spark,
            points=spark.createDataFrame(
                [], "path string, value double, time long, version long"),
            ingest=job,
        )
        srv, base = serve_background(engine)
        try:
            body = compress(TestRemoteWrite._write_request(
                [({"__name__": "vm"}, [(5000, 1.0)])]))
            req = rq.Request(f"{base}/api/v1/write", data=body)
            rq.urlopen(req, timeout=120).read()
        finally:
            srv.shutdown()
        assert [r.version for r in job.read_points(spark).collect()] == [42]

    def test_corrupt_png_payload_quarantined_not_fatal(self, spark):
        from graphite_clickhouse_spark.pipeline.multimodal import (
            ASSET_SCHEMA,
            extract_features,
        )

        # valid PNG signature, garbage deflate body: decoder raises
        # zlib.error internally; the batch must survive via the fallback
        bogus = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
        df = spark.createDataFrame(
            [(1, "image", "image/png", bytearray(bogus), {})], ASSET_SCHEMA)
        (row,) = extract_features(df).collect()
        assert row.n_bytes == len(bogus)
        assert row.width == 16 + len(bogus) % 64  # deterministic fallback


class TestAtan2:
    def test_parse_precedence_and_eval(self, tagged):
        import math as m

        # binds like *: m atan2 2 + 1 == (m atan2 2) + 1
        node = parse_promql("m atan2 2 + 1")
        assert isinstance(node, BinOp) and node.op == "+" and node.scalar == 1.0
        assert node.expr.op == "atan2"
        got = rows(eval_promql(tagged, 'm{k="b"} atan2 2', 100, 100, 1))
        assert got[("k=b", 100)] == pytest.approx(m.atan2(10.0, 2.0))
        # scalar fold inside a vector context
        got = rows(eval_promql(tagged, 'm{k="b"} * (1 atan2 1)', 100, 100, 1))
        assert got[("k=b", 100)] == pytest.approx(10.0 * m.atan2(1, 1))
        # vector-vector
        got = rows(eval_promql(tagged, "m atan2 on(k) m", 100, 100, 1))
        assert got[("k=b", 100)] == pytest.approx(m.atan2(10.0, 10.0))


class TestPrecedenceFuzz:
    def test_scalar_folding_matches_python_eval(self):
        """Differential check: random +-* scalar expressions with parens
        must fold to exactly what Python evaluates (same precedence and
        associativity), via `m + (<expr>)` which forces a scalar fold."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        def exprs(depth):
            nums = st.integers(1, 9).map(str)
            if depth == 0:
                return nums
            sub = exprs(depth - 1)
            binop = st.tuples(sub, st.sampled_from([" + ", " - ", " * "]), sub).map(
                lambda t: t[0] + t[1] + t[2]
            )
            paren = sub.map(lambda s: f"({s})")
            return st.one_of(nums, binop, paren)

        @settings(max_examples=300, deadline=None)
        @given(exprs(3))
        def check(s):
            node = parse_promql(f"m + ({s})")
            assert isinstance(node, BinOp) and node.op == "+"
            assert node.scalar == float(eval(s))  # noqa: S307 — digits/ops only

        check()


class TestParserRobustness:
    """Adversarial inputs must raise PromQLError (-> 400), never
    RecursionError or anything else the HTTP layer can't map."""

    def test_deep_nesting_bounded(self):
        for expr in (
            "(" * 5000 + "1" + ")" * 5000,
            "-" * 10000 + "1",
            "sum(" * 500 + "x" + ")" * 500,
            "abs(" * 300 + "x" + ")" * 300,
        ):
            with pytest.raises(ValueError, match="nested deeper"):
                parse_promql(expr)

    def test_reasonable_nesting_still_parses(self):
        parse_promql("(" * 50 + "x" + ")" * 50)
        parse_promql("sum(" * 30 + "x" + ")" * 30)
        # flat chains are iterative, not recursive: no depth limit
        parse_promql("x" + " or x" * 500)

    def test_fuzz_never_escapes_value_error(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        alphabet = st.sampled_from(list("ab{}()[]=~!,.:+-*/^ @\"'0123456789ms"))

        @settings(max_examples=300, deadline=None)
        @given(st.text(alphabet, max_size=80))
        def check(expr):
            try:
                parse_promql(expr)
            except ValueError:
                pass

        check()

    def test_scalar_pow_saturates_like_go(self):
        """Fuzz-found: `10^309` overflowed CPython's math.pow mid
        constant-fold (Go's math.Pow saturates). Pin the found example
        plus the sign/NaN edges."""
        import math

        from graphite_clickhouse_spark.plans.promql import _scalar_fold

        assert _scalar_fold("^", 10.0, 309.0, False) == math.inf
        assert _scalar_fold("^", -10.0, 309.0, False) == -math.inf  # odd power
        assert _scalar_fold("^", -10.0, 310.0, False) == math.inf  # even power
        assert math.isnan(_scalar_fold("^", -2.0, 0.5, False))  # NaN, not error
        # the original found expression folds without escaping as
        # OverflowError (a scalar-typed top level is a normal parse error)
        try:
            parse_promql("10^309")
        except ValueError:
            pass

    def test_scalar_pow_zero_base_pole_matches_go(self):
        """CPython raises ValueError for 0^negative (a pole error), but
        Go's math.Pow returns +Inf for Pow(0, -1) / Pow(+0, any negative)
        and -Inf for Pow(-0, odd negative) — the IEEE 754 pow special
        cases (Go math/pow.go)."""
        import math

        from graphite_clickhouse_spark.plans.promql import _scalar_fold

        assert _scalar_fold("^", 0.0, -1.0, False) == math.inf
        assert _scalar_fold("^", 0.0, -2.0, False) == math.inf
        assert _scalar_fold("^", 0.0, -0.5, False) == math.inf
        assert _scalar_fold("^", -0.0, -1.0, False) == -math.inf  # odd int
        assert _scalar_fold("^", -0.0, -3.0, False) == -math.inf
        assert _scalar_fold("^", -0.0, -2.0, False) == math.inf  # even int
        assert _scalar_fold("^", -0.0, -0.5, False) == math.inf  # fractional
        # negative NON-zero base with fractional exponent stays NaN
        assert math.isnan(_scalar_fold("^", -2.0, 0.5, False))


def _jobs(spark, group, fn):
    """(Spark jobs fn ran, fn's result), counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


class TestPlanCache:
    """Engine.promql serves PromQL through the render plan cache: a
    repeated (query, start, end, step, lookback) returns the same
    unsorted DataFrame, and re-collecting it re-reads the last shuffle."""

    RATE = "sum by (k) (rate(m[300s]))"

    @pytest.fixture
    def engine(self, spark, tagged):
        from graphite_clickhouse_spark.render.pipeline import Engine

        return Engine(
            spark=spark,
            points=tagged.select("path", "time", "value", "version"),
            tagged_points=tagged,
        )

    def test_repeat_is_one_job(self, spark, tagged, engine):
        first = engine.promql(self.RATE, 100, 300, 100, 300)
        miss, got = _jobs(spark, "promql-cache-miss", first.collect)
        again = engine.promql(self.RATE, 100, 300, 100, 300)
        assert again is first
        hit, got_again = _jobs(spark, "promql-cache-hit", again.collect)
        ranged, want = _jobs(
            spark, "promql-sorted",
            eval_promql(tagged, self.RATE, 100, 300, 100).collect,
        )
        # the range sort costs a sampling job and a sort job
        assert (ranged, miss, hit) == (5, 3, 1)
        assert sorted(got, key=lambda r: (r.series, r.t)) == want
        assert got_again == got

    def test_every_key_field_misses(self, engine):
        base = engine.promql("m", 100, 300, 100, 300)
        for args in [
            ('m{k="a"}', 100, 300, 100, 300),
            ("m", 0, 300, 100, 300),
            ("m", 100, 400, 100, 300),
            ("m", 100, 300, 50, 300),
            ("m", 100, 300, 100, 60),
        ]:
            assert engine.promql(*args) is not base, args
        assert engine.promql("m", 100, 300, 100, 300) is base

    def test_refresh_frames_clears(self, spark, tagged):
        from graphite_clickhouse_spark.render.pipeline import Engine

        points = tagged.select("path", "time", "value", "version")
        engine = Engine(
            spark=spark, points=points, tagged_points=tagged,
            frame_loader=lambda: (points, None, tagged, tagged),
        )
        df = engine.promql("m", 100, 300, 100, 300)
        assert engine.promql("m", 100, 300, 100, 300) is df
        engine.refresh_frames(force=True)
        assert engine.promql("m", 100, 300, 100, 300) is not df


@pytest.fixture(scope="module")
def ordered_tagged(spark):
    """Five series whose canonical keys sort differently by case and by
    non-ASCII code point, written in scrambled series and time order."""
    rows = []
    version = 0
    for t in (300, 100, 200):
        for k in ("é", "b", "Z", "ä", "a"):
            version += 1
            rows.append((f"n?k={k}", {"__name__": "n", "k": k}, t,
                         float(t + ord(k)), version))
    return spark.createDataFrame(
        rows, "path string, tags map<string,string>, time long, value double, version long"
    )


class TestServedReply:
    """The HTTP replies built from the unsorted, cached frame."""

    @pytest.fixture(scope="class")
    def served(self, spark, tagged, ordered_tagged):
        from graphite_clickhouse_spark.render.pipeline import Engine
        from graphite_clickhouse_spark.server import serve_background

        both = tagged.unionByName(ordered_tagged)
        engine = Engine(
            spark=spark,
            points=both.select("path", "time", "value", "version"),
            tagged_points=both,
        )
        srv, url = serve_background(engine)
        yield url, both
        srv.shutdown()

    @staticmethod
    def _get(url, path, params):
        q = urllib.parse.urlencode(params)
        with urllib.request.urlopen(f"{url}{path}?{q}", timeout=120) as r:
            return r.read()

    def test_query_range_reply_is_canonically_ordered(self, served):
        url, both = served
        body = self._get(url, "/api/v1/query_range",
                         {"query": "n", "start": 100, "end": 300, "step": 100})
        # the reply the sorted eval_promql frame gives, grouped in order
        want: dict = {}
        for r in eval_promql(both, "n", 100, 300, 100).collect():
            want.setdefault(
                r.series, {"metric": dict(r.labels), "values": []}
            )["values"].append([r.t, repr(r.value)])
        expected = {"status": "success", "data": {
            "resultType": "matrix", "result": list(want.values())}}
        assert body == json.dumps(expected).encode()
        result = json.loads(body)["data"]["result"]
        assert [e["metric"]["k"] for e in result] == ["Z", "a", "b", "ä", "é"]
        for e in result:
            assert [v[0] for v in e["values"]] == [100, 200, 300]

    def test_collected_rows_are_sorted_on_the_driver(self, spark):
        """Rows collected in any order reply in (series, t) order: by
        series in UTF-8 byte order, then by ascending t."""
        from graphite_clickhouse_spark import server

        rows = [({"k": k}, f"k={k}", t, float(t))
                for t in (300, 100, 200) for k in ("é", "b", "Z", "ä")]
        df = spark.createDataFrame(
            rows, "labels map<string,string>, series string, t long, value double"
        )
        h = object.__new__(server.GraphiteHandler)
        h.settings = None
        sent = []
        h._send = lambda body, *a, **kw: sent.append(body)
        h._prom_result(df, "matrix")
        result = json.loads(sent[0])["data"]["result"]
        assert [e["metric"]["k"] for e in result] == ["Z", "b", "ä", "é"]
        for e in result:
            assert e["values"] == [[t, repr(float(t))] for t in (100, 200, 300)]

    def test_queries_build_once(self, served, monkeypatch):
        from graphite_clickhouse_spark.plans import promql

        url, _ = served
        builds = []
        real = promql.eval_promql

        def counting(*args, **kwargs):
            builds.append(args[1])
            return real(*args, **kwargs)

        monkeypatch.setattr(promql, "eval_promql", counting)
        instant = {"query": 'n{k="a"}', "time": 250}
        ranged = {"query": 'n{k="b"}', "start": 100, "end": 300, "step": 50}
        first = self._get(url, "/api/v1/query", instant)
        assert self._get(url, "/api/v1/query", instant) == first
        assert json.loads(first)["data"]["result"][0]["value"] == [250, "297.0"]
        first = self._get(url, "/api/v1/query_range", ranged)
        assert self._get(url, "/api/v1/query_range", ranged) == first
        assert builds == ['n{k="a"}', 'n{k="b"}']

    def test_repeated_many_to_many_match_is_400(self, served):
        params = {"query": "m + on(j) m", "start": 100, "end": 300,
                  "step": 100}
        url, _ = served
        for _ in range(2):
            with pytest.raises(urllib.error.HTTPError) as exc:
                self._get(url, "/api/v1/query_range", params)
            assert exc.value.code == 400
            err = json.loads(exc.value.read())
            assert "found duplicate series" in err["error"]
