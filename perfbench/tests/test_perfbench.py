"""Fast tests of the benchmark's own code: no server, no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402

ANCHOR = 1_792_195_200  # a UTC midnight


def declared() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def store():
    return gen.make_store(5, ANCHOR)


# -- determinism -------------------------------------------------------------


def test_same_seed_same_inputs():
    a, b = gen.make_store(3, ANCHOR), gen.make_store(3, ANCHOR)
    assert a.lines() == b.lines()
    assert gen.drain_lines(3, ANCHOR) == gen.drain_lines(3, ANCHOR)
    assert gen.dashboard_board(3, ANCHOR) == gen.dashboard_board(3, ANCHOR)
    assert gen.explore_scripts(3, ANCHOR, 2, 12) == gen.explore_scripts(3, ANCHOR, 2, 12)
    assert gen.probe_line(3, 100) == gen.probe_line(3, 100)


def test_other_seed_other_inputs():
    assert gen.make_store(3, ANCHOR).lines() != gen.make_store(4, ANCHOR).lines()
    assert gen.explore_scripts(3, ANCHOR, 2, 12) != gen.explore_scripts(4, ANCHOR, 2, 12)


def test_anchor_is_last_utc_midnight():
    assert gen.midnight_anchor(ANCHOR) == ANCHOR
    assert gen.midnight_anchor(ANCHOR + 86399) == ANCHOR


@pytest.mark.parametrize("make,mix", [(gen.explore_scripts, gen.EXPLORE_MIX),
                                      (gen.dashboard_scripts, gen.DASHBOARD_MIX)])
def test_blocks_have_fixed_counts_per_class(make, mix):
    warm, blocks = make(9, ANCHOR, 3, 12)
    assert [cls for cls, _s in blocks] == [cls for cls, _n in mix]
    for (cls, per_client), (_c, n) in zip(blocks, mix):
        assert len(per_client) == 3
        for script in per_client:
            assert len(script) == max(1, round(n * 12 / 20))
            assert {r.cls for r in script} == {cls}
    assert {r.cls for s in warm for r in s} == {cls for cls, _n in mix}


def test_dashboard_replays_one_board():
    board = gen.dashboard_board(9, ANCHOR)
    warm, blocks = gen.dashboard_scripts(9, ANCHOR, 2, 20)
    assert sorted(r.url for s in warm for r in s) == sorted(r.url for r in board)
    assert {r.url for _c, per in blocks for s in per for r in s} == {
        r.url for r in board}


def test_explore_never_repeats():
    warm, blocks = gen.explore_scripts(9, ANCHOR, 2, 20)
    urls = [r.url for s in warm for r in s] + [
        r.url for _c, per in blocks for s in per for r in s]
    assert len(urls) == len(set(urls))


def test_explore_shapes_do_not_depend_on_the_seed():
    def shapes(seed):
        _w, blocks = gen.explore_scripts(seed, ANCHOR, 2, 12)
        return [(r.cls, len(r.spec[0]) if r.cls != "promql" else r.spec[0],
                 r.spec[2] - r.spec[1] if r.cls in ("render", "tagged") else 0)
                for _c, per in blocks for s in per for r in s]
    assert shapes(1) == shapes(2)


def test_store_and_drains_fit_one_spool_file_each():
    assert gen.make_store(1, ANCHOR).lines().count(b"\n") < 50_000
    payload, n, _total, sentinel = gen.drain_lines(1, ANCHOR)
    assert n == payload.count(b"\n") < 50_000
    assert payload.rstrip().endswith(f"{sentinel} 1 {ANCHOR - gen.STEP}".encode())


# -- answers -----------------------------------------------------------------


def render_body(store, r) -> bytes:
    """What a correct server answers to render request `r`."""
    targets, from_ts, until_ts, mdp = r.spec
    series = []
    for t in targets:
        for s in gen.expected_render(store, t, from_ts, until_ts, mdp):
            series.append(dict(s, pathExpression=t))
    return json.dumps({"metrics": series}).encode()


def board(store):
    return {r.cls: r for r in gen.dashboard_board(5, store.anchor)}


def test_checker_accepts_right_answers(store):
    rs = gen.dashboard_board(5, store.anchor)
    for r in rs:
        if r.cls in ("render", "tagged"):
            gen.check(store, r, 200, render_body(store, r))
    f = board(store)["find"]
    rows = gen.expected_find(store, f.spec[0])
    body = "[" + ",".join('{path="%s"%s}' % (p, ",leaf=1" if leaf else "")
                          for p, leaf in rows) + "]\r\n"
    gen.check(store, f, 200, body.encode())
    t = board(store)["tags"]
    gen.check(store, t, 200, json.dumps(
        gen.expected_tag_values(store, t.spec[0], list(t.spec[1]), t.spec[2])).encode())


def test_checker_rejects_empty_answers(store):
    b = board(store)
    with pytest.raises(gen.Mismatch):
        gen.check(store, b["render"], 200, b'{"metrics":[]}')
    with pytest.raises(gen.Mismatch):
        gen.check(store, b["tagged"], 200, b'{"metrics":[]}')
    with pytest.raises(gen.Mismatch):
        gen.check(store, b["tags"], 200, b"[]")
    with pytest.raises(gen.Mismatch):
        gen.check(store, b["find"], 200, b"")
    with pytest.raises(gen.Mismatch):
        gen.check(store, b["promql"], 200,
                  b'{"status":"success","data":{"resultType":"matrix","result":[]}}')


def test_checker_rejects_wrong_answers(store):
    b = board(store)
    r = b["render"]
    doc = json.loads(render_body(store, r))
    i = next(k for k, v in enumerate(doc["metrics"][0]["values"]) if v is not None)
    doc["metrics"][0]["values"][i] += 1
    with pytest.raises(gen.Mismatch):
        gen.check(store, r, 200, json.dumps(doc).encode())
    doc = json.loads(render_body(store, r))
    doc["metrics"][0]["consolidationFunc"] = "max"
    with pytest.raises(gen.Mismatch):
        gen.check(store, r, 200, json.dumps(doc).encode())
    with pytest.raises(gen.Mismatch):
        gen.check(store, r, 500, render_body(store, r))
    t = b["tags"]
    vals = gen.expected_tag_values(store, t.spec[0], list(t.spec[1]), t.spec[2])
    with pytest.raises(gen.Mismatch):
        gen.check(store, t, 200, json.dumps(vals[:-1]).encode())


def test_render_rollup_avg_and_sum(store):
    i = store.plain.index("appA.host00.net.rx_bytes.sum")
    j = store.plain.index("appA.host00.cpu.user")
    start = store.start
    got = gen.expected_render(store, "appA.host00.{cpu.user,net.rx_bytes.sum}",
                              start, start + 3600, 30)
    assert [s["stepTime"] for s in got] == [120, 120]
    cpu, net = got
    assert cpu["consolidationFunc"] == "avg" and net["consolidationFunc"] == "sum"
    assert cpu["values"][0] == pytest.approx(store.plain_values[j][:2].mean())
    assert net["values"][0] == pytest.approx(store.plain_values[i][:2].sum())


def test_glob_and_tag_terms():
    rx = gen.glob_regex("appA.host{01,2*}.cpu.[us]*")
    assert rx.match("appA.host01.cpu.user") and rx.match("appA.host25.cpu.system")
    assert not rx.match("appA.host03.cpu.user")
    assert gen.tag_terms_match("m", {"dc": "dc1"}, ["name=m", "dc!=dc2", "dc=~dc[0-1]"])
    assert not gen.tag_terms_match("m", {"dc": "dc1"}, ["dc=dc2"])


def test_extrapolated_rate_of_a_straight_counter():
    import numpy as np

    ts = np.arange(0, 3600, 60)
    vs = 1000.0 + 5.0 * ts
    assert gen._extrapolated_rate(ts, vs, 1800, 300) == pytest.approx(5.0)


# -- metrics and the steadiness report ---------------------------------------


def test_every_printed_metric_is_declared():
    decl = declared()
    e2e = [(m["name"], m["unit"]) for m in decl["end_to_end"]]
    assert e2e == list(run.END_TO_END)
    per_layer = [(m["name"], m["unit"], m["better"]) for m in decl["per_layer"]]
    assert per_layer == layers.PER_LAYER
    assert sorted(w["name"] for w in decl["workloads"]) == sorted(run.WORKLOADS)


def test_idle_collections_are_read_from_the_gc_log(tmp_path):
    env = run.server_env(str(tmp_path), 4, 16000)
    opts = env["JAVA_TOOL_OPTIONS"].split()
    assert f"-XX:G1PeriodicGCInterval={run.IDLE_GC_S * 1000}" in opts
    assert f"-Xlog:gc:file={tmp_path / 'gc.log'}" in opts
    srv = object.__new__(run.Server)  # no process: only the log is read
    srv.gc_log = str(tmp_path / "gc.log")
    assert srv.idle_gcs() == 0
    (tmp_path / "gc.log").write_text(
        "[9.871s][info][gc] GC(40) Pause Young (Normal) (G1 Evacuation Pause)"
        " 627M->242M(952M) 13.030ms\n"
        "[14.102s][info][gc] GC(41) Pause Full (G1 Periodic Collection)"
        " 1375M->160M(440M) 251.123ms\n")
    assert srv.idle_gcs() == 1


def test_layer_metrics_from_a_synthetic_trace():
    # handler 0..1.0 s; resolve 0.1..0.2; build 0.2..0.5 with exec
    # 0.3..0.45 nested in it; one refresh that swapped frames
    spans = [
        ["server.handler", 0.0, 1.0, None, "c0-0", None],
        ["render.resolve", 0.1, 0.2, 0, "c0-0", None],
        ["render.build", 0.2, 0.5, 0, "c0-0", None],
        ["render.exec", 0.3, 0.45, 2, "c0-0", 7],
        ["render.refresh", 0.01, 0.05, 0, "c0-0", True],
        ["streaming.write_batch", 10.0, 12.0, None, None, None],
    ]
    selfs = layers.self_times(spans)
    assert selfs[0] == pytest.approx(1.0 - 0.1 - 0.3 - 0.04)
    assert selfs[2] == pytest.approx(0.3 - 0.15)
    trace = {"spans": spans, "jobs": {"c0-0": [2, 3, 9]},
             "counters": {"c0-0": {"plan_cache.lookups": 2, "plan_cache.hits": 1}}}
    samples = [("render", 0.0, 1.2, "c0-0")]
    drain = {"points": 100, "t0": 9.0, "t1": 13.0, "files": 2, "spool_s": 0.5}
    out = layers.layer_metrics(trace, samples, {"store_build_s": 3.0}, drain, 2.0)
    assert [n for n, _u, _b in layers.PER_LAYER] == list(out)
    assert out["render.exec_ms"][0] == pytest.approx(150.0)
    assert out["render.build_ms"][0] == pytest.approx(150.0)
    assert out["server.wait_ms"][0] == pytest.approx(200.0)
    assert out["render.plan_cache_hit_ratio"][0] == 0.5
    assert out["render.refreshes"][0] == 1.0
    assert out["render.series_per_req"][0] == 7.0
    assert out["session.tasks_per_req.render"][0] == 9.0
    assert out["streaming.batches"][0] == 1.0
    assert out["streaming.rows_per_batch"][0] == 100.0
    assert out["trace.coverage"][0] == pytest.approx(1 - selfs[0])
    assert all(math.isfinite(v) for v, _u in out.values())


def test_steadiness_report_flags_wide_spreads():
    decl = {"end_to_end": [{"name": "a_ms", "bound": 0.1},
                           {"name": "b_ms", "bound": 0.1},
                           {"name": "setup_s", "bound": 0.25}]}
    results = [{"correct": True, "failed": 0, "metrics": {
        "a_ms": {"value": 100 + k}, "b_ms": {"value": 100 * (1 + k % 2)},
        "setup_s": {"value": 20 * (1 + k % 2)}}}
        for k in range(8)]
    lines = steady.report(results, [{"samples": {"render": 10}}], decl)
    a = next(l for l in lines if l.startswith("a_ms"))
    b = next(l for l in lines if l.startswith("b_ms"))
    setup = next(l for l in lines if l.startswith("setup_s"))
    assert "FLAG" not in a and "FLAG" in b and "FLAG" in setup
    med, q1, q3, sp = steady.spread([1.0, 2.0, 3.0, 4.0])
    assert med == 2.5 and sp == pytest.approx((q3 - q1) / 2.5)
