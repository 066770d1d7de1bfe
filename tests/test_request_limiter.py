"""v3_pb request parsing (round-trip with an independent encoder) and the
request limiter."""

import struct
import threading
import time

import pytest

from graphite_clickhouse_spark.plans.limiter import (
    AdaptiveLimiter,
    ClassLimiters,
    LimitExceeded,
    RequestLimiter,
)
from graphite_clickhouse_spark.render.request import parse_multi_fetch_request


def varint(v):
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            return bytes(out)


def ld(field, payload):
    return varint((field << 3) | 2) + varint(len(payload)) + payload


def vi(field, value):
    return varint(field << 3) + varint(value)


def encode_request(targets):
    body = b""
    for t in targets:
        fr = (
            ld(1, t["target"].encode())
            + vi(2, t["start"])
            + vi(3, t["stop"])
            + ld(5, t.get("pathexpr", t["target"]).encode())
            + vi(6, t.get("mdp", 0))
        )
        if "consolidate" in t:
            ff = ld(1, b"consolidateBy") + ld(2, t["consolidate"].encode())
            fr += ld(7, ff)
        body += ld(1, fr)
    return body


class TestParseV3Request:
    def test_roundtrip(self):
        body = encode_request(
            [
                {"target": "a.*.b", "start": 100, "stop": 200, "mdp": 50},
                {"target": "c.d", "start": 0, "stop": 60, "consolidate": "max"},
            ]
        )
        got = parse_multi_fetch_request(body)
        assert len(got) == 2
        assert (got[0].target, got[0].start_time, got[0].stop_time, got[0].max_data_points) == (
            "a.*.b", 100, 200, 50,
        )
        assert got[0].consolidate_by is None
        assert got[1].consolidate_by == "max"
        assert got[1].filter_functions == [("consolidateBy", ["max"])]

    def test_empty(self):
        assert parse_multi_fetch_request(b"") == []


class TestLimiter:
    def test_serializes_capacity(self):
        lim = RequestLimiter(capacity=1, max_queue=5, queue_timeout_sec=5)
        running = []
        peak = []

        def work(i):
            with lim.enter():
                running.append(i)
                peak.append(len(running))
                time.sleep(0.05)
                running.remove(i)

        ts = [threading.Thread(target=work, args=(i,)) for i in range(4)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert max(peak) == 1

    def test_timeout_raises(self):
        lim = RequestLimiter(capacity=1, max_queue=5, queue_timeout_sec=0.05)
        with lim.enter():
            with pytest.raises(LimitExceeded):
                with lim.enter():
                    pass

    def test_queue_full_fails_fast(self):
        lim = RequestLimiter(capacity=1, max_queue=0, queue_timeout_sec=10)
        with lim.enter():
            with pytest.raises(LimitExceeded):
                with lim.enter():
                    pass

    def test_class_limiters(self):
        cl = ClassLimiters(render=2, find=3, tags=4)
        with cl.render.enter(), cl.find.enter(), cl.tags.enter():
            pass

    @pytest.mark.parametrize("make", [
        lambda: RequestLimiter(1, max_queue=0),
        lambda: AdaptiveLimiter(1, 0, loadavg_fn=lambda: 0.0),
    ], ids=["request", "adaptive"])
    def test_early_release_is_idempotent(self, make):
        lim = make()
        with lim.enter() as release:
            release()
            release()  # the context exit releases nothing more, either
            with lim.enter():
                with pytest.raises(LimitExceeded):
                    with lim.enter():
                        pass
        with lim.enter():
            with pytest.raises(LimitExceeded):
                with lim.enter():
                    pass


class TestSlotReleasedBeforeReply:
    """A request holds its limiter slot for its Spark work only: by the
    time the reply is written the slot is free, so a slow reader cannot
    hold it."""

    def test_render(self, render_handler):
        from graphite_clickhouse_spark import server

        cls = ClassLimiters(render=1, max_queue=0)
        free = []

        def probe(*_args):
            try:
                with cls.render.enter():
                    free.append(True)
            except LimitExceeded:
                free.append(False)

        h = render_handler(limiters=cls, on_fetch=probe)
        h.wfile = type("Probe", (), {"write": probe})()
        h.request_version, h.requestline = "HTTP/1.1", ""
        stub = h._send

        def send(*args, **kwargs):
            stub(*args, **kwargs)
            server.GraphiteHandler._send(h, *args, **kwargs)

        h._send = send
        assert h.get({"target": "m", "from": "100", "until": "700"}) == 200
        # held during the fetch, free at every write of the reply
        assert free[0] is False and len(free) > 1 and all(free[1:])


class TestAdaptiveLimiter:
    """limiter/alimiter.go ALimiter + getWeighted truth table."""

    def test_get_weighted_reference_table(self):
        from graphite_clickhouse_spark.plans.limiter import get_weighted

        # below the 0.6 threshold: nothing reserved
        assert get_weighted(10, 16, 0.0) == 0
        assert get_weighted(10, 16, 0.59) == 0
        # n <= 0: disabled
        assert get_weighted(0, 16, 2.0) == 0
        # normal band: int(n * load)
        assert get_weighted(10, 16, 0.6) == 6
        assert get_weighted(10, 16, 1.0) == 10
        # saturation: never reserve every slot
        assert get_weighted(10, 8, 1.0) == 7
        assert get_weighted(10, 1, 5.0) == 1

    def test_capacity_shrinks_under_load(self):
        from graphite_clickhouse_spark.plans.limiter import (
            AdaptiveLimiter,
            LimitExceeded,
        )

        load = [0.0]
        lim = AdaptiveLimiter(
            concurrent=4, adaptive_n=3, max_queue=0,
            queue_timeout_sec=0.1, loadavg_fn=lambda: load[0],
            check_delay_sec=0.0,
        )
        # idle box: all 4 slots usable
        with lim.enter(), lim.enter(), lim.enter(), lim.enter():
            pass
        # loaded box: int(3 * 1.0) = 3 reserved -> 1 effective slot
        load[0] = 1.0
        with lim.enter():
            with pytest.raises(LimitExceeded):
                with lim.enter():
                    pass
        # load drops: capacity recovers
        load[0] = 0.1
        with lim.enter(), lim.enter():
            pass

    def test_config_wires_adaptive(self):
        from graphite_clickhouse_spark.config import load_settings
        from graphite_clickhouse_spark.plans.limiter import (
            AdaptiveLimiter,
            RequestLimiter,
        )

        s = load_settings(
            "[clickhouse]\nrender-concurrent-queries = 4\n"
            "render-adaptive-queries = 2\nfind-concurrent-queries = 8\n"
        )
        cls = s.class_limiters()
        assert isinstance(cls.render, AdaptiveLimiter)
        assert cls.render.concurrent == 4 and cls.render.adaptive_n == 2
        assert isinstance(cls.find, RequestLimiter)


class TestMalformedRequestBodies:
    """Untrusted POST bodies: malformed protobuf must raise ValueError
    (-> HTTP 400, the reference's Unmarshal error path) — never escape as
    IndexError/struct.error (connection drop) and never hang."""

    def test_truncated_and_garbage_raise_value_error(self):
        from graphite_clickhouse_spark.render.remote_read import (
            parse_read_request,
            parse_write_request,
        )
        from graphite_clickhouse_spark.render.request import (
            parse_multi_glob_request,
        )

        bad = [
            b"\x0a",              # length-delimited header, no length
            b"\x0a\x05ab",        # declared length 5, 2 bytes present
            b"\x80\x80\x80",      # unterminated varint
            b"\x0d\x01",          # fixed32 with 1 byte
            b"\x0a\x02\xff\xfe",  # invalid UTF-8 inside a string field
            # wire-type confusion (hypothesis-found): a varint where a
            # length-delimited string/submessage belongs hands an int to
            # bytes-consuming code — must 400, not TypeError/AttributeError
            b"\n\x02\x10\x00",
            b"\n\x02\x08\x00",
        ]
        for body in bad:
            for fn in (parse_multi_fetch_request, parse_multi_glob_request,
                       parse_read_request, parse_write_request):
                try:
                    fn(body)
                except ValueError:
                    pass  # expected for genuinely malformed shapes

    def test_wrong_wire_type_for_a_timestamp_raises(self):
        from graphite_clickhouse_spark.render.request import (
            parse_multi_glob_request,
        )

        # stop_time (field 3) sent length-delimited: bytes, not an int
        fetch = ld(1, ld(1, b"m") + vi(2, 0) + ld(3, b"\xb9\xf9"))
        glob = ld(1, b"m") + ld(3, b"\xb9\xf9")
        for fn, body in ((parse_multi_fetch_request, fetch),
                         (parse_multi_glob_request, glob)):
            with pytest.raises(ValueError, match="field 3 has wire type 2"):
                fn(body)

    def test_fuzz_random_bytes_never_escape_value_error(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from graphite_clickhouse_spark.render.remote_read import (
            parse_read_request,
            parse_write_request,
        )
        from graphite_clickhouse_spark.render.request import (
            parse_multi_glob_request,
        )

        @settings(max_examples=150, deadline=None)
        @given(st.binary(max_size=200))
        def check(body):
            for fn in (parse_multi_fetch_request, parse_multi_glob_request,
                       parse_read_request, parse_write_request):
                try:
                    fn(body)
                except ValueError:
                    pass

        check()

    def test_http_400_on_malformed_v3_pb_render_post(self, spark):
        import urllib.error
        import urllib.request

        import pytest

        from graphite_clickhouse_spark.render.pipeline import Engine
        from graphite_clickhouse_spark.server import serve_background
        from graphite_clickhouse_spark.sources.tables import (
            build_path_index,
            points_from_events,
        )

        points = points_from_events(spark, "/root/testdata/sf0.001")
        engine = Engine(
            spark=spark, points=points,
            path_index=build_path_index(points.select("path")),
        )
        srv, base = serve_background(engine)
        try:
            req = urllib.request.Request(
                f"{base}/render?format=carbonapi_v3_pb",
                data=b"\x0a\x05ab",  # truncated MultiFetchRequest
                headers={"Content-Type": "application/x-protobuf"},
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req, timeout=60)
            assert ei.value.code == 400
            assert b"failed to parse" in ei.value.read()
        finally:
            srv.shutdown()


def test_get_weighted_reference_table():
    """limiter/alimiter_test.go::Test_getWeighted verbatim."""
    from graphite_clickhouse_spark.plans.limiter import get_weighted

    table = [  # (load_avg, n, max, want)
        (0, 100, 100, 0), (0.2, 100, 100, 0), (0.7, 100, 100, 70),
        (0.8, 100, 100, 80), (0.999, 100, 100, 99), (0.999, 1, 100, 0),
        (1, 100, 1, 1), (1, 100, 100, 99), (1, 100, 101, 100),
        (1, 100, 200, 100), (2, 200, 100, 99), (2, 200, 200, 199),
        (2, 200, 300, 299), (2, 200, 400, 399), (2, 200, 401, 400),
        (2, 200, 402, 400),
    ]
    for load, n, mx, want in table:
        assert get_weighted(n, mx, load) == want, (load, n, mx)


class TestGetDataTimeoutReferenceTable:
    """render/data/multi_target_test.go::Test_getDataTimeout ported: the
    data tier follows the MAX duration across a request's timeframes,
    matched once the v3_pb body is parsed."""

    def _run(self, render_handler, tiers, frames):
        h = render_handler(tiers=tiers)
        assert h.post_v3pb(frames) == 200
        (timeout,) = h.timeouts
        return timeout

    def test_reference_rows(self, render_handler):
        one = [(0, None, 1.0, None)]
        two = [(0, None, 1.0, None), (3600, None, 60.0, None)]
        three = [(0, None, 1.0, None), (3600, None, 60.0, None),
                 (7200, None, 600.0, None)]
        run = lambda tiers, frames: self._run(render_handler, tiers, frames)
        # one tier: its timeout regardless
        assert run(one, [(1647198000, 1647234000)]) == 1.0
        # 1h - 1s -> default tier
        assert run(two, [(1647198000, 1647201600 - 1)]) == 1.0
        # exactly 1h -> the 1h tier
        assert run(two, [(1647198000, 1647201600)]) == 60.0
        assert run(three, [(1647198000, 1647201600)]) == 60.0
        # 2h 1s -> the 2h tier
        assert run(three, [(1647198000, 1647205201)]) == 600.0

    def test_max_across_timeframes(self, render_handler):
        three = [(0, None, 1.0, None), (3600, None, 60.0, None),
                 (7200, None, 600.0, None)]
        # a short frame plus a 3h frame: the MAX governs
        got = self._run(render_handler, three,
                        [(0, 60), (1647198000, 1647198000 + 3 * 3600)])
        assert got == 600.0


class TestDeferredV3pbLimiter:
    """A v3_pb render (range in the POST body) enters its limiter only
    after the body is parsed, and is charged to the CONCURRENCY LIMITER
    of the tier matched by the parsed max duration — GetQueryLimiter over
    MultiTarget (multi_target.go:92-115)."""

    def test_enters_matched_tier_limiter(self, render_handler):
        lim1h = render_handler.Held(4)
        seen = []
        h = render_handler(tiers=((3600, lim1h, 60.0, None),),
                           on_fetch=lambda: seen.append(lim1h.held))
        # 2h frame -> the 1h tier's limiter is held through the fetch
        assert h.post_v3pb([(0, 7200)]) == 200
        assert seen == [1]
        assert lim1h.held == 0  # released once the render is done

    def test_short_range_falls_to_class_limiter(self, render_handler):
        lim1h = RequestLimiter(1)
        cls = ClassLimiters(render=1)
        cls.render = render_handler.Held(1)
        seen = []
        h = render_handler(tiers=((3600, lim1h, 60.0, None),), limiters=cls,
                           on_fetch=lambda: seen.append(cls.render.held))
        # saturate the 1h tier's limiter: a SHORT v3_pb render must not
        # be blocked by it (it belongs to the class limiter)
        with lim1h.enter():
            assert h.post_v3pb([(0, 60)]) == 200
        assert seen == [1]

    def test_saturated_matched_tier_raises_503(self, render_handler):
        lim1h = RequestLimiter(1, max_queue=0, queue_timeout_sec=0.05)
        fetched = []
        h = render_handler(tiers=((3600, lim1h, 60.0, None),),
                           on_fetch=lambda: fetched.append(1))
        with lim1h.enter():
            assert h.post_v3pb([(0, 7200)]) == 503
        assert not fetched
