import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from graphite_clickhouse_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def render_handler(monkeypatch):
    """Factory for a GraphiteHandler driven through its real request
    dispatch, without a socket or Spark: the engine resolves nothing, the
    data fetch returns no series, the render data-timeouts the last
    request applied are in `h.timeouts` (empty: no timeout), replies land in `h.replies` as
    (status, headers), and `on_fetch` runs inside the data fetch.
    `render_handler.Held` is a RequestLimiter that counts its holders."""
    import contextlib
    import io
    import types
    import urllib.parse

    from graphite_clickhouse_spark import server
    from graphite_clickhouse_spark.plans.limiter import RequestLimiter

    timeouts: list = []

    def run_with_data_timeout(spark, fn, timeout_sec, what):
        if what == "render":
            timeouts.append(timeout_sec)
        return fn()

    monkeypatch.setattr(server, "run_with_data_timeout", run_with_data_timeout)

    def make(tiers=(), limiters=None, user_limiters=None, user="",
             settings=None, on_fetch=None):
        h = object.__new__(server.GraphiteHandler)
        h.render_tiers = tuple(tiers)
        h.limiters = limiters
        h.user_limiters = user_limiters or {}
        h.settings = settings
        h.telemetry = None
        engine = types.SimpleNamespace(
            spark=None, resolve=lambda r: [], refresh_frames=lambda: False,
        )
        engine.request_view = lambda: engine
        h.engine = engine
        h.timeouts = timeouts
        h.replies = []

        def send(body, ctype="", status=200, headers=None):
            h.replies.append((status, headers))

        def render_series(reqs):
            if on_fetch is not None:
                on_fetch()
            return []

        h._send = send
        h._render_series = render_series

        def request(path, body=b""):
            h.path, h.command = path, "POST" if body else "GET"
            h.headers = {"Content-Length": str(len(body))}
            if user:
                h.headers["X-Forwarded-User"] = user
            h.rfile = io.BytesIO(body)
            timeouts.clear()
            h._dispatch()
            return h.replies[-1][0]

        def get(params: dict):
            return request("/render?" + urllib.parse.urlencode(params))

        def post_v3pb(frames):
            from test_request_limiter import encode_request

            body = encode_request(
                [{"target": "m", "start": f, "stop": u} for f, u in frames]
            )
            return request("/render?format=carbonapi_v3_pb", body)

        h.get, h.post_v3pb = get, post_v3pb
        return h

    class Held(RequestLimiter):
        held = 0

        @contextlib.contextmanager
        def enter(self):
            with super().enter():
                self.held += 1
                try:
                    yield
                finally:
                    self.held -= 1

    make.Held = Held
    return make
