"""Seeded inputs for the serving benchmark and the checker for its answers.

Everything the server sees comes from here: the carbon lines of the
store, the request scripts of every client, the drain batch and the
freshness probe. The same seed gives byte-identical lines and scripts.
The store is anchored to the last UTC midnight before the run, so its
date partition is the same at any hour of the day and wall-clock
windows (the 7-day autocomplete window, the find-cache TTL classes)
cover it.

The checker recomputes every answer from the generator's own values:
series names and rolled-up values for renders (avg by default, sum for
`*.sum` paths, per `rollup.xml`), path sets for finds, value lists for
autocomplete, label sets and sums for PromQL. An empty answer never
passes: the generator only asks questions whose answer is non-empty.
"""

from __future__ import annotations

import json
import random
import re
from dataclasses import dataclass, field
from urllib.parse import urlencode

import numpy as np

STEP = 60  # store resolution, seconds (rollup.xml precision)
# the store fits one 50k-line spool file, so the stream writes it as one
# micro-batch and its file layout is the same in every run
HOURS = 4
NPTS = HOURS * 3600 // STEP
PLAIN_HOSTS = 30
PLAIN_METRICS = ("cpu.user", "cpu.system", "mem.used",
                 "net.rx_bytes.sum", "net.tx_bytes.sum")
TAGGED_HOSTS = 16
DCS = 4
CPU_MODES = ("user", "system")
LOOKBACK = 300  # PromQL lookback-delta (server default)

# drain batch: new series in their own namespace, so reads never see
# them; with the sentinel it fits one 50k-line spool file
DRAIN_HOSTS = 100
DRAIN_PTS = 249  # points per drained series


def midnight_anchor(now: float) -> int:
    """The last UTC midnight at or before `now`."""
    return int(now) // 86400 * 86400


def _host(i: int) -> str:
    return f"host{i:02d}"


@dataclass
class Store:
    """The seeded metric store: names and a value matrix per kind."""

    seed: int
    anchor: int
    plain: list[str] = field(default_factory=list)
    plain_values: np.ndarray | None = None
    tagged: list[tuple[str, dict]] = field(default_factory=list)
    tagged_values: np.ndarray | None = None

    @property
    def start(self) -> int:
        return self.anchor - HOURS * 3600

    @property
    def times(self) -> np.ndarray:
        return self.start + STEP * np.arange(NPTS, dtype=np.int64)

    def lines(self) -> bytes:
        """Carbon plaintext for the whole store, plain then tagged."""
        times = [str(t) for t in self.times.tolist()]
        out = []
        for names, vals in ((self.plain, self.plain_values),
                            ([carbon_name(n, t) for n, t in self.tagged],
                             self.tagged_values)):
            for name, row in zip(names, vals.tolist()):
                out.extend(f"{name} {int(v)} {t}\n" for v, t in zip(row, times))
        return "".join(out).encode()

    @property
    def points(self) -> int:
        return (len(self.plain) + len(self.tagged)) * NPTS


def carbon_name(name: str, tags: dict) -> str:
    return ";".join([name, *(f"{k}={v}" for k, v in sorted(tags.items()))])


def tagged_series() -> list[tuple[str, dict]]:
    """(name, tags) of the tagged series: cpu gauges, then counters."""
    out = [("cpu_usage", {"dc": f"dc{h % DCS}", "host": _host(h), "mode": m})
           for h in range(TAGGED_HOSTS) for m in CPU_MODES]
    out += [("net_bytes_total", {"dc": f"dc{h % DCS}", "host": _host(h)})
            for h in range(TAGGED_HOSTS)]
    return out


def make_store(seed: int, anchor: int) -> Store:
    rng = np.random.default_rng(seed)
    st = Store(seed=seed, anchor=anchor)
    st.plain = [f"appA.{_host(h)}.{m}" for h in range(PLAIN_HOSTS)
                for m in PLAIN_METRICS]
    st.plain_values = rng.integers(0, 1000, (len(st.plain), NPTS)).astype(float)
    st.tagged = tagged_series()
    n_cpu = TAGGED_HOSTS * len(CPU_MODES)
    gauges = rng.integers(0, 1000, (n_cpu, NPTS)).astype(float)
    # counters: a random base plus cumulative random increments
    incs = rng.integers(0, 5000, (TAGGED_HOSTS, NPTS)).astype(float)
    base = rng.integers(0, 10**6, (TAGGED_HOSTS, 1)).astype(float)
    counters = base + np.cumsum(incs, axis=1)
    st.tagged_values = np.vstack([gauges, counters])
    return st


# ---------------------------------------------------------------------------
# glob and tag matching (the subset of graphite syntax the scripts use)


def _glob_body(pattern: str) -> str:
    out, i = [], 0
    while i < len(pattern):
        c = pattern[i]
        if c == "*":
            out.append("[^.]*")
        elif c == "?":
            out.append("[^.]")
        elif c == "{":
            j = pattern.index("}", i)
            out.append("(?:" + "|".join(_glob_body(a) for a in
                                         pattern[i + 1:j].split(",")) + ")")
            i = j
        elif c == "[":
            j = pattern.index("]", i)
            out.append(pattern[i:j + 1])
            i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out)


def glob_regex(pattern: str) -> re.Pattern:
    """Graphite glob -> anchored regex: `*`, `?`, `{a,b}`, `[...]`."""
    return re.compile("^" + _glob_body(pattern) + "$")


def tag_terms_match(name: str, tags: dict, terms: list[str]) -> bool:
    """seriesByTag / autocomplete `expr` terms: `k=v`, `k!=v`, `k=~re`."""
    labels = dict(tags, name=name)
    for term in terms:
        m = re.match(r"^([A-Za-z_]+)(!=|=~|=)(.*)$", term)
        key, op, val = m.groups()
        have = labels.get(key, "")
        if op == "=" and have != val:
            return False
        if op == "!=" and have == val:
            return False
        if op == "=~" and not re.match(val, have):
            return False
    return True


def series_by_tag_terms(target: str) -> list[str]:
    inner = target[target.index("(") + 1:target.rindex(")")]
    return [t.strip().strip("'\"") for t in inner.split(",")]


# ---------------------------------------------------------------------------
# expected answers


def _ceil_to(x: int, m: int) -> int:
    return -(-x // m) * m


def render_step(from_ts: int, until_ts: int, mdp: int) -> int:
    """common_step over the store's single precision (60 s)."""
    return _ceil_to(max(STEP, -(-(until_ts - from_ts) // mdp)), STEP)


def expected_render(store: Store, target: str, from_ts: int, until_ts: int,
                    mdp: int) -> list[dict]:
    """Series a render of `target` must return, ordered by storage path."""
    if target.startswith("seriesByTag"):
        terms = series_by_tag_terms(target)
        picked = [(carbon_name(n, t).replace(";", "?", 1).replace(";", "&"),
                   carbon_name(n, t), store.tagged_values[i], "avg")
                  for i, (n, t) in enumerate(store.tagged)
                  if tag_terms_match(n, t, terms)]
    else:
        rx = glob_regex(target)
        picked = [(p, p, store.plain_values[i],
                   "sum" if p.endswith(".sum") else "avg")
                  for i, p in enumerate(store.plain) if rx.match(p)]
    step = render_step(from_ts, until_ts, mdp)
    start = _ceil_to(from_ts, step)
    stop = until_ts - until_ts % step + step
    last = until_ts - until_ts % step + step - 1
    times = store.times
    keep = (times >= start) & (times <= last)
    buckets = (times - start) // step
    nb = (stop - start) // step
    out = []
    for _key, name, vals, fn in sorted(picked, key=lambda p: p[0]):
        if not keep.any():
            continue
        sums = np.bincount(buckets[keep], weights=vals[keep], minlength=nb)
        cnts = np.bincount(buckets[keep], minlength=nb)
        values = []
        for s, c in zip(sums.tolist(), cnts.tolist()):
            if c == 0:
                values.append(None)
            else:
                values.append(s if fn == "sum" else s / c)
        out.append({"name": name, "consolidationFunc": fn, "startTime": start,
                    "stopTime": stop, "stepTime": step, "values": values})
    return out


def expected_find(store: Store, query: str) -> list[tuple[str, bool]]:
    rx = glob_regex(query)
    level = query.count(".") + 1
    nodes: dict[str, bool] = {}
    for p in store.plain:
        parts = p.split(".")
        if len(parts) < level:
            continue
        node = ".".join(parts[:level])
        if rx.match(node):
            nodes[node] = nodes.get(node, False) or len(parts) == level
    return sorted(nodes.items())


def expected_tag_values(store: Store, tag: str, exprs: list[str],
                        prefix: str) -> list[str]:
    vals = {dict(t, name=n).get(tag) for n, t in store.tagged
            if tag_terms_match(n, t, exprs)}
    return sorted(v for v in vals if v is not None and v.startswith(prefix))


def _latest_sample(times: np.ndarray, ts: int, window: int):
    """Index of the newest sample in (ts - window, ts], or None."""
    i = int(np.searchsorted(times, ts, side="right")) - 1
    if i < 0 or times[i] <= ts - window:
        return None
    return i


def _extrapolated_rate(ts: np.ndarray, vs: np.ndarray, t: int, w: int):
    """Prometheus extrapolatedRate for a counter over (t - w, t]."""
    sel = (ts > t - w) & (ts <= t)
    s_t, s_v = ts[sel], vs[sel]
    if len(s_t) < 2:
        return None
    raw = 0.0
    for prev, cur in zip(s_v[:-1].tolist(), s_v[1:].tolist()):
        raw += cur if cur < prev else cur - prev
    sampled = float(s_t[-1] - s_t[0])
    avg = sampled / (len(s_t) - 1)
    dur_start = float(s_t[0] - (t - w))
    if dur_start >= avg * 1.1:
        dur_start = avg / 2
    if raw > 0 and s_v[0] >= 0:
        dur_zero = sampled * (s_v[0] / raw)
        if dur_zero < dur_start:
            dur_start = dur_zero
    dur_end = float(t - s_t[-1])
    if dur_end >= avg * 1.1:
        dur_end = avg / 2
    return raw * ((sampled + dur_start + dur_end) / sampled) / float(w)


def expected_promql(store: Store, q: dict) -> list[dict]:
    """`sum by (<by>) (<metric>{<matchers>})` or the same over
    `rate(<metric>[<w>])`: {labels-json: {ts: value}}."""
    times = store.times
    out: dict[str, dict[int, float]] = {}
    for i, (name, tags) in enumerate(store.tagged):
        if name != q["metric"] or any(tags.get(k) != v
                                      for k, v in q["match"].items()):
            continue
        group = json.dumps({q["by"]: tags[q["by"]]})
        vals = store.tagged_values[i]
        for t in range(q["start"], q["end"] + 1, q["step"]):
            if q["rate"]:
                v = _extrapolated_rate(times, vals, t, q["rate"])
            else:
                j = _latest_sample(times, t, LOOKBACK)
                v = None if j is None else float(vals[j])
            if v is not None:
                g = out.setdefault(group, {})
                g[t] = g.get(t, 0.0) + v
    return [{"metric": json.loads(k), "values": sorted(v.items())}
            for k, v in sorted(out.items())]


# ---------------------------------------------------------------------------
# requests


@dataclass(frozen=True)
class Request:
    """One HTTP request of a script: class, URL (path + query) and the
    parameters the checker needs."""

    cls: str  # render | find | tagged | promql | tags
    url: str
    spec: tuple = ()  # hashable check parameters, see check()


def render_request(targets: list[str], from_ts: int, until_ts: int, mdp: int,
                   no_cache: bool) -> Request:
    params = [("target", t) for t in targets] + [
        ("from", from_ts), ("until", until_ts), ("maxDataPoints", mdp),
        ("format", "json")]
    if no_cache:
        params.append(("noCache", 1))
    cls = "tagged" if targets[0].startswith("seriesByTag") else "render"
    return Request(cls, "/render?" + urlencode(params),
                   (tuple(targets), from_ts, until_ts, mdp))


def find_request(query: str, no_cache: bool) -> Request:
    params = [("query", query), ("format", "json")]
    if no_cache:
        params.append(("noCache", 1))
    return Request("find", "/metrics/find?" + urlencode(params), (query,))


def tags_request(tag: str, exprs: list[str], prefix: str,
                 no_cache: bool) -> Request:
    params = [("tag", tag)] + [("expr", e) for e in exprs]
    if prefix:
        params.append(("valuePrefix", prefix))
    if no_cache:
        params.append(("noCache", 1))
    return Request("tags", "/tags/autoComplete/values?" + urlencode(params),
                   (tag, tuple(exprs), prefix))


def promql_request(metric: str, match: dict, by: str, rate: int,
                   start: int, end: int, step: int) -> Request:
    sel = metric + ("{" + ",".join(f'{k}="{v}"' for k, v in sorted(match.items()))
                    + "}" if match else "")
    inner = f"rate({sel}[{rate}s])" if rate else sel
    expr = f"sum by ({by}) ({inner})"
    params = [("query", expr), ("start", start), ("end", end),
              ("step", f"{step}s")]
    spec = (metric, tuple(sorted(match.items())), by, rate, start, end, step)
    return Request("promql", "/api/v1/query_range?" + urlencode(params), spec)


def _hosts_glob(hosts: list[int]) -> str:
    return "host{" + ",".join(f"{h:02d}" for h in sorted(hosts)) + "}"


def dashboard_board(seed: int, anchor: int) -> list[Request]:
    """One Grafana-style board, one panel per request class: a glob
    render, a seriesByTag panel, a PromQL panel, and the template-variable
    find and autocomplete queries. Replaying the board serves the render
    and seriesByTag panels from the find cache (path resolution) and the
    render plan cache; the find and autocomplete variables send
    noCache=1, because a cache hit answers in about a millisecond and
    such a time is mostly the client's own overhead. (A multi-target
    panel would not do: `Engine.render_multi` builds a new union plan on
    every request, so it never hits the plan cache.)"""
    rng = random.Random(f"board-{seed}")
    start = anchor - 3 * 3600
    dc = rng.randrange(DCS)
    group = rng.randrange(PLAIN_HOSTS // 10)
    hosts = _hosts_glob(rng.sample(range(PLAIN_HOSTS), 6))
    return [
        render_request([f"appA.{hosts}.cpu.user"], start, anchor, 180, False),
        render_request([f"seriesByTag('name=cpu_usage','dc=dc{dc}')"],
                       start, anchor, 180, False),
        promql_request("net_bytes_total", {"dc": f"dc{dc}"}, "host", 300,
                       anchor - 2 * 3600, anchor - STEP, 120),
        find_request(f"appA.host{group}*.*", True),
        tags_request("host", ["name=cpu_usage", f"dc=dc{dc}"], "", True),
    ]


def explore_request(rng: random.Random, cls: str, anchor: int) -> Request:
    """A fresh ad-hoc request of class `cls`, with the find cache
    bypassed. Each class has one shape (span, maxDataPoints, glob or
    term form, PromQL function); the seed picks only which hosts, data
    centres, metrics and window offsets it covers, so every request of
    a class asks for about the same work in every run."""
    span = 3 * 3600 if cls in ("render", "tagged") else 2 * 3600
    until = anchor - rng.randrange(0, (HOURS * 3600 - span) // STEP) * STEP
    dc = f"dc{rng.randrange(DCS)}"
    if cls == "render":
        hosts = _hosts_glob(rng.sample(range(PLAIN_HOSTS), 4))
        return render_request([f"appA.{hosts}.{rng.choice(PLAIN_METRICS)}"],
                              until - span, until, 180, True)
    if cls == "find":
        hosts = _hosts_glob(rng.sample(range(PLAIN_HOSTS), 3))
        return find_request(f"appA.{hosts}.{rng.choice(('cpu', 'net'))}.*", True)
    if cls == "tagged":
        target = (f"seriesByTag('name=cpu_usage','dc={dc}',"
                  f"'mode={rng.choice(CPU_MODES)}')")
        return render_request([target], until - span, until, 180, True)
    if cls == "promql":
        return promql_request("net_bytes_total", {"dc": dc}, "host", 300,
                              until - span, until - STEP, 120)
    return tags_request("host", ["name=cpu_usage", f"dc={dc}",
                                 f"mode={rng.choice(CPU_MODES)}"],
                        rng.choice(("host", "host0", "host1")), True)


#: requests per client per 20 s of run time, by class, in the order the
#: timed phase runs the class blocks
EXPLORE_MIX = (("render", 5), ("find", 8), ("tagged", 6), ("promql", 4),
               ("tags", 8))
DASHBOARD_MIX = (("render", 16), ("tagged", 16), ("promql", 6), ("find", 12),
                 ("tags", 12))

#: (class, one script per client)
Block = tuple[str, list[list[Request]]]


def _count(n: int, seconds: int) -> int:
    return max(1, round(n * seconds / 20))


def dashboard_scripts(seed: int, anchor: int, clients: int,
                      seconds: int) -> tuple[list[list[Request]], list[Block]]:
    """(warm, blocks). The warm pass loads the board once, split over the
    clients. The timed phase replays the board class by class, a fixed
    count of the class's panel per client."""
    board = {r.cls: r for r in dashboard_board(seed, anchor)}
    panels = list(board.values())
    warm = [panels[c::clients] for c in range(clients)]
    blocks = [(cls, [[board[cls]] * _count(n, seconds) for _c in range(clients)])
              for cls, n in DASHBOARD_MIX]
    return warm, blocks


def explore_scripts(seed: int, anchor: int, clients: int,
                    seconds: int) -> tuple[list[list[Request]], list[Block]]:
    """(warm, blocks) of never-repeating requests. The warm pass holds one
    request per class, split over the clients; the timed phase has one
    block per class with a fixed count per client."""
    rng = random.Random(f"explore-{seed}")
    seen: set[str] = set()

    def fresh(cls: str) -> Request:
        for _try in range(1000):
            r = explore_request(rng, cls, anchor)
            if r.url not in seen and check_nonempty(r):
                seen.add(r.url)
                return r
        raise ValueError(f"no fresh {cls} request")

    classes = [cls for cls, _n in EXPLORE_MIX]
    warm = [[fresh(cls) for cls in classes[c::clients]] for c in range(clients)]
    blocks = [(cls, [[fresh(cls) for _k in range(_count(n, seconds))]
                     for _c in range(clients)]) for cls, n in EXPLORE_MIX]
    return warm, blocks


def check_nonempty(r: Request) -> bool:
    """Scripts only ask questions with a non-empty answer (the store is
    dense, so only the tag filters can come up empty)."""
    if r.cls == "tags":
        shape = Store(seed=0, anchor=0, tagged=tagged_series())
        return bool(expected_tag_values(shape, r.spec[0], list(r.spec[1]),
                                        r.spec[2]))
    return True


# ---------------------------------------------------------------------------
# ingest inputs


def drain_lines(seed: int, anchor: int) -> tuple[bytes, int, float, str]:
    """The drain batch: (carbon lines, point count, sum of values,
    sentinel path). Plain and tagged series under `live`, the sentinel
    last."""
    rng = np.random.default_rng([seed, 1])
    times = [str(anchor - (DRAIN_PTS - j) * STEP) for j in range(DRAIN_PTS)]
    names = [f"live.{_host(h)}.{m}" for h in range(DRAIN_HOSTS // 4)
             for m in PLAIN_METRICS[:4]]
    names += [f"live_cpu;dc=dc{h % DCS};host={_host(h)}"
              for h in range(DRAIN_HOSTS)]
    vals = rng.integers(0, 1000, (len(names), DRAIN_PTS))
    out = []
    for name, row in zip(names, vals.tolist()):
        out.extend(f"{name} {v} {t}\n" for v, t in zip(row, times))
    out.append(f"live.sentinel 1 {times[-1]}\n")
    return "".join(out).encode(), len(out), float(vals.sum()) + 1.0, "live.sentinel"


def probe_line(seed: int, now: int) -> tuple[str, bytes, int]:
    """(path, line, value) of the freshness probe."""
    path = f"probe.s{seed}"
    value = random.Random(f"probe-{seed}").randrange(1, 10**6)
    return path, f"{path} {value} {now}\n".encode(), value


# ---------------------------------------------------------------------------
# checking


class Mismatch(ValueError):
    pass


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 + 1e-9 * abs(b)


def _check_series_values(got: list, want: list, what: str) -> None:
    if len(got) != len(want):
        raise Mismatch(f"{what}: {len(got)} values, want {len(want)}")
    for g, w in zip(got, want):
        if (g is None) != (w is None) or (w is not None and not _close(g, w)):
            raise Mismatch(f"{what}: value {g!r}, want {w!r}")


def check(store: Store, r: Request, status: int, body: bytes) -> None:
    """Raise Mismatch unless `body` is the right answer to `r`."""
    if status != 200:
        raise Mismatch(f"{r.cls}: HTTP {status}: {body[:200]!r}")
    if r.cls in ("render", "tagged"):
        targets, from_ts, until_ts, mdp = r.spec
        got = json.loads(body)["metrics"]
        want = []
        for t in targets:
            want.extend(dict(s, pathExpression=t) for s in
                        expected_render(store, t, from_ts, until_ts, mdp))
        if not want or len(got) != len(want):
            raise Mismatch(f"{r.cls}: {len(got)} series, want {len(want)}")
        by_key = {(s["pathExpression"], s["name"]): s for s in got}
        for w in want:
            g = by_key.get((w["pathExpression"], w["name"]))
            if g is None:
                raise Mismatch(f"{r.cls}: missing series {w['name']}")
            for k in ("consolidationFunc", "startTime", "stopTime", "stepTime"):
                if g.get(k) != w[k]:
                    raise Mismatch(f"{r.cls}: {w['name']} {k}={g.get(k)!r}, "
                                   f"want {w[k]!r}")
            _check_series_values(g.get("values", []), w["values"], w["name"])
    elif r.cls == "find":
        want = expected_find(store, r.spec[0])
        got = sorted((m.group(1), bool(m.group(2))) for m in re.finditer(
            r'\{path="([^"]*)"(,leaf=1)?\}', body.decode()))
        if not want or got != want:
            raise Mismatch(f"find {r.spec[0]}: {len(got)} nodes, "
                           f"want {len(want)}")
    elif r.cls == "tags":
        tag, exprs, prefix = r.spec
        want = expected_tag_values(store, tag, list(exprs), prefix)
        got = json.loads(body)
        if not want or got != want:
            raise Mismatch(f"tags {tag}: {got[:5]!r}.., want {want[:5]!r}..")
    elif r.cls == "promql":
        metric, match, by, rate, start, end, step = r.spec
        want = expected_promql(store, {"metric": metric, "match": dict(match),
                                       "by": by, "rate": rate, "start": start,
                                       "end": end, "step": step})
        doc = json.loads(body)
        got = doc.get("data", {}).get("result", [])
        if not want or doc.get("status") != "success" or len(got) != len(want):
            raise Mismatch(f"promql: {len(got)} series, want {len(want)}")
        for g, w in zip(sorted(got, key=lambda s: json.dumps(s["metric"])),
                        want):
            if g["metric"] != w["metric"]:
                raise Mismatch(f"promql: labels {g['metric']}, want {w['metric']}")
            if [int(t) for t, _ in g["values"]] != [t for t, _ in w["values"]]:
                raise Mismatch(f"promql {w['metric']}: timestamps differ")
            _check_series_values([float(v) for _, v in g["values"]],
                                 [v for _, v in w["values"]], str(w["metric"]))
    else:
        raise Mismatch(f"unknown class {r.cls}")


def probe_visible(body: bytes, path: str, value: int) -> bool:
    """True once a render of the probe path carries the probe value."""
    try:
        metrics = json.loads(body).get("metrics", [])
    except ValueError:
        return False
    return any(s.get("name") == path and value in (s.get("values") or [])
               for s in metrics)
