"""Wire-format encoders for render/find results (SURVEY.md §2.1 S7-S12).

The reference streams hand-rolled protobuf / pickle / JSON straight from its
point iterator (render/reply/v3_pb.go:91-173, v2_pb.go:56-115,
pickle.go:28-155, json.go:23-78; find/find.go:50-245; index/index.go:23-120).

Spark shape: the heavy work (scan, filter, resample, gap-fill) happens in
executors and yields ONE ROW PER SERIES with a dense values array; encoding
that handful of rows into wire bytes is inherently a driver-side,
sequential-output task (an HTTP body), so these encoders are plain Python
over `collect()`-ed series — the idiomatic split, same as the reference
where ClickHouse aggregates and the Go process encodes.

Field layouts verified against the reference writers:
- carbonapi_v3_pb FetchResponse (v3_pb.go:96-165): 1 name, 2 pathExpression,
  3 consolidationFunc, 4 start, 5 stop, 6 step, 7 xFilesFactor(float32),
  8 highPrecisionTimestamps(bool), 9 values(packed double),
  11 requestStartTime, 12 requestStopTime; wrapped as MultiFetchResponse
  field 1 (repeated message).
- carbonapi_v2_pb FetchResponse (v2_pb.go:61-110): 1 name, 2 startTime,
  3 stopTime, 4 stepTime, 5 values(packed double, NaN->0),
  6 isAbsent(packed bool); wrapped as MultiFetchResponse field 1.
- pickle render (pickle.go:54-107): list of dicts {name, pathExpression,
  step, values(None for NaN), start, end}.
- JSON render (json.go:23-78): %f-formatted values, null for NaN/Inf,
  empty-string fields omitted.
- find: pickle {metric_path, isLeaf} dicts (find.go:50-91); v2 GlobResponse
  {1 name, 2 matches{1 path, 2 isLeaf}} (find.go:93-137); v3
  MultiGlobResponse{1 metrics} (find.go:139-191); JSON-ish
  `[{path="a.b",leaf=1},...]` text (find.go:193-245).
- /metrics/index.json: plain JSON array of paths (index/index.go:23-120).
"""

from __future__ import annotations

import json
import math
import pickle as _pickle
import struct
from dataclasses import dataclass, field
from typing import Iterable

# ---------------------------------------------------------------------------
# protobuf primitives (wire format is public: protobuf.dev/programming-guides/encoding)

_LEN = 2  # length-delimited wire type
_F32 = 5  # 32-bit wire type


def varint(value: int) -> bytes:
    # negatives encode as 64-bit two's complement (proto int64 wire rule);
    # without the mask Python's arbitrary-precision >> never reaches 0 and
    # a negative input would loop forever
    value &= 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field_no: int, wire_type: int = 0) -> bytes:
    return varint((field_no << 3) | wire_type)


def _len_delim(field_no: int, payload: bytes) -> bytes:
    return _tag(field_no, _LEN) + varint(len(payload)) + payload


def _string(field_no: int, s: str) -> bytes:
    return _len_delim(field_no, s.encode("utf-8"))


def _uvarint_field(field_no: int, value: int) -> bytes:
    return _tag(field_no) + varint(value)


# ---------------------------------------------------------------------------


@dataclass
class Series:
    """One gap-filled series, the unit every encoder consumes."""

    name: str
    path_expression: str
    function: str
    start: int
    stop: int
    step: int
    values: list[float]  # dense over [start, stop), NaN = missing
    request_start: int = 0
    request_stop: int = 0


def tagged_display_name(path: str) -> str:
    """Storage key -> display name: `name?k1=v1&k2=v2` becomes
    `name;k1=v1;k2=v2` with sorted, URL-unescaped tags (TaggedDecode /
    TaggedFinder.Abs, finder/tagged.go:565-603 — applied at the alias-map
    boundary, pkg/alias/map.go:54, so responses show graphite's semicolon
    form while storage keeps the sortable `?`-form)."""
    from urllib.parse import unquote

    if "?" not in path:
        return path
    name, _, args = path.partition("?")
    if not args:
        return unquote(name)
    tags = sorted(unquote(t) for t in args.split("&"))
    return ";".join([unquote(name), *tags])


def _series(row, target: str, from_ts: int, until_ts: int) -> Series:
    """One render result row -> encoder input. Whisper-style display
    names for any/anyLast (Data.GetAggregation, render/data/data.go:53-67);
    appended empty series bypass the mapping and report the literal
    "any" (ch_response.go:200-209). Null points become NaN."""
    from ..operators.resample import AGG_DISPLAY_NAME

    fn = row["function"]
    values = [float("nan") if v is None else v for v in row["values"]]
    if not all(math.isnan(v) for v in values):
        fn = AGG_DISPLAY_NAME.get(fn, fn)
    return Series(
        name=tagged_display_name(row["path"]),
        path_expression=target,
        function=fn,
        start=row["start"],
        stop=row["stop"],
        step=row["step"],
        values=values,
        request_start=from_ts,
        request_stop=until_ts,
    )


def series_from_render_multi(df, reqs) -> list[Series]:
    """Collect an Engine.render_multi() result (one unioned plan, a
    `target` column per row) into encoder input, ordered as requested:
    series group by target in request order, paths sorted within
    (render/data/ch_response.go:215-228 concatenation semantics)."""
    by_target = {r.target: i for i, r in enumerate(reqs)}
    frames = {r.target: (r.from_ts, r.until_ts) for r in reqs}
    rows = sorted(
        df.collect(), key=lambda r: (by_target.get(r["target"], 0), r["path"])
    )
    return [
        _series(row, row["target"], *frames.get(row["target"], (0, 0)))
        for row in rows
    ]


def series_from_render(df, target: str, from_ts: int, until_ts: int) -> list[Series]:
    """Collect an Engine.render() result DataFrame into encoder input."""
    return [_series(row, target, from_ts, until_ts) for row in df.collect()]


# ---------------------------------------------------------------------------
# render sinks


def encode_v3_pb(series: Iterable[Series]) -> bytes:
    """carbonapi_v3_pb MultiFetchResponse (render/reply/v3_pb.go:91-173)."""
    out = bytearray()
    for s in series:
        body = bytearray()
        body += _string(1, s.name)
        body += _string(2, s.path_expression)
        body += _string(3, s.function)
        body += _uvarint_field(4, s.start)
        body += _uvarint_field(5, s.stop)
        body += _uvarint_field(6, s.step)
        body += _tag(7, _F32) + struct.pack("<f", 0.0)  # xFilesFactor
        body += _tag(8) + b"\x00"  # highPrecisionTimestamps=false
        body += _len_delim(9, struct.pack(f"<{len(s.values)}d", *s.values))
        body += _uvarint_field(11, s.request_start)
        body += _uvarint_field(12, s.request_stop)
        out += _len_delim(1, bytes(body))
    return bytes(out)


def encode_v2_pb(series: Iterable[Series]) -> bytes:
    """carbonapi_v2_pb MultiFetchResponse (render/reply/v2_pb.go:56-115)."""
    out = bytearray()
    for s in series:
        vals = [0.0 if math.isnan(v) else v for v in s.values]
        absent = bytes(1 if math.isnan(v) else 0 for v in s.values)
        body = bytearray()
        body += _string(1, s.name)
        body += _uvarint_field(2, s.start)
        body += _uvarint_field(3, s.stop)
        body += _uvarint_field(4, s.step)
        body += _len_delim(5, struct.pack(f"<{len(vals)}d", *vals))
        body += _len_delim(6, absent)
        out += _len_delim(1, bytes(body))
    return bytes(out)


def encode_pickle(series: Iterable[Series]) -> bytes:
    """graphite-web pickle render format (render/reply/pickle.go:54-107)."""
    payload = [
        {
            "name": s.name,
            "pathExpression": s.path_expression,
            "step": s.step,
            "values": [None if math.isnan(v) else v for v in s.values],
            "start": s.start,
            "end": s.stop,
        }
        for s in series
    ]
    return _pickle.dumps(payload, protocol=2)


def encode_render_json(series: Iterable[Series]) -> bytes:
    """Debug JSON of MultiFetchResponse (render/reply/json.go:23-78).

    Byte-layout parity: %f value formatting, null for NaN/Inf, empty string
    fields omitted, highPrecisionTimestamp only when true.
    """
    parts = []
    for s in series:
        buf = []
        if s.name:
            buf.append(f'"name":{json.dumps(s.name)}')
        if s.path_expression:
            buf.append(f'"pathExpression":{json.dumps(s.path_expression)}')
        if s.function:
            buf.append(f'"consolidationFunc":{json.dumps(s.function)}')
        buf.append(f'"startTime":{s.start}')
        buf.append(f'"stopTime":{s.stop}')
        buf.append(f'"stepTime":{s.step}')
        buf.append(f'"xFilesFactor":{0.0:f}')
        if s.values:
            vals = ",".join(
                "null" if (math.isnan(v) or math.isinf(v)) else f"{v:f}" for v in s.values
            )
            buf.append(f'"values":[{vals}]')
        buf.append(f'"requestStartTime":{s.request_start}')
        buf.append(f'"requestStopTime":{s.request_stop}')
        parts.append("{" + ",".join(buf) + "}")
    return ('{"metrics":[' + ",".join(parts) + "]}").encode("utf-8")


# ---------------------------------------------------------------------------
# find sinks (rows: (path, is_leaf))

FindRows = Iterable[tuple[str, bool]]


def find_pickle(rows: FindRows, limit: int = 0) -> bytes:
    payload = []
    for path, is_leaf in rows:
        payload.append({"metric_path": path, "isLeaf": bool(is_leaf)})
        if limit and len(payload) >= limit:
            break
    return _pickle.dumps(payload, protocol=2)


def _glob_response(query: str, rows: FindRows, limit: int) -> bytes:
    body = bytearray(_string(1, query))
    n = 0
    for path, is_leaf in rows:
        match = _string(1, path) + _tag(2) + (b"\x01" if is_leaf else b"\x00")
        body += _len_delim(2, match)
        n += 1
        if limit and n >= limit:
            break
    return bytes(body)


def find_v2_pb(query: str, rows: FindRows, limit: int = 0) -> bytes:
    """carbonapi_v2_pb GlobResponse (find/find.go:93-137)."""
    return _glob_response(query, rows, limit)


def find_v3_pb(query: str, rows: FindRows, limit: int = 0) -> bytes:
    """carbonapi_v3_pb MultiGlobResponse (find/find.go:139-191)."""
    return _len_delim(1, _glob_response(query, rows, limit))


def find_json(rows: FindRows, limit: int = 0) -> bytes:
    """The reference's non-standard find JSON: [{path="a.b",leaf=1},...]
    (find/find.go:193-245) — replicated byte-for-byte including trailing
    CRLF; an EMPTY result writes no body at all (find.go:203-205), and
    the handler serves it as text/plain (find/handler_json_test.go)."""
    parts = []
    for path, is_leaf in rows:
        parts.append('{path="' + path + ('",leaf=1}' if is_leaf else '"}'))
        if limit and len(parts) >= limit:
            break
    if not parts:
        return b""
    return ("[" + ",".join(parts) + "]\r\n").encode("utf-8")


def index_json(paths: Iterable[str]) -> bytes:
    """/metrics/index.json: sorted JSON array, non-leaf ('.'-suffixed) paths
    skipped (index/index.go:23-120). Small-corpus convenience; the HTTP
    handler streams via index_json_chunks instead (namespaces reach
    10^7-10^8 entries, which must never be materialized driver-side)."""
    return json.dumps(sorted(p for p in paths if not p.endswith("."))).encode("utf-8")


def index_json_chunks(paths: Iterable[str], chunk_bytes: int = 1 << 16):
    """Streaming /metrics/index.json encoder: yields byte chunks of a
    JSON array from an ALREADY-SORTED path iterator without ever holding
    the full namespace (the reference writes row-by-row off the
    ClickHouse response stream, index/index.go:75-116; here the iterator
    is DataFrame.toLocalIterator over a Spark-sorted frame, so driver
    memory is one partition + one chunk buffer)."""
    buf = bytearray(b"[")
    first = True
    for p in paths:
        if p.endswith("."):
            continue
        if not first:
            buf += b","
        first = False
        buf += json.dumps(p).encode("utf-8")
        if len(buf) >= chunk_bytes:
            yield bytes(buf)
            buf.clear()
    buf += b"]"
    yield bytes(buf)


def capability_response_json(name: str) -> bytes:
    """/_internal/capabilities/ JSON body (capabilities/handler.go:73-94):
    gogoproto json tags carry omitempty, so the all-false bools and only
    the two set fields appear."""
    return json.dumps(
        {
            "supportedProtocols": [
                "carbonapi_v3_pb", "carbonapi_v2_pb", "graphite-web-pickle",
            ],
            "name": name,
        }
    ).encode()


def capability_response_v3_pb(name: str) -> bytes:
    """CapabilityResponse protobuf (go-graphite/protocol
    carbonapi_v3_pb.proto: supportedProtocols=1, name=2; the bool fields
    3-6 are false = proto3 default = omitted on the wire)."""
    out = b""
    for proto in ("carbonapi_v3_pb", "carbonapi_v2_pb", "graphite-web-pickle"):
        out += _string(1, proto)
    out += _string(2, name)
    return out
