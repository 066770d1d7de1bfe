"""carbonapi_v3_pb MultiFetchRequest parsing — the request side of the v3
protocol (reference render/reply/v3_pb.go:25-62 unmarshals it with
generated protobuf; we decode the same wire format directly).

MultiFetchRequest { repeated FetchRequest metrics = 1; }
FetchRequest {
  string name = 1;            // target expression
  int64 start_time = 2;  int64 stop_time = 3;
  bool high_precision_timestamps = 4;
  string path_expression = 5;
  int64 max_data_points = 6;
  repeated FilteringFunction filter_functions = 7;  // consolidateBy
}
FilteringFunction { string name = 1; repeated string arguments = 2; }
(field layout per the public go-graphite/protocol carbonapi_v3_pb schema;
consolidateBy handling: render/data/targets.go:134-177)
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field


@dataclass
class FetchRequest:
    target: str = ""
    start_time: int = 0
    stop_time: int = 0
    max_data_points: int = 0
    path_expression: str = ""
    consolidate_by: str | None = None
    filter_functions: list[tuple[str, list[str]]] = field(default_factory=list)


#: wire type of each known field (0 varint, 2 length-delimited)
_FETCH_REQUEST_WIRE_TYPES = {1: 2, 2: 0, 3: 0, 4: 0, 5: 2, 6: 0, 7: 2}
_MULTI_GLOB_REQUEST_WIRE_TYPES = {1: 2, 2: 0, 3: 0}


def _decode_fields(buf: bytes, wire_types: dict[int, int] | None = None):
    """Yield (field_no, wire_type, value) triples from a protobuf buffer.
    A field listed in `wire_types` that arrives with another wire type is
    malformed, as Go's proto.Unmarshal has it: otherwise bytes would reach
    an integer field (a timestamp) or an integer a string field."""
    i = 0
    n = len(buf)
    while i < n:
        key = 0
        shift = 0
        while True:
            b = buf[i]
            key |= (b & 0x7F) << shift
            i += 1
            if not b & 0x80:
                break
            shift += 7
        field_no, wire = key >> 3, key & 7
        if wire_types and wire_types.get(field_no, wire) != wire:
            raise ValueError(
                f"failed to parse request body: field {field_no} "
                f"has wire type {wire}"
            )
        if wire == 0:
            v = 0
            shift = 0
            while True:
                b = buf[i]
                v |= (b & 0x7F) << shift
                i += 1
                if not b & 0x80:
                    break
                shift += 7
            yield field_no, wire, v
        elif wire == 2:
            ln = 0
            shift = 0
            while True:
                b = buf[i]
                ln |= (b & 0x7F) << shift
                i += 1
                if not b & 0x80:
                    break
                shift += 7
            yield field_no, wire, buf[i : i + ln]
            i += ln
        elif wire == 5:
            yield field_no, wire, struct.unpack("<f", buf[i : i + 4])[0]
            i += 4
        elif wire == 1:
            yield field_no, wire, struct.unpack("<d", buf[i : i + 8])[0]
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _parse_filtering_function(buf: bytes) -> tuple[str, list[str]]:
    name, args = "", []
    for f, w, v in _decode_fields(buf):
        if f == 1:
            name = v.decode("utf-8")
        elif f == 2:
            args.append(v.decode("utf-8"))
    return name, args


def _parse_fetch_request(buf: bytes) -> FetchRequest:
    fr = FetchRequest()
    for f, w, v in _decode_fields(buf, _FETCH_REQUEST_WIRE_TYPES):
        if f == 1:
            fr.target = v.decode("utf-8")
        elif f == 2:
            fr.start_time = v
        elif f == 3:
            fr.stop_time = v
        elif f == 5:
            fr.path_expression = v.decode("utf-8")
        elif f == 6:
            fr.max_data_points = v
        elif f == 7:
            fr.filter_functions.append(_parse_filtering_function(v))
    # consolidateBy override (render/data/targets.go:134-177)
    for name, args in fr.filter_functions:
        if name == "consolidateBy" and args:
            fr.consolidate_by = args[0]
    if not fr.target and fr.path_expression:
        fr.target = fr.path_expression
    return fr


def bad_request_guard(fn):
    """Malformed protobuf in an untrusted POST body (truncated varint,
    short fixed field, invalid UTF-8) surfaces as IndexError /
    struct.error / UnicodeDecodeError from the wire decoder; a field
    sent with the WRONG wire type (a varint where a length-delimited
    submessage/string belongs) surfaces as TypeError/AttributeError when
    the int value hits bytes-consuming code (hypothesis-found). Map all
    of them to ValueError so the HTTP layer answers 400 like the
    reference's Unmarshal error path (render/handler.go /
    find/handler.go) instead of dropping the connection."""
    import functools

    @functools.wraps(fn)
    def wrap(body: bytes):
        try:
            return fn(body)
        except (IndexError, struct.error, UnicodeDecodeError, OverflowError,
                TypeError, AttributeError) as exc:
            raise ValueError(f"failed to parse request body: {exc}") from exc

    return wrap


@bad_request_guard
def parse_multi_fetch_request(body: bytes) -> list[FetchRequest]:
    """MultiFetchRequest bytes -> [FetchRequest] (v3_pb.go:25-62)."""
    out = []
    for f, w, v in _decode_fields(body):
        if f == 1 and w == 2:
            out.append(_parse_fetch_request(v))
    return out


@bad_request_guard
def parse_multi_glob_request(body: bytes) -> tuple[list[str], int, int]:
    """carbonapi_v3_pb MultiGlobRequest bytes -> (metrics, start, stop)
    (the find POST body, find/handler.go:84-109; built by the e2e client
    helper/client/find.go:49-54: metrics=1 repeated string, startTime=2,
    stopTime=3)."""
    metrics: list[str] = []
    start = stop = 0
    for f, w, v in _decode_fields(body, _MULTI_GLOB_REQUEST_WIRE_TYPES):
        if f == 1 and w == 2:
            metrics.append(v.decode("utf-8"))
        elif f == 2:
            start = v
        elif f == 3:
            stop = v
    return metrics, start, stop
