"""OTLP binary-protobuf trace encoding — the wire format OTLP/gRPC and
.pb file exports actually use, hand-rolled against the published
opentelemetry-proto schema (trace/v1/trace.proto, common/v1/common.proto;
field numbers cited inline). No protobuf runtime exists in this sandbox,
so the varint / length-delimited framing is implemented directly — the
same stdlib-first discipline as the media codecs.

Spark shape: encode/decode are per-row kernels over the flattened
span-event grain (otlp.py's JSON twin shares the column contract), mapped
by the package's row stage (`rows.map_rows`): one TracesData message per
row on encode, and a record walker on decode that flattens arbitrary
resource/scope/span/event nesting into 0..n rows per message.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .rows import map_rows

# wire types
_VARINT, _FIX64, _LEN = 0, 1, 2


def _w_varint(v: int) -> bytes:
    if v < 0:
        # python's arithmetic >> on a negative would never terminate;
        # callers mask int64 two's-complement explicitly
        raise ValueError("varint value must be non-negative (mask int64 first)")
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _w_tag(field: int, wire: int) -> bytes:
    return _w_varint((field << 3) | wire)


def _w_len(field: int, payload: bytes) -> bytes:
    return _w_tag(field, _LEN) + _w_varint(len(payload)) + payload


def _w_str(field: int, s: str) -> bytes:
    return _w_len(field, s.encode("utf-8"))


def _w_fix64(field: int, v: int) -> bytes:
    return _w_tag(field, _FIX64) + struct.pack("<Q", v)


def _r_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = v = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint overflow")


def _fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Walk a message's (field, wire, value) triples; len-delimited values
    come back as bytes, varints as int, fixed64 as int."""
    pos = 0
    while pos < len(buf):
        tag, pos = _r_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == _VARINT:
            v, pos = _r_varint(buf, pos)
            yield field, wire, v
        elif wire == _FIX64:
            if pos + 8 > len(buf):
                raise ValueError("truncated fixed64")
            yield field, wire, struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        elif wire == _LEN:
            ln, pos = _r_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("truncated length-delimited field")
            yield field, wire, buf[pos : pos + ln]
            pos += ln
        elif wire == 5:  # fixed32 (unused by this schema but walkable)
            if pos + 4 > len(buf):
                raise ValueError("truncated fixed32")
            yield field, wire, struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        else:
            raise ValueError(f"unsupported protobuf wire type {wire}")


# -- AnyValue / KeyValue (common/v1/common.proto) ----------------------------
# AnyValue: string_value=1, bool_value=2, int_value=3, double_value=4,
#           array_value=5, kvlist_value=6, bytes_value=7
# KeyValue: key=1, value=2


def _r_attrs(kv_blobs: list[bytes]) -> tuple[dict, dict]:
    """KeyValue list -> (string map, int map); other types ignored, as in
    the JSON twin."""
    s_map: dict[str, str] = {}
    i_map: dict[str, int] = {}
    for blob in kv_blobs:
        key = ""
        sval = ival = None
        for f, w, v in _fields(blob):
            if f == 1 and w == _LEN:
                key = v.decode("utf-8")
            elif f == 2 and w == _LEN:
                for f2, w2, v2 in _fields(v):
                    if f2 == 1 and w2 == _LEN:
                        sval = v2.decode("utf-8")
                    elif f2 == 3 and w2 == _VARINT:
                        ival = v2 - 2**64 if v2 >= 2**63 else v2
        if sval is not None:
            s_map[key] = sval
        elif ival is not None:
            i_map[key] = ival
    return s_map, i_map


#: Span.SpanKind enum (trace.proto) — ONE table shared with the JSON twin
#: so the two wire formats can never disagree on a kind string
from .otlp import SPAN_KIND_CODES as KIND_CODES  # noqa: E402

_KIND_NAMES = {v: k for k, v in KIND_CODES.items()}


def encode_record(row: dict) -> bytes:
    """One TracesData message (trace.proto: resource_spans=1) carrying one
    resource span -> one scope span -> one span -> one event, from a
    flattened span-event row (the parse.EVENT_SCHEMA column contract).

    Null tolerance follows proto3 semantics: a None string field or None
    map is simply ABSENT on the wire and decodes to the proto3 default
    ("" / {}); a negative ts_ns cannot exist in the uint64 fixed64 field
    and raises the quarantine ValueError class."""
    def _s(v) -> str:
        return "" if v is None else v

    def _m(v) -> dict:
        # a map arrives as a dict, or from Arrow as (key, value) pairs
        return {} if v is None else dict(v)

    ts_ns = row["ts_ns"]
    ts_ns = 0 if ts_ns is None else int(ts_ns)
    if ts_ns < 0:
        raise ValueError(f"ts_ns must be unsigned for OTLP fixed64: {ts_ns}")
    row = {
        **row,
        "ts_ns": ts_ns,
        "event_name": _s(row["event_name"]),
        "trace_id": _s(row["trace_id"]),
        "span_id": _s(row["span_id"]),
        "trace_state": _s(row["trace_state"]),
        "span_name": _s(row["span_name"]),
        "event_attrs_s": _m(row["event_attrs_s"]),
        "event_attrs_i": _m(row["event_attrs_i"]),
        "span_attrs": _m(row["span_attrs"]),
        "res_attrs": _m(row["res_attrs"]),
    }
    # Span.Event: time_unix_nano=1 (fixed64), name=2, attributes=3
    event = _w_fix64(1, row["ts_ns"]) + _w_str(2, row["event_name"])
    # None-valued map entries mirror the JSON twin's ignoreNullFields:
    # a null attribute value is simply absent on the wire
    for k, v in row["event_attrs_s"].items():
        if v is not None:
            event += _w_len(3, _w_str(1, k) + _w_len(2, _w_str(1, v)))
    for k, v in row["event_attrs_i"].items():
        if v is not None:
            event += _w_len(
                3,
                _w_str(1, k)
                + _w_len(2, _w_tag(3, _VARINT) + _w_varint(int(v) & (2**64 - 1))),
            )
    # Span: trace_id=1, span_id=2, trace_state=3, name=5, kind=6,
    # start_time_unix_nano=7, attributes=9, events=11
    span = (
        _w_len(1, bytes.fromhex(row["trace_id"]))
        + _w_len(2, bytes.fromhex(row["span_id"]))
        + _w_str(3, row["trace_state"])
        + _w_str(5, row["span_name"])
        + _w_tag(6, _VARINT)
        + _w_varint(KIND_CODES.get(row["span_kind"], 0))
        + _w_fix64(7, row["ts_ns"])
    )
    for k, v in row["span_attrs"].items():
        if v is not None:
            span += _w_len(9, _w_str(1, k) + _w_len(2, _w_str(1, v)))
    span += _w_len(11, event)
    # Resource: attributes=1; ResourceSpans: resource=1, scope_spans=2;
    # ScopeSpans: spans=2
    resource = b"".join(
        _w_len(1, _w_str(1, k) + _w_len(2, _w_str(1, v)))
        for k, v in row["res_attrs"].items()
        if v is not None
    )
    scope_spans = _w_len(2, span)
    resource_spans = _w_len(1, resource) + _w_len(2, scope_spans)
    return _w_len(1, resource_spans)


def decode_traces(blob: bytes) -> list[dict]:
    """TracesData bytes -> flattened span-event rows (any nesting)."""
    out: list[dict] = []
    for f, w, rs in _fields(blob):
        if f != 1 or w != _LEN:
            continue
        res_attr_blobs: list[bytes] = []
        scope_blobs: list[bytes] = []
        for f2, w2, v2 in _fields(rs):
            if f2 == 1 and w2 == _LEN:  # resource
                res_attr_blobs = [
                    v3 for f3, w3, v3 in _fields(v2) if f3 == 1 and w3 == _LEN
                ]
            elif f2 == 2 and w2 == _LEN:
                scope_blobs.append(v2)
        res_s, _ = _r_attrs(res_attr_blobs)
        for ss in scope_blobs:
            for f3, w3, span in _fields(ss):
                if f3 != 2 or w3 != _LEN:
                    continue
                meta = {
                    "trace_id": "",
                    "span_id": "",
                    "trace_state": "",
                    "span_name": "",
                    "span_kind": "Unspecified",
                }
                span_attr_blobs: list[bytes] = []
                events: list[bytes] = []
                for f4, w4, v4 in _fields(span):
                    if f4 == 1 and w4 == _LEN:
                        meta["trace_id"] = v4.hex()
                    elif f4 == 2 and w4 == _LEN:
                        meta["span_id"] = v4.hex()
                    elif f4 == 3 and w4 == _LEN:
                        meta["trace_state"] = v4.decode("utf-8")
                    elif f4 == 5 and w4 == _LEN:
                        meta["span_name"] = v4.decode("utf-8")
                    elif f4 == 6 and w4 == _VARINT:
                        meta["span_kind"] = _KIND_NAMES.get(v4, "Unspecified")
                    elif f4 == 9 and w4 == _LEN:
                        span_attr_blobs.append(v4)
                    elif f4 == 11 and w4 == _LEN:
                        events.append(v4)
                span_s, _ = _r_attrs(span_attr_blobs)
                for ev in events:
                    ts = 0
                    name = ""
                    ev_attr_blobs: list[bytes] = []
                    for f5, w5, v5 in _fields(ev):
                        if f5 == 1 and w5 == _FIX64:
                            ts = v5
                        elif f5 == 2 and w5 == _LEN:
                            name = v5.decode("utf-8")
                        elif f5 == 3 and w5 == _LEN:
                            ev_attr_blobs.append(v5)
                    ev_s, ev_i = _r_attrs(ev_attr_blobs)
                    out.append(
                        {
                            "event_name": name,
                            "ts_ns": ts,
                            **meta,
                            "event_attrs_s": ev_s,
                            "event_attrs_i": ev_i,
                            "span_attrs": span_s,
                            "res_attrs": res_s,
                        }
                    )
    return out


def encode_otlp_proto(events: DataFrame, out_col: str = "pb") -> DataFrame:
    """Flattened span events -> one TracesData protobuf blob per row."""
    cols = events.columns
    return map_rows(
        events,
        cols,
        T.StructType([T.StructField(out_col, T.BinaryType())]),
        lambda *row: [{out_col: encode_record(dict(zip(cols, row)))}],
    )


_EVENT_OUT_SCHEMA = (
    "event_name string, ts_ns long, trace_id string, span_id string, "
    "span_name string, span_kind string, trace_state string, "
    "event_attrs_s map<string,string>, event_attrs_i map<string,long>, "
    "span_attrs map<string,string>, res_attrs map<string,string>"
)


def decode_otlp_proto(df: DataFrame, col: str = "pb") -> DataFrame:
    """TracesData blobs -> flattened span-event rows."""
    return map_rows(df, [col], T.StructType.fromDDL(_EVENT_OUT_SCHEMA), decode_traces)
