"""OTLP binary-protobuf codec: varint/framing roundtrips, foreign
multi-span messages, negative int64 attributes, truncation, Spark UDFs."""

import pytest
from pyspark.sql import Row

from weblog_pipeline import otlp_proto as op


def _row(i=0, name="exception"):
    return dict(
        event_name=name,
        ts_ns=1_751_587_200_000_000_000 + i,
        trace_id=f"{i:032x}",
        span_id=f"{i:016x}",
        span_name="s",
        span_kind="Server",
        trace_state="st=1" if i % 2 else "",
        event_attrs_s={"k": f"v{i}"},
        event_attrs_i={"n": i - 5},  # negative for small i
        span_attrs={"http.method": "GET"},
        res_attrs={"service.name": "svc"},
    )


def test_record_roundtrip_pure_python():
    for i in range(6):
        row = _row(i)
        back = op.decode_traces(op.encode_record(row))
        assert len(back) == 1
        assert back[0] == row  # incl. two's-complement negative int64


def test_foreign_multi_span_message():
    # shapes the encoder never emits: (a) two resource_spans in one
    # TracesData (repeated field 1 = protobuf message concatenation);
    # (b) two spans under one scope_spans
    r1 = op.encode_record(_row(1))
    rs_payload = next(v for f, w, v in op._fields(r1) if f == 1)
    two = op._w_len(1, rs_payload) + op._w_len(1, rs_payload)
    back = op.decode_traces(two)
    assert len(back) == 2 and back[0] == back[1]

    resource = next(v for f, w, v in op._fields(rs_payload) if f == 1)
    scope = next(v for f, w, v in op._fields(rs_payload) if f == 2)
    span = next(v for f, w, v in op._fields(scope) if f == 2)
    rs2 = op._w_len(1, resource) + op._w_len(
        2, op._w_len(2, span) + op._w_len(2, span)
    )
    back2 = op.decode_traces(op._w_len(1, rs2))
    assert len(back2) == 2 and back2[0] == back2[1] == back[0]


def test_varint_edge_values():
    for v in (0, 1, 127, 128, 2**32, 2**63 - 1):
        buf = op._w_varint(v)
        got, pos = op._r_varint(buf, 0)
        assert got == v and pos == len(buf)


def test_truncation_raises_value_error():
    blob = op.encode_record(_row(3))
    for cut in range(1, len(blob), 7):
        try:
            op.decode_traces(blob[:cut])
        except ValueError:
            pass  # clean quarantine class only


def test_spark_roundtrip_matches_input(spark):
    rows = [Row(**_row(i, name=n)) for i, n in enumerate(["a", "b", "retry"])]
    df = spark.createDataFrame(rows)
    back = op.decode_otlp_proto(op.encode_otlp_proto(df))
    want = {r["trace_id"]: r.asDict() for r in df.collect()}
    got = {r["trace_id"]: r.asDict() for r in back.select(*df.columns).collect()}
    assert got == want


def test_encode_null_fields_proto3_defaults():
    # the JSON twin produces None for absent fields; proto3 semantics:
    # absent on the wire, default ("", {}) on decode — never a crash
    row = _row(1)
    row.update(trace_state=None, span_name=None, event_attrs_i=None,
               span_attrs=None)
    back = op.decode_traces(op.encode_record(row))[0]
    assert back["trace_state"] == "" and back["span_name"] == ""
    assert back["event_attrs_i"] == {} and back["span_attrs"] == {}
    import pytest as _pytest

    bad = _row(2)
    bad["ts_ns"] = -5
    with _pytest.raises(ValueError, match="unsigned"):
        op.encode_record(bad)


def test_spark_encode_null_fields_equals_encode_record(spark):
    """The Spark stage encodes NULL fields as encode_record does: a NULL
    ts_ns is the proto3 default 0, a NULL map is absent on the wire."""
    nulls = dict(_row(4), ts_ns=None, event_attrs_s=None, res_attrs=None)
    df = spark.createDataFrame([Row(**_row(3)), Row(**nulls)], spark.createDataFrame(
        [Row(**_row(3))]).schema)
    got = [bytes(r["pb"]) for r in op.encode_otlp_proto(df).collect()]
    assert got == [op.encode_record(_row(3)), op.encode_record(nulls)]
    assert op.decode_traces(got[1])[0]["ts_ns"] == 0


def test_kind_table_shared_with_json_twin():
    from weblog_pipeline import otlp

    assert op.KIND_CODES is otlp.SPAN_KIND_CODES
