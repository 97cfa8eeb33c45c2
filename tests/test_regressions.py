"""Regression tests for review findings: int span/resource attrs, ns->us
precision, ANSI-safe urls, int32 severity wrap."""

import pytest
from pyspark.sql import functions as F

from weblog_pipeline.config import AttributeMappings, PipelineConfig
from weblog_pipeline.enrich import attrs_rendered, enrich_columns
from weblog_pipeline.generate import gen_page
from weblog_pipeline.markers import SpanEvent, render_marker
from weblog_pipeline.oracle import populate_log_record, render_attrs
from weblog_pipeline.parse import event_rows, parse_events
from weblog_pipeline.pipeline import build_pipeline
from weblog_pipeline.severity import wrap_int32
from weblog_pipeline.webpages import WEBPAGES_SCHEMA

OBS_US = 1_751_600_000_000_000


def _page_df(spark, events, text="hello world"):
    html = (
        "".join(render_marker(e) for e in events) + f"<p>{text}</p>"
    ).encode()
    return spark.createDataFrame(
        [("https://r.example.com/1", None, bytearray(html), text, "en")],
        schema=WEBPAGES_SCHEMA,
    )


def _ev(**kw):
    base = dict(
        trace_id="0" * 32, span_id="0" * 16, span_name="s", span_kind="Server",
        trace_state="", ts_ns=1_764_223_148_031_154_866, name="custom",
        attrs={}, span_attrs={}, res_attrs={},
    )
    base.update(kw)
    return SpanEvent(**base)


def _run(spark, df, cfg):
    logs = event_rows(parse_events(df)).select(*enrich_columns(cfg, OBS_US))
    return logs.withColumn("attrs_str", attrs_rendered("attributes")).withColumn(
        "res_str", attrs_rendered("resource_attributes")
    ).collect()


def test_int_span_and_resource_attrs_propagate(spark):
    ev = _ev(
        span_attrs={"retry.count": 3, "m": "GET"},
        res_attrs={"r": 7},
    )
    cfg = PipelineConfig(
        log_attributes_from=("span.attributes", "resource.attributes")
    )
    [row] = _run(spark, _page_df(spark, [ev]), cfg)
    want = populate_log_record(cfg, ev, row["url"], OBS_US)
    assert row["attrs_str"] == render_attrs(want.attributes)
    assert "retry.count=3" in row["attrs_str"]
    assert row["res_str"] == render_attrs(want.resource_attributes) == "r=7"


def test_ts_ns_to_us_is_exact(spark):
    # 1764223148031154866 ns: double division rounds to ...155 us
    ev = _ev(ts_ns=1_764_223_148_031_154_866)
    [row] = _run(spark, _page_df(spark, [ev]), PipelineConfig())
    assert row["ts_ns"] == 1_764_223_148_031_154_866
    # exact floor division (…154 us), not float rounding (…155 us)
    assert row["ts"].microsecond == (1_764_223_148_031_154_866 // 1000) % 1_000_000


def test_malformed_url_does_not_crash_domain_agg(spark):
    page = gen_page(5)  # 5 events
    df = spark.createDataFrame(
        [("not a url%%", None, bytearray(page.html), page.text, "en")],
        schema=WEBPAGES_SCHEMA,
    )
    result = build_pipeline(df, PipelineConfig(), observed_ts_us=OBS_US)
    rows = result.per_domain.collect()  # must not raise under ANSI mode
    assert sum(r["records"] for r in rows) == 5
    assert all(r["domain"] is None for r in rows)


@pytest.mark.parametrize("raw,wrapped", [
    (5_000_000_000, 705_032_704),
    (2**31, -(2**31)),
    (-5_000_000_000, -705_032_704),
    (17, 17),
])
def test_severity_number_int32_wrap(spark, raw, wrapped):
    assert wrap_int32(raw) == wrapped
    ev = _ev(attrs={"sev": raw})
    cfg = PipelineConfig(
        attribute_mappings=AttributeMappings(severity_number="sev"),
        log_attributes_from=("event.attributes",),
    )
    [row] = _run(spark, _page_df(spark, [ev]), cfg)
    want = populate_log_record(cfg, ev, row["url"], OBS_US)
    assert row["severity_number"] == want.severity_number == wrapped
    assert row["severity_text"] == want.severity_text

def test_render_marker_rejects_grammar_violations():
    import pytest

    from weblog_pipeline.markers import parse_markers

    ok = SpanEvent(
        trace_id="ab" * 16, span_id="cd" * 8, span_name="s", span_kind="client",
        trace_state="", ts_ns=1, name="login attempt", attrs={"a": 1},
        span_attrs={}, res_attrs={},
    )
    assert parse_markers(render_marker(ok).encode())[0].name == "login attempt"

    import dataclasses

    bad_cases = [
        {"trace_id": "XY" * 16},                      # non-hex
        {"span_id": "cd" * 7},                        # wrong length
        {"span_name": "a/b"},                         # '/' splits span_ctx
        {"span_kind": "has space"},                   # ' ' splits fields
        {"name": "evil attrs={}"},                    # collides with ' attrs='
        {"ts_ns": -5},
        {"ts_ns": True},  # bool is an int subclass but not grammar-valid
        {"ts_ns": 2**63},                             # outside int64
        {"attrs": {"k": -(2**63) - 1}},               # outside int64
        {"span_attrs": {"k": 2**63}},                 # outside int64
        {"attrs": {"k": 1.5}},                        # float not in grammar
        {"attrs": {"k": True}},                       # bool not in grammar
        {"attrs": {"k": 'x"} span_attrs={"y": "z'}},  # payload collision
        {"res_attrs": {"k": "sneaky-->"}},            # comment terminator
    ]
    for override in bad_cases:
        ev = dataclasses.replace(ok, **override)
        with pytest.raises(ValueError):
            render_marker(ev)


def test_portable_normalizer_agrees_across_engines(spark):
    """Batched cross-engine property check for the shared text
    normalizer: on a stress set of unicode/control/edge strings (plus
    hypothesis-style deterministic pseudo-random unicode), Spark's
    tokenizer chain (trim + ascii_lower + WS_RE split, content hash) must
    agree byte-for-byte with the DuckDB twin expressions generated from
    the same constants. Guards the exact divergence class that made four
    driver rows hash-red in round 3 (Java \\s vs RE2, Unicode lower,
    NBSP trim)."""
    import random

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from weblog_pipeline import driver_queries as dq
    from weblog_pipeline.ops import dedup

    rng = random.Random(42)
    pool = (
        [chr(c) for c in range(0x20, 0x7F)]
        + list("\t\n\r\f\x0b\x00\x01\x7f")
        + list("   　​﻿ ")
        + list("İıΣσςßẞÀàé")
        + ["é", "\U0001f600", "\U0001d49e", "世", "Я"]
    )
    texts = [
        "".join(rng.choice(pool) for _ in range(rng.randrange(0, 40)))
        for _ in range(300)
    ]
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})

    sdf = spark.createDataFrame(pdf).select(
        "i",
        F.md5(
            F.regexp_replace(
                F.trim(dedup.ascii_lower(F.col("text"))), dedup.WS_RE, " "
            )
        ).alias("content_hash"),
        F.size(F.split(F.trim(F.col("text")), dedup.WS_RE)).alias("ntok"),
    )
    got = {r["i"]: (r["content_hash"], r["ntok"]) for r in sdf.collect()}

    con = duckdb.connect()
    con.register("t", pdf)
    rows = con.execute(
        f"SELECT i, md5({dq._SQL_NORM_TEXT}) AS content_hash, "
        f"len(regexp_split_to_array(trim(text, ' '), '{dq._SQL_WS}')) AS ntok "
        "FROM t"
    ).fetchall()
    want = {i: (h, n) for i, h, n in rows}
    mism = {i: (got[i], want[i]) for i in got if got[i] != want[i]}
    assert not mism, f"{len(mism)} cross-engine normalizer mismatches: " + str(
        {i: (texts[i], v) for i, v in list(mism.items())[:3]}
    )
