"""Scalar-function tables mirroring the reference's exhaustive unit tests
(connector_test.go:479-561): severity_number_to_text and map_severity —
basics, *1 variants, *2 variants, case-insensitivity, aliases, invalids."""

import pytest

from weblog_pipeline.config import AttributeMappings, PipelineConfig
from weblog_pipeline.markers import SpanEvent
from weblog_pipeline.severity import (
    FULL_TEXT_DOMAIN,
    NUMBER_TO_TEXT,
    map_severity,
    severity_number_to_text,
)


# connector_test.go:479-502
@pytest.mark.parametrize(
    "number,expected",
    [
        (1, "trace"), (2, "trace2"), (3, "trace3"), (4, "trace4"),
        (5, "debug"), (6, "debug2"), (7, "debug3"), (8, "debug4"),
        (9, "info"), (10, "info2"), (11, "info3"), (12, "info4"),
        (13, "warn"), (14, "warn2"), (15, "warn3"), (16, "warn4"),
        (17, "error"), (18, "error2"), (19, "error3"), (20, "error4"),
        (21, "fatal"), (22, "fatal2"), (23, "fatal3"), (24, "fatal4"),
        (0, "info"),      # unspecified -> default
        (99, "info"),     # unknown -> default
        (-1, "info"),
    ],
)
def test_severity_number_to_text(number, expected):
    assert severity_number_to_text(number) == expected


# connector_test.go:505-561
@pytest.mark.parametrize(
    "text,exp_num,exp_text",
    [
        # basics
        ("trace", 1, "trace"), ("debug", 5, "debug"), ("info", 9, "info"),
        ("warn", 13, "warn"), ("error", 17, "error"), ("fatal", 21, "fatal"),
        # case-insensitivity
        ("INFO", 9, "info"), ("Error", 17, "error"), ("WARN", 13, "warn"),
        ("FaTaL", 21, "fatal"),
        # aliases
        ("warning", 13, "warn"), ("err", 17, "error"),
        ("WARNING", 13, "warn"), ("ERR", 17, "error"),
        # *1 variants resolve to base
        ("trace1", 1, "trace"), ("debug1", 5, "debug"), ("info1", 9, "info"),
        ("warn1", 13, "warn"), ("error1", 17, "error"), ("fatal1", 21, "fatal"),
        ("warning1", 13, "warn"), ("err1", 17, "error"),
        # *2..*4 variants are direct canonical texts
        ("trace2", 2, "trace2"), ("debug3", 7, "debug3"), ("info4", 12, "info4"),
        ("warn2", 14, "warn2"), ("error3", 19, "error3"), ("fatal4", 24, "fatal4"),
        # warningN -> warnN
        ("warning2", 14, "warn2"), ("warning3", 15, "warn3"),
        ("warning4", 16, "warn4"),
        # edge: "<canonicalN>1" resolves via suffix-trim to canonicalN
        ("trace21", 2, "trace2"),
        # invalids
        ("", 0, ""), ("bogus", 0, ""), ("critical", 0, ""),
        ("warn5", 0, ""), ("warning5", 0, ""), ("info5", 0, ""),
        ("unspecified", 0, ""), ("warning21", 0, ""),
    ],
)
def test_map_severity(text, exp_num, exp_text):
    assert map_severity(text) == (exp_num, exp_text)


def test_tables_are_consistent():
    assert len(NUMBER_TO_TEXT) == 24
    assert NUMBER_TO_TEXT[9] == "info"
    for key, num in FULL_TEXT_DOMAIN.items():
        assert key == key.lower()
        assert 1 <= num <= 24


# one event per branch of the precedence chain (connector.go:261-335):
# (event name, event attributes)
_CHAIN_EVENTS = [
    # number attribute: in range, unknown, beyond int32 (wraps), with and
    # without a text attribute, and a string where the int is expected
    ("x", {"sev.num": 17}),
    ("x", {"sev.num": 17, "sev.text": "Custom"}),
    ("x", {"sev.num": 99}),
    ("x", {"sev.num": 99, "sev.text": "loud"}),
    ("x", {"sev.num": 2**32 + 13}),
    ("x", {"sev.num": 2**31 + 5}),
    ("x", {"sev.num": -(2**40) - 3, "sev.text": "warn"}),
    ("exception", {"sev.num": "17"}),
    # text attribute: canonical, aliases, suffix forms, unparsable, empty,
    # an int where the string is expected
    ("x", {"sev.text": "ERROR"}),
    ("x", {"sev.text": "warning"}),
    ("x", {"sev.text": "err"}),
    ("x", {"sev.text": "trace21"}),
    ("x", {"sev.text": "warning3"}),
    ("exception", {"sev.text": "NOTICE"}),
    ("x", {"sev.text": ""}),
    ("x", {"sev.text": 5, "log.level": "debug2"}),
    # severity attribute: valid, invalid (falls through to the name)
    ("x", {"log.level": "Fatal2"}),
    ("db connection error", {"log.level": "bogus"}),
    # event name: longest match wins, an invalid mapped severity is dropped
    ("db connection error timeout", {}),
    ("an ERROR happened", {}),
    ("exception", {}),
    # no signal at all
    ("custom", {}),
]

_CHAIN_NAMES = (
    ("exception", "error"),
    ("connection error", "fatal"),
    ("connection error timeout", "unspecified"),
    ("error", "error2"),
)


@pytest.mark.parametrize(
    "cfg",
    [
        PipelineConfig(
            attribute_mappings=AttributeMappings(
                severity_number="sev.num", severity_text="sev.text"
            ),
            severity_attribute="log.level",
            severity_by_event_name=_CHAIN_NAMES,
        ),
        PipelineConfig(
            attribute_mappings=AttributeMappings(severity_number="sev.num"),
            severity_by_event_name=_CHAIN_NAMES,
        ),
        PipelineConfig(
            attribute_mappings=AttributeMappings(severity_text="sev.text"),
            severity_attribute="log.level",
        ),
        PipelineConfig(severity_attribute="log.level", severity_by_event_name=_CHAIN_NAMES),
        PipelineConfig(severity_by_event_name=()),
    ],
    ids=["full-chain", "number-only", "text-only", "no-mappings", "no-signal"],
)
def test_spark_severity_chain_matches_oracle(spark, cfg):
    """Spark's enrich_columns resolve (severity_number, severity_text) as
    oracle.resolve_severity does, for every branch of the chain."""
    from weblog_pipeline.enrich import enrich_columns
    from weblog_pipeline.oracle import resolve_severity
    from weblog_pipeline.parse import EVENT_SCHEMA

    events = [
        SpanEvent(trace_id="", span_id="", span_name="s", span_kind="k",
                  trace_state="", ts_ns=i, name=name, attrs=attrs)
        for i, (name, attrs) in enumerate(_CHAIN_EVENTS)
    ]
    rows = [
        (f"u{e.ts_ns}", None, "en", None, 1, None, 0, e.name, e.ts_ns, "", "", "s", "k", "",
         {k: v for k, v in e.attrs.items() if isinstance(v, str)},
         {k: v for k, v in e.attrs.items() if isinstance(v, int)},
         {}, {})
        for e in events
    ]
    df = spark.createDataFrame(rows, schema=EVENT_SCHEMA).select(*enrich_columns(cfg, 0))
    got = {r["ts_ns"]: (r["severity_number"], r["severity_text"]) for r in df.collect()}
    assert got == {e.ts_ns: resolve_severity(cfg, e) for e in events}
