"""Config defaults + validation, mirroring TestCreateDefaultConfig
(connector_test.go:153-165) and Config.Validate (config/config.go:74-122)."""

import pytest

from weblog_pipeline.config import (
    DEFAULT_ROUTES,
    AttributeMappings,
    PipelineConfig,
    route_event,
)


def test_defaults_mirror_factory():
    cfg = PipelineConfig()
    assert cfg.include_span_context is True
    assert cfg.log_attributes_from == ("event.attributes", "resource.attributes")
    assert cfg.severity_by_event_name_dict == {"exception": "error"}
    assert cfg.add_level is False
    assert cfg.severity_attribute == ""
    assert cfg.include_event_names == ()
    assert cfg.attribute_mappings == AttributeMappings()


def test_invalid_attribute_source_rejected():
    with pytest.raises(ValueError, match="invalid log attributes source"):
        PipelineConfig(log_attributes_from=("bogus.attributes",))


def test_invalid_severity_rejected():
    with pytest.raises(ValueError, match="invalid severity level"):
        PipelineConfig(severity_by_event_name=(("exception", "critical"),))


def test_unspecified_severity_accepted_by_validation():
    # valid in config (config/config.go:112) though inert at runtime
    PipelineConfig(severity_by_event_name=(("x", "unspecified"),))


def test_from_dict_roundtrip():
    cfg = PipelineConfig.from_dict(
        {
            "include_event_names": ["a", "b"],
            "include_span_context": False,
            "log_attributes_from": ["event.attributes"],
            "severity_by_event_name": {"exception": "error", "retry": "warn"},
            "add_level": True,
            "severity_attribute": "log.level",
            "attribute_mappings": {"body": "event.body", "event_name": "event.name"},
        }
    )
    assert cfg.include_event_names == ("a", "b")
    assert cfg.include_span_context is False
    assert cfg.severity_by_event_name_dict == {"exception": "error", "retry": "warn"}
    assert cfg.attribute_mappings.body == "event.body"
    assert cfg.attribute_mappings.severity_number == ""


@pytest.mark.parametrize(
    "raw,key",
    [
        ({"include_event_name": ["exception"]}, "include_event_name"),
        ({"attribute_mappings": {"bdy": "event.body"}}, "attribute_mappings.bdy"),
    ],
)
def test_from_dict_rejects_unknown_keys(raw, key):
    # a misspelled key must not silently fall back to its default (here
    # the pass-all event filter or a disabled body mapping)
    with pytest.raises(ValueError, match=f"unknown config keys: {key}$"):
        PipelineConfig.from_dict(raw)


@pytest.mark.parametrize(
    "name,sink",
    [
        ("exception", "sink_errors"),
        ("database connection error", "sink_errors"),
        ("backend.db.write_item.success", "sink_db"),
        ("db.query", "sink_db"),
        ("retry", "sink_retries"),
        ("custom", "sink_default"),
        ("database", "sink_default"),  # 'db.' is a literal prefix
    ],
)
def test_default_router(name, sink):
    assert route_event(name, DEFAULT_ROUTES) == sink
