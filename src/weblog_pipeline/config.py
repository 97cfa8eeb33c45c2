"""Pipeline configuration: frozen dataclasses + driver-side validation.

Mirrors the reference's config surface (behavior only):
  - fields and doc semantics: /root/reference/spaneventtologconnector/config/config.go:10-71
  - validation rules:         config/config.go:74-122
  - factory defaults:         /root/reference/spaneventtologconnector/factory.go:27-37

Validation happens on the driver before any Spark job is constructed; the
compiled pipeline (see enrich.py) closes over a validated, frozen config.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields

from .severity import VALID_CONFIG_SEVERITIES

VALID_ATTRIBUTE_SOURCES = frozenset(
    {"event.attributes", "span.attributes", "resource.attributes"}
)


@dataclass(frozen=True)
class AttributeMappings:
    """How span-event attributes map onto log-record fields.

    Empty string = mapping disabled (same sentinel the reference uses).
    """

    body: str = ""
    severity_number: str = ""
    severity_text: str = ""
    event_name: str = ""


@dataclass(frozen=True)
class PipelineConfig:
    """Full connector-equivalent configuration.

    Defaults mirror the reference factory defaults exactly
    (include_span_context=True; log_attributes_from=[event.attributes,
    resource.attributes]; severity_by_event_name={exception: error};
    add_level=False; severity_attribute="").
    """

    include_event_names: tuple[str, ...] = ()
    include_span_context: bool = True
    log_attributes_from: tuple[str, ...] = (
        "event.attributes",
        "resource.attributes",
    )
    severity_by_event_name: tuple[tuple[str, str], ...] = (("exception", "error"),)
    add_level: bool = False
    severity_attribute: str = ""
    attribute_mappings: AttributeMappings = field(default_factory=AttributeMappings)

    def __post_init__(self) -> None:
        for source in self.log_attributes_from:
            if source not in VALID_ATTRIBUTE_SOURCES:
                raise ValueError(f"invalid log attributes source: {source}")
        for event_name, severity in self.severity_by_event_name:
            if severity not in VALID_CONFIG_SEVERITIES:
                raise ValueError(
                    f"invalid severity level for event {event_name}: {severity}"
                )

    # -- convenience accessors used by the compiler and the oracle --------

    @property
    def severity_by_event_name_dict(self) -> dict[str, str]:
        return dict(self.severity_by_event_name)

    def copies_from(self, source: str) -> bool:
        return source in self.log_attributes_from

    @staticmethod
    def from_dict(raw: dict) -> "PipelineConfig":
        """Build from a parsed YAML/JSON dict using the reference's key
        names. An unknown key, at the top level or inside
        attribute_mappings, raises ValueError, as the reference's config
        unmarshal does: a misspelled key would otherwise fall back to its
        default without a word."""
        am_raw = raw.get("attribute_mappings", {}) or {}
        for where, keys, cls in (
            ("", raw, PipelineConfig),
            ("attribute_mappings.", am_raw, AttributeMappings),
        ):
            unknown = sorted(set(keys) - {f.name for f in fields(cls)})
            if unknown:
                raise ValueError(
                    f"unknown config keys: {', '.join(where + k for k in unknown)}"
                )
        return PipelineConfig(
            include_event_names=tuple(raw.get("include_event_names", ()) or ()),
            include_span_context=raw.get("include_span_context", True),
            log_attributes_from=tuple(
                raw.get(
                    "log_attributes_from",
                    ("event.attributes", "resource.attributes"),
                )
            ),
            severity_by_event_name=tuple(
                sorted((raw.get("severity_by_event_name") or {"exception": "error"}).items())
            ),
            add_level=raw.get("add_level", False),
            severity_attribute=raw.get("severity_attribute", ""),
            attribute_mappings=AttributeMappings(
                body=am_raw.get("body", ""),
                severity_number=am_raw.get("severity_number", ""),
                severity_text=am_raw.get("severity_text", ""),
                event_name=am_raw.get("event_name", ""),
            ),
        )


@dataclass(frozen=True)
class SinkRoute:
    """One fan-out sink: name + an event-name predicate.

    kind is one of: "contains_any", "prefix_any", "equals_any".
    The router evaluates routes in order; first match wins; a final
    implicit default sink catches everything else.
    """

    sink: str
    kind: str
    values: tuple[str, ...]

    def __post_init__(self) -> None:
        if self.kind not in {"contains_any", "prefix_any", "equals_any"}:
            raise ValueError(f"invalid route kind: {self.kind}")
        if not self.values:
            raise ValueError(f"route {self.sink} has no match values")

    def matches(self, event_name: str) -> bool:
        if self.kind == "contains_any":
            return any(v in event_name for v in self.values)
        if self.kind == "prefix_any":
            return any(event_name.startswith(v) for v in self.values)
        return event_name in self.values


#: canonical router from FIXTURES.md §5 (order = precedence).
DEFAULT_ROUTES: tuple[SinkRoute, ...] = (
    SinkRoute("sink_errors", "contains_any", ("exception", "error")),
    SinkRoute("sink_db", "prefix_any", ("backend.db.", "db.")),
    SinkRoute("sink_retries", "equals_any", ("retry",)),
)

DEFAULT_SINK = "sink_default"


def route_event(event_name: str, routes: tuple[SinkRoute, ...] = DEFAULT_ROUTES) -> str:
    """Pure-Python router (oracle twin of route.py)."""
    for r in routes:
        if r.matches(event_name):
            return r.sink
    return DEFAULT_SINK
