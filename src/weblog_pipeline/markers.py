"""Telemetry-marker grammar: render and parse span events embedded in HTML.

Grammar (FIXTURES.md §2) — one HTML comment per span event, single line,
fixed field order, attrs as compact sorted-key JSON (values: str|int only):

    <!--otel span_ctx=<trace_id_hex32>/<span_id_hex16>/<span_name>/<span_kind>
        ts=<ns_epoch_int> name=<event_name> attrs=<json> span_attrs=<json>
        res_attrs=<json>-->

Markers and page text are parsed from the raw ``html`` bytes by byte-level
regexes with strict UTF-8 decoding of captured fields — never locale- or
Unicode-version-dependent — so extraction is byte-identical across
pandas/pyarrow versions. `extract_text` is the oracle's spec of page text;
the parse UDF extracts the same bytes with its own `bytes.find` kernel
(parse._page_text), which the tests check against it.

Field meanings map 1:1 to what the reference reads from pdata:
event name/timestamp/attributes (connector.go:221,338,274), span
trace_id/span_id/name/kind/attributes (connector.go:390-402,381-386),
resource attributes (connector.go:232-237).

Grammar assumptions (enforced by the renderer): span_name/span_kind contain
no '/', ' ' or '-->'; JSON payloads are compact (no spaces) with sorted keys
and contain no '}' inside string values followed by ' span_attrs='/' res_attrs='
collisions; event names may contain spaces but not ' attrs='.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

_MARKER_RE = re.compile(
    rb"<!--otel span_ctx=([0-9a-f]{32})/([0-9a-f]{16})/([^/]*)/([^ ]*)"
    rb" ts=(\d+)"
    rb" name=(.*?)"
    rb" attrs=(\{.*?\})"
    rb" span_attrs=(\{.*?\})"
    rb" res_attrs=(\{.*?\})-->",
    re.DOTALL,
)

_TEXT_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)


@dataclass
class SpanEvent:
    """One parsed span event in the flattened (per-event) grain."""

    trace_id: str
    span_id: str
    span_name: str
    span_kind: str
    trace_state: str
    ts_ns: int
    name: str
    attrs: dict = field(default_factory=dict)  # values: str | int
    span_attrs: dict = field(default_factory=dict)
    res_attrs: dict = field(default_factory=dict)


INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1


def int64(v: int) -> int:
    """`v` if it fits the int64 columns it lands in (ts_ns, integer
    event attrs), else OverflowError — which quarantines the page."""
    if not INT64_MIN <= v <= INT64_MAX:
        raise OverflowError(f"int {v} is outside the int64 range")
    return v


_HEX32_RE = re.compile(r"[0-9a-f]{32}\Z")
_HEX16_RE = re.compile(r"[0-9a-f]{16}\Z")


def render_marker(ev: SpanEvent) -> str:
    """Inverse of parse: one single-line HTML comment for a span event.

    Enforces the grammar assumptions documented above and raises ValueError
    on a violating event — corruption must be loud at render time, not a
    silent mis-parse on the round trip."""

    def j(d: dict) -> str:
        return json.dumps(d, sort_keys=True, separators=(",", ":"), ensure_ascii=False)

    if not _HEX32_RE.match(ev.trace_id):
        raise ValueError(f"trace_id is not 32 lowercase hex chars: {ev.trace_id!r}")
    if not _HEX16_RE.match(ev.span_id):
        raise ValueError(f"span_id is not 16 lowercase hex chars: {ev.span_id!r}")
    for fname, v in (("span_name", ev.span_name), ("span_kind", ev.span_kind)):
        if "/" in v or " " in v or "-->" in v or "\n" in v:
            raise ValueError(f"{fname} may not contain '/', ' ', '-->' or newline: {v!r}")
    if (not isinstance(ev.ts_ns, int) or isinstance(ev.ts_ns, bool)
            or not 0 <= ev.ts_ns <= INT64_MAX):
        raise ValueError(f"ts_ns must be a non-negative int64: {ev.ts_ns!r}")
    if " attrs=" in ev.name or "-->" in ev.name or "\n" in ev.name:
        raise ValueError(f"event name may not contain ' attrs=', '-->' or newline: {ev.name!r}")
    payloads = []
    for fname, d in (("attrs", ev.attrs), ("span_attrs", ev.span_attrs), ("res_attrs", ev.res_attrs)):
        for k, v in d.items():
            if not isinstance(v, (str, int)) or isinstance(v, bool):
                raise ValueError(f"{fname}[{k!r}] must be str or int, got {type(v).__name__}")
            if isinstance(v, int) and not INT64_MIN <= v <= INT64_MAX:
                raise ValueError(f"{fname}[{k!r}] is outside the int64 range: {v}")
        payload = j(d)
        if "-->" in payload or "} span_attrs=" in payload or "} res_attrs=" in payload or "\n" in payload:
            raise ValueError(f"{fname} JSON collides with the marker grammar: {payload!r}")
        payloads.append(payload)

    return (
        f"<!--otel span_ctx={ev.trace_id}/{ev.span_id}/{ev.span_name}/{ev.span_kind}"
        f" ts={ev.ts_ns} name={ev.name} attrs={payloads[0]}"
        f" span_attrs={payloads[1]} res_attrs={payloads[2]}-->"
    )


def _int64_attrs(attrs: dict) -> dict:
    for v in attrs.values():
        if isinstance(v, int):
            int64(v)
    return attrs


def _loads(raw: bytes) -> dict:
    return json.loads(raw.decode("utf-8", "strict"))


def parse_markers(html: bytes) -> list[SpanEvent]:
    """Extract every embedded span event from raw page bytes, in order."""
    events: list[SpanEvent] = []
    for m in _MARKER_RE.finditer(html):
        events.append(
            SpanEvent(
                trace_id=m.group(1).decode("utf-8", "strict"),
                span_id=m.group(2).decode("utf-8", "strict"),
                span_name=m.group(3).decode("utf-8", "strict"),
                span_kind=m.group(4).decode("utf-8", "strict"),
                trace_state="",
                ts_ns=int64(int(m.group(5))),
                name=m.group(6).decode("utf-8", "strict"),
                attrs=_int64_attrs(_loads(m.group(7))),
                span_attrs=_loads(m.group(8)),
                res_attrs=_loads(m.group(9)),
            )
        )
    return events


def extract_text(html: bytes) -> str:
    """Visible page text: the contents of every <p>…</p> block, joined by
    a single newline. Strict UTF-8 decode; byte-identical by construction.
    (Join the byte blocks first, decode ONCE: newline is ASCII and UTF-8
    is self-synchronizing, so the result is identical to per-block
    decoding at a fraction of the calls.)"""
    return b"\n".join(_TEXT_RE.findall(html)).decode("utf-8", "strict")
