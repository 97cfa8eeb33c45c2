"""Config -> Column-expression compiler: the enrich stage.

This is the Spark analogue of the reference's constructor-time folding
(newConnector precompiling lookup structures, connector.go:95-112 and the
package-init severity maps, connector.go:58-80): at driver time a validated
PipelineConfig is compiled into pure Catalyst Column expressions — literal
map lookups and `when` ladders — so the hot path is 100% JVM whole-stage
codegen with zero Python and zero shuffles. Like newConnector, a job folds
its config once per run: `log_record_columns` builds the select list once,
and every chunk of the run (`pipeline.run_to_sinks`) reuses it.

The severity chain is stated once: it resolves the severity number, and the
text derives from that number (its canonical name) unless the connector
keeps the text attribute verbatim. Each literal lookup table (text->number,
number->text) is built at most once per fold.

Operators covered (SURVEY.md §2): O5-O18 (severity precedence chain, scalar
map_severity / severityNumberToText as literal maps, body fallback,
timestamp projection, attribute copies & merge order, event-name
preservation, add_level, span-context enrichment).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .config import PipelineConfig, SinkRoute
from .route import sink_column
from .severity import FULL_TEXT_DOMAIN, NUMBER_TO_TEXT, map_severity

# -- literal lookup tables (driver-side constant folding) --------------------


def _literal_map(table: dict) -> Column:
    """A Python dict as a literal MapType column."""
    return F.create_map(*[F.lit(x) for kv in sorted(table.items()) for x in kv])


EMPTY_STR_MAP = "cast(map() as map<string,string>)"


def _wrap_int32(col: Column) -> Column:
    """Two's-complement int64 -> int32 narrowing (Go int32(v) semantics),
    ANSI-safe: ((v mod 2^32) + 2^32 + 2^31) mod 2^32 - 2^31."""
    two32 = F.lit(4294967296)
    return (
        ((col % two32 + two32 + F.lit(2147483648)) % two32 - F.lit(2147483648))
        .cast("int")
    )


# -- severity precedence chain (connector.go:261-335) -------------------------


def severity_columns(
    cfg: PipelineConfig,
    event_name: Column,
    event_attrs_s: Column,
    event_attrs_i: Column,
) -> tuple[Column, Column]:
    """(severity_number, severity_text) columns for a flattened event row.

    The chain resolves the number; the text is the verbatim text attribute
    where the connector keeps it (a number attribute is set, or the text
    does not parse), else the canonical text of the number
    (oracle.resolve_severity's shape)."""
    am = cfg.attribute_mappings
    no_int = F.lit(None).cast("int")

    n_attr = (
        F.element_at(event_attrs_i, F.lit(am.severity_number))
        if am.severity_number
        else F.lit(None).cast("long")
    )
    t_attr = (
        F.element_at(event_attrs_s, F.lit(am.severity_text))
        if am.severity_text
        else F.lit(None).cast("string")
    )
    # map_severity's number half, NULL when invalid (connector.go:418-444);
    # one literal table for both text sources, none when neither is read
    text_num = (
        _literal_map(FULL_TEXT_DOMAIN) if am.severity_text or cfg.severity_attribute else None
    )
    parsed_t = F.element_at(text_num, F.lower(t_attr)) if am.severity_text else no_int
    sa_parsed = (
        F.element_at(text_num, F.lower(F.element_at(event_attrs_s, F.lit(cfg.severity_attribute))))
        if cfg.severity_attribute
        else no_int
    )

    # severity_by_event_name: longest case-insensitive substring match.
    # Compile-time: drop runtime-invalid severities (connector.go:322-327),
    # order keys by length desc (strictly-longer wins) with lexicographic
    # tie-break (documented spec refinement; Go map order is undefined),
    # emit an ordered `when` ladder — first hit == longest match.
    name_num = no_int
    valid_entries = []
    for key, sev in cfg.severity_by_event_name:
        num, _ = map_severity(sev)
        if num != 0:
            valid_entries.append((key, num))
    if valid_entries:
        valid_entries.sort(key=lambda kv: (-len(kv[0]), kv[0]))
        lower_name = F.lower(event_name)
        ladder: Column | None = None
        for key, num in valid_entries:
            cond = lower_name.contains(key.lower())
            ladder = (
                F.when(cond, F.lit(num))
                if ladder is None
                else ladder.when(cond, F.lit(num))
            )
        name_num = ladder

    # Go narrows the attr to int32 with two's-complement wrap
    # (plog.SeverityNumber(attrValue.Int()), connector.go:276); a plain
    # cast would throw CAST_OVERFLOW under ANSI mode instead
    number = (
        F.when(n_attr.isNotNull(), _wrap_int32(n_attr))
        .when(t_attr.isNotNull(), F.coalesce(parsed_t, F.lit(9)))
        .otherwise(F.coalesce(sa_parsed, name_num, F.lit(9)))
    )
    # severityNumberToText: unknown numbers default to 'info'
    # (connector.go:448-453)
    text = F.coalesce(
        F.when(n_attr.isNotNull() | parsed_t.isNull(), t_attr),
        F.element_at(_literal_map(NUMBER_TO_TEXT), number),
        F.lit("info"),
    )
    return number, text


# -- full record population (connector.go:261-404) ----------------------------


def enrich_columns(cfg: PipelineConfig, observed_ts_us: int) -> list[Column]:
    """The select list from flattened event rows to log-record rows
    (FIXTURES.md §6 schema).

    ``observed_ts_us`` is a job-level constant (resume-safe determinism;
    the reference stamps wall-clock per record, connector.go:341 — a
    per-query F.current_timestamp() would break row-equality testing).
    """
    am = cfg.attribute_mappings
    name = F.col("event_name")
    attrs_s = F.col("event_attrs_s")
    attrs_i = F.col("event_attrs_i")

    empty = F.expr(EMPTY_STR_MAP)
    sev_num, sev_text = severity_columns(cfg, name, attrs_s, attrs_i)

    body = (
        F.coalesce(F.element_at(attrs_s, F.lit(am.body)), name) if am.body else name
    )

    # attribute merge, in the reference's exact write order; map_concat
    # under LAST_WIN reproduces pdata upsert-by-key semantics.
    parts: list[Column] = []
    if cfg.copies_from("event.attributes"):
        ints = F.transform_values(attrs_i, lambda _, v: v.cast("string"))
        parts.append(F.coalesce(attrs_s, empty))
        parts.append(F.coalesce(ints, empty))
    if am.event_name:
        parts.append(F.create_map(F.lit(am.event_name), name))
    if cfg.add_level:
        already = F.lit(False)
        if cfg.copies_from("event.attributes"):
            already = already | F.coalesce(
                F.map_contains_key(attrs_s, "level"), F.lit(False)
            ) | F.coalesce(F.map_contains_key(attrs_i, "level"), F.lit(False))
        if am.event_name == "level":
            already = F.lit(True)
        parts.append(F.when(~already, F.create_map(F.lit("level"), sev_text)).otherwise(empty))
    if cfg.copies_from("span.attributes"):
        parts.append(F.coalesce(F.col("span_attrs"), empty))
    if cfg.include_span_context:
        parts.append(
            F.when(
                F.col("trace_state") != "",
                F.create_map(F.lit("trace.state"), F.col("trace_state")),
            ).otherwise(empty)
        )
        parts.append(F.create_map(F.lit("span.name"), F.col("span_name")))
        parts.append(F.create_map(F.lit("span.kind"), F.col("span_kind")))
    attributes = F.map_concat(*parts) if parts else empty

    res_attributes = (
        F.coalesce(F.col("res_attrs"), empty) if cfg.copies_from("resource.attributes") else empty
    )

    trace_id = F.col("trace_id") if cfg.include_span_context else F.lit("")
    span_id = F.col("span_id") if cfg.include_span_context else F.lit("")

    return [
        F.col("url"),
        F.col("warc_ts"),
        F.col("lang"),
        name.alias("event_name"),
        # integer div: `/` promotes to double (53-bit mantissa) and rounds
        # current-epoch ns values off by 1us
        F.timestamp_micros(F.expr("ts_ns div 1000")).alias("ts"),
        F.col("ts_ns"),
        F.timestamp_micros(F.lit(observed_ts_us)).alias("observed_ts"),
        sev_num.cast("int").alias("severity_number"),
        sev_text.alias("severity_text"),
        body.alias("body"),
        attributes.alias("attributes"),
        res_attributes.alias("resource_attributes"),
        trace_id.alias("trace_id"),
        span_id.alias("span_id"),
        F.col("span_name"),
        F.col("span_kind"),
        F.coalesce(F.col("trace_state"), F.lit("")).alias("trace_state"),
    ]


def log_record_columns(
    cfg: PipelineConfig,
    routes: tuple[SinkRoute, ...],
    default_sink: str,
    observed_ts_us: int,
) -> list[Column]:
    """The config folded: the log-record select list over flattened event
    rows, the enrich columns plus each record's `sink`."""
    sink = sink_column(routes, default_sink).alias("sink")
    return [*enrich_columns(cfg, observed_ts_us), sink]


def attrs_rendered(attrs_col: Column) -> Column:
    """Order-insensitive canonical rendering of a map column: sorted
    'k=v' pairs joined by the unit separator (oracle.render_attrs twin)."""
    # sort_array on an array<struct<key,value>> orders by key then value —
    # matching Python's sorted(attrs.items()) in oracle.render_attrs.
    entries = F.transform(
        F.sort_array(F.map_entries(attrs_col)),
        lambda e: F.concat(e["key"], F.lit("="), e["value"]),
    )
    return F.array_join(entries, "\x1f")
