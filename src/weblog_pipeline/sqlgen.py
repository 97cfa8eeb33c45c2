"""ANSI-SQL backend of the config compiler: emits DuckDB SQL fragments with
the exact semantics of enrich.py's Column expressions. Used to generate the
`oracle_sql()` side of the driver contract, so every pipeline operator is
value-hash-checked against an independent engine.

The two backends are generated from the same Python source of truth
(severity.FULL_TEXT_DOMAIN / NUMBER_TO_TEXT and the validated
PipelineConfig), so they cannot drift independently of each other.
"""

from __future__ import annotations

from .config import PipelineConfig, SinkRoute
from .severity import FULL_TEXT_DOMAIN, NUMBER_TO_TEXT, map_severity


def sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def map_severity_num_sql(x: str) -> str:
    """map_severity's number half: NULL when invalid."""
    branches = "".join(
        f" WHEN {sql_str(text)} THEN {num}"
        for text, num in sorted(FULL_TEXT_DOMAIN.items())
    )
    return f"(CASE lower({x}){branches} ELSE NULL END)"


def canonical_text_sql(n: str) -> str:
    """Canonical text for a known-valid severity number (NULL input -> NULL)."""
    branches = "".join(
        f" WHEN {num} THEN {sql_str(text)}" for num, text in sorted(NUMBER_TO_TEXT.items())
    )
    return f"(CASE {n}{branches} ELSE NULL END)"


def name_match_num_sql(cfg: PipelineConfig, name_sql: str) -> str:
    """severity_by_event_name longest-substring ladder (NULL when no match)."""
    valid = []
    for key, sev in cfg.severity_by_event_name:
        num, _ = map_severity(sev)
        if num != 0:
            valid.append((key, num))
    if not valid:
        return "NULL"
    valid.sort(key=lambda kv: (-len(kv[0]), kv[0]))
    branches = "".join(
        f" WHEN contains(lower({name_sql}), {sql_str(key.lower())}) THEN {num}"
        for key, num in valid
    )
    return f"(CASE{branches} ELSE NULL END)"


def severity_chain_sql(
    cfg: PipelineConfig,
    name_sql: str,
    attr_i_sql,
    attr_s_sql,
) -> tuple[str, str]:
    """(severity_number_sql, severity_text_sql).

    attr_i_sql / attr_s_sql: key -> SQL expression for the int-typed /
    str-typed event attribute (NULL when absent) — the caller supplies
    these because the attribute encoding is source-specific.
    """
    am = cfg.attribute_mappings
    n_attr = attr_i_sql(am.severity_number) if am.severity_number else "NULL"
    t_attr = attr_s_sql(am.severity_text) if am.severity_text else "NULL"
    parsed_t = map_severity_num_sql(t_attr) if am.severity_text else "NULL"
    sa = attr_s_sql(cfg.severity_attribute) if cfg.severity_attribute else "NULL"
    sa_parsed = map_severity_num_sql(sa) if cfg.severity_attribute else "NULL"
    name_num = name_match_num_sql(cfg, name_sql)

    # Go int32 narrowing (two's complement) instead of a bare CAST, which
    # would raise on out-of-range values in strict engines
    n_attr_i32 = (
        f"CAST((({n_attr} % 4294967296 + 4294967296 + 2147483648)"
        f" % 4294967296 - 2147483648) AS INTEGER)"
    )
    num = (
        "(CASE"
        f" WHEN {n_attr} IS NOT NULL THEN {n_attr_i32}"
        f" WHEN {t_attr} IS NOT NULL THEN COALESCE({parsed_t}, 9)"
        f" WHEN {sa_parsed} IS NOT NULL THEN {sa_parsed}"
        f" WHEN {name_num} IS NOT NULL THEN {name_num}"
        " ELSE 9 END)"
    )
    text = (
        "(CASE"
        f" WHEN {n_attr} IS NOT NULL THEN"
        f"  COALESCE({t_attr}, COALESCE({canonical_text_sql(n_attr_i32)}, 'info'))"
        f" WHEN {t_attr} IS NOT NULL THEN"
        f"  COALESCE({canonical_text_sql(parsed_t)}, {t_attr})"
        f" WHEN {sa_parsed} IS NOT NULL THEN {canonical_text_sql(sa_parsed)}"
        f" WHEN {name_num} IS NOT NULL THEN {canonical_text_sql(name_num)}"
        " ELSE 'info' END)"
    )
    return num, text


def body_sql(cfg: PipelineConfig, name_sql: str, attr_s_sql) -> str:
    am = cfg.attribute_mappings
    if am.body:
        return f"COALESCE({attr_s_sql(am.body)}, {name_sql})"
    return name_sql


def route_predicate_sql(route: SinkRoute, name_sql: str) -> str:
    if route.kind == "contains_any":
        return " OR ".join(
            f"contains({name_sql}, {sql_str(v)})" for v in route.values
        )
    if route.kind == "prefix_any":
        return " OR ".join(
            f"starts_with({name_sql}, {sql_str(v)})" for v in route.values
        )
    vals = ", ".join(sql_str(v) for v in route.values)
    return f"{name_sql} IN ({vals})"


def sink_sql(
    routes: tuple[SinkRoute, ...], name_sql: str, default_sink: str
) -> str:
    if not routes:
        return sql_str(default_sink)
    branches = "".join(
        f" WHEN {route_predicate_sql(r, name_sql)} THEN {sql_str(r.sink)}"
        for r in routes
    )
    return f"(CASE{branches} ELSE {sql_str(default_sink)} END)"


def attrs_str_sql(entries: list[tuple[str, str, str | None]]) -> str:
    """Canonical sorted 'k=v' rendering (enrich.attrs_rendered twin).

    entries: (key, value_sql, present_sql|None). present_sql guards
    conditional keys; None means always present. Keys must be statically
    known (true for every query source we generate). NULL values drop the
    key, matching map semantics.
    """
    if not entries:
        return "''"
    parts = []
    for key, value_sql, present_sql in sorted(entries, key=lambda e: e[0]):
        piece = f"({sql_str(key)} || '=' || {value_sql})"
        if present_sql is not None:
            piece = f"(CASE WHEN {present_sql} THEN {piece} ELSE NULL END)"
        # NULL value -> key absent (map semantics)
        parts.append(piece)
    arr = ", ".join(parts)
    return (
        f"array_to_string(list_filter([{arr}], x -> x IS NOT NULL), chr(31))"
    )
