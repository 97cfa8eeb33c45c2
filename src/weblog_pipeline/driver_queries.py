"""Driver-contract query catalog: every implemented operator as a
(spark_fn, oracle_sql) pair over the driver testdata tables.

Two sources:

* ``events`` — treated as a stream of span events (event_type = event
  name, props JSON = int attrs, deterministic derived string attrs), so the
  REAL enrich/route compilers (enrich.py / route.py) are value-hash-checked
  against independently generated DuckDB SQL (sqlgen.py — both backends are
  generated from the same config object, re-deriving the reference
  semantics in two engines).
* ``documents`` — deterministically derived webpages feed the REAL
  mapInArrow parse stage and the full pipeline; the DuckDB oracle
  re-derives expected outputs from pure integer arithmetic on doc_id plus
  pure-Python-oracle-computed per-template literals (oracle.py computes
  them at SQL-generation time).

Plus the training-data operators (ops/) with hand-matched SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import (
    DEFAULT_ROUTES,
    DEFAULT_SINK,
    AttributeMappings,
    PipelineConfig,
    SinkRoute,
    route_event,
)
from .aggregate import domain_counts, epoch_day, funnel_stages, trace_rollup
from .enrich import attrs_rendered, log_record_columns
from .generate import (
    BASE_TS_NS,
    EVENT_TEMPLATES,
    RES_ATTRS,
    SPAN_ID,
    TRACE_ID,
    ZIPF_THRESHOLDS,
    event_for,
)
from .markers import SpanEvent
from .oracle import populate_log_record, render_attrs
from .ops import corpus, dedup, graph, htmlstats, multimodal, similarity, textstats
from . import otlp
from .parse import page_texts, parse_events
from .pipeline import build_pipeline, compile_records
from .session import materialize
from .sqlgen import (
    attrs_str_sql,
    body_sql,
    severity_chain_sql,
    sink_sql,
    sql_str,
)
from .webpages import webpages_from_documents

OBSERVED_TS_US = 1_755_000_000_000_000

# -- engine-portable text-normalization SQL fragments ---------------------
# These mirror ops.dedup.WS_RE / ascii_lower exactly: Java regex `\s`
# matches \x0B while RE2's does not, and Unicode lower() diverges between
# Java (full casing: U+0130 -> i+combining-dot, final sigma) and utf8proc
# (simple casing) — so every shared normalization chain spells out an
# ASCII whitespace class and folds ASCII letters only, in BOTH engines.
_SQL_WS = dedup.WS_RE  # '[ \t\n\r\f\x0B]+' (escapes parsed by RE2)
_SQL_LOWER_TEXT = (
    "translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
    " 'abcdefghijklmnopqrstuvwxyz')"
)
#: whitespace-collapsed, ASCII-lowercased text — the exact-dedup / CDC /
#: fingerprint normalizer (twin of ops.dedup.content_hash_col's input).
_SQL_NORM_TEXT = (
    f"regexp_replace(trim({_SQL_LOWER_TEXT}, ' '), '{_SQL_WS}', ' ', 'g')"
)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =========================================================================
# 1. events-as-span-events view (Spark + SQL twins)
# =========================================================================

LVL_VALUES = (
    "info", "WARNING", "err", "debug2", "bogus", "trace21", "warning3", "FATAL4",
)

EVENT_ROUTES: tuple[SinkRoute, ...] = (
    SinkRoute("sink_errors", "contains_any", ("error",)),
    SinkRoute("sink_commerce", "equals_any", ("purchase", "signup")),
    SinkRoute("sink_engagement", "prefix_any", ("cl", "vi")),
)

EVENTS_SPAN_NAME = "evt-span"
EVENTS_SPAN_KIND = "Internal"
EVENTS_SPAN_ATTRS = {"http.method": "GET", "http.url": "https://example.com"}
EVENTS_RES_ATTRS = {"service.name": "events-service"}


def events_span_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table re-shaped to the flattened span-event grain
    (parse.EVENT_SCHEMA columns) with pure Column expressions."""
    ev = _read(spark, sf_dir, "events")
    eid = F.col("event_id")
    lvl = F.element_at(
        F.array(*[F.lit(v) for v in LVL_VALUES]), (eid % 8 + 1).cast("int")
    )
    msg = F.when(
        eid % 3 != 0,
        F.concat(
            F.lit("evt-"), F.col("event_type"), F.lit("-"), (eid % 100).cast("string")
        ),
    )
    preset_level = F.when(eid % 4 == 0, F.lit("preset"))
    attrs_s = F.map_from_entries(
        F.filter(
            F.array(
                F.struct(F.lit("lvl").alias("key"), lvl.alias("value")),
                F.struct(F.lit("msg").alias("key"), msg.alias("value")),
                F.struct(F.lit("level").alias("key"), preset_level.alias("value")),
            ),
            lambda e: e["value"].isNotNull(),
        )
    )
    attrs_i = F.create_map(
        F.lit("k"), F.get_json_object(F.col("props"), "$.k").cast("long")
    )
    span_attrs = F.create_map(
        *[F.lit(x) for kv in sorted(EVENTS_SPAN_ATTRS.items()) for x in kv]
    )
    res_attrs = F.create_map(
        *[F.lit(x) for kv in sorted(EVENTS_RES_ATTRS.items()) for x in kv]
    )
    return ev.select(
        eid.alias("event_id"),
        F.concat(
            F.lit("https://user"),
            F.col("user_id").cast("string"),
            F.lit(".example.com/e/"),
            eid.cast("string"),
        ).alias("url"),
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"),
        F.col("event_type").alias("event_name"),
        # parquet stores TIMESTAMP_NTZ; session tz is UTC so the cast is
        # the identity DuckDB's epoch_ns applies to the same naive value
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts_ns"),
        F.format_string("%032x", eid).alias("trace_id"),
        F.format_string("%016x", F.col("user_id")).alias("span_id"),
        F.lit(EVENTS_SPAN_NAME).alias("span_name"),
        F.lit(EVENTS_SPAN_KIND).alias("span_kind"),
        F.when(eid % 7 == 0, F.lit("st=1")).otherwise(F.lit("")).alias("trace_state"),
        attrs_s.alias("event_attrs_s"),
        attrs_i.alias("event_attrs_i"),
        span_attrs.alias("span_attrs"),
        res_attrs.alias("res_attrs"),
    )


def _lvl_case_sql() -> str:
    branches = "".join(
        f" WHEN {i} THEN {sql_str(v)}" for i, v in enumerate(LVL_VALUES)
    )
    return f"(CASE event_id % 8{branches} END)"


EV_CTE = f"""
SELECT event_id,
  'https://user' || CAST(user_id AS VARCHAR) || '.example.com/e/' || CAST(event_id AS VARCHAR) AS url,
  event_type AS event_name,
  epoch_ns(ts) AS ts_ns,
  printf('%032x', event_id) AS trace_id,
  printf('%016x', user_id) AS span_id,
  CASE WHEN event_id % 7 = 0 THEN 'st=1' ELSE '' END AS trace_state,
  {_lvl_case_sql()} AS lvl,
  CASE WHEN event_id % 3 <> 0
       THEN 'evt-' || event_type || '-' || CAST(event_id % 100 AS VARCHAR) END AS msg,
  CASE WHEN event_id % 4 = 0 THEN 'preset' END AS preset_level,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS attr_k
FROM events
"""


def _ev_attr_s_sql(key: str) -> str:
    return {"lvl": "lvl", "msg": "msg", "level": "preset_level"}.get(key, "NULL")


def _ev_attr_i_sql(key: str) -> str:
    return {"k": "attr_k"}.get(key, "NULL")


def _events_attrs_entries(cfg: PipelineConfig, sev_text_sql: str):
    """attrs_str entries (key, value_sql, present_sql) for the events view,
    respecting the reference's write/overwrite order. 'level' is the only
    key two writers can touch (event attrs then add_level); the merged
    value is computed here at compile time."""
    am = cfg.attribute_mappings
    entries: list[tuple[str, str, str | None]] = []
    level_val: str | None = None
    if cfg.copies_from("event.attributes"):
        entries.append(("k", "CAST(attr_k AS VARCHAR)", None))
        entries.append(("lvl", "lvl", None))
        entries.append(("msg", "msg", None))
        level_val = "preset_level"
    if am.event_name:
        assert am.event_name not in {"k", "lvl", "msg", "level"}, (
            "event_name target colliding with view attrs is not modeled in SQL"
        )
        entries.append((am.event_name, "event_name", None))
    if cfg.add_level:
        level_val = (
            f"COALESCE({level_val}, {sev_text_sql})" if level_val else sev_text_sql
        )
    if level_val:
        entries.append(("level", level_val, None))
    if cfg.copies_from("span.attributes"):
        for k, v in sorted(EVENTS_SPAN_ATTRS.items()):
            entries.append((k, sql_str(v), None))
    if cfg.include_span_context:
        entries.append(("trace.state", "trace_state", "trace_state <> ''"))
        entries.append(("span.name", sql_str(EVENTS_SPAN_NAME), None))
        entries.append(("span.kind", sql_str(EVENTS_SPAN_KIND), None))
    return entries


def _events_records_spark(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig
) -> DataFrame:
    ev = events_span_view(spark, sf_dir)
    rec = ev.select(
        "event_id", *log_record_columns(cfg, EVENT_ROUTES, DEFAULT_SINK, OBSERVED_TS_US)
    )
    return rec.select(
        "event_id",
        "event_name",
        "ts_ns",
        "severity_number",
        "severity_text",
        "body",
        attrs_rendered(F.col("attributes")).alias("attrs_str"),
        attrs_rendered(F.col("resource_attributes")).alias("res_attrs_str"),
        "trace_id",
        "span_id",
        "sink",
    )


def _events_records_sql(cfg: PipelineConfig) -> str:
    num_sql, text_sql = severity_chain_sql(
        cfg, "event_name", _ev_attr_i_sql, _ev_attr_s_sql
    )
    bod = body_sql(cfg, "event_name", _ev_attr_s_sql)
    attrs = attrs_str_sql(_events_attrs_entries(cfg, "severity_text"))
    if cfg.copies_from("resource.attributes"):
        res = attrs_str_sql(
            [(k, sql_str(v), None) for k, v in sorted(EVENTS_RES_ATTRS.items())]
        )
    else:
        res = "''"
    trace_id = "trace_id" if cfg.include_span_context else "''"
    span_id = "span_id" if cfg.include_span_context else "''"
    sink = sink_sql(EVENT_ROUTES, "event_name", "sink_default")
    return f"""
WITH ev AS ({EV_CTE}),
pre AS (
  SELECT *, {num_sql} AS severity_number, {text_sql} AS severity_text FROM ev
)
SELECT event_id, event_name, ts_ns, severity_number, severity_text,
  {bod} AS body,
  {attrs} AS attrs_str,
  {res} AS res_attrs_str,
  {trace_id} AS trace_id,
  {span_id} AS span_id,
  {sink} AS sink
FROM pre
"""


# the configs exercised through the SQL-checked gate
CFG_DEFAULT = PipelineConfig()
CFG_KITCHEN = PipelineConfig(
    log_attributes_from=(
        "event.attributes",
        "span.attributes",
        "resource.attributes",
    ),
    add_level=True,
    severity_attribute="lvl",
    severity_by_event_name=(
        ("error", "error"),
        ("e", "trace2"),
        ("i", "debug3"),
        ("purchase", "fatal"),
        ("chase", "warn3"),
    ),
)
CFG_MAPPINGS = PipelineConfig(
    attribute_mappings=AttributeMappings(
        body="msg",
        severity_number="k",
        severity_text="lvl",
        event_name="orig.event",
    )
)
CFG_SEVATTR = PipelineConfig(severity_attribute="lvl")
CFG_BYNAME = PipelineConfig(
    severity_by_event_name=(
        ("error", "error"),
        ("e", "trace2"),
        ("i", "debug3"),
        ("purchase", "fatal"),
        ("chase", "warn3"),
    )
)
CFG_FILTER = PipelineConfig(include_event_names=("error", "purchase"))
CFG_NOCTX = PipelineConfig(include_span_context=False, add_level=True)


# =========================================================================
# 2. documents-derived pipeline queries
# =========================================================================

FLAGSHIP_CFG = PipelineConfig(add_level=True)


def _domain_case_sql(id_expr: str) -> str:
    """Zipf domain index: identical integer arithmetic to generate.domain_index."""
    r = f"(({id_expr} * 2654435761) % 4294967296) % 100000"
    branches = "".join(
        f" WHEN {r} < {t} THEN {d}" for d, t in enumerate(ZIPF_THRESHOLDS)
    )
    return f"(CASE{branches} END)"


def _doc_url_sql() -> str:
    return (
        "'https://site' || CAST(" + _domain_case_sql("doc_id") + " AS VARCHAR)"
        " || '.example.com/page/' || CAST(doc_id AS VARCHAR)"
    )


#: doc events CTE: one row per (doc, event j), template t = (doc_id + j) % 5
DOC_EV_CTE = """
SELECT doc_id, js.j AS j, (doc_id + js.j) % 5 AS t
FROM documents CROSS JOIN (SELECT unnest(range(6)) AS j) js
WHERE js.j < doc_id % 6
"""


def _template_records() -> list:
    """Oracle-computed per-template log records (ts-independent fields)."""
    out = []
    for t in range(5):
        ev = event_for(t, 0)  # template_index(t, 0) == t
        rec = populate_log_record(FLAGSHIP_CFG, ev, "u", OBSERVED_TS_US)
        out.append(rec)
    return out


def _tcase(values: list[str], quote: bool = True) -> str:
    branches = "".join(
        f" WHEN {t} THEN {sql_str(v) if quote else v}" for t, v in enumerate(values)
    )
    return f"(CASE t{branches} END)"


def q_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    parsed = parse_events(webpages_from_documents(docs))
    pages = page_texts(parsed)
    return pages.select(
        "url",
        F.col("n_page_events").alias("n_events"),
        F.md5(F.col("page_text")).alias("text_md5"),
    )


SQL_PARSE_ROUNDTRIP = f"""
SELECT {_doc_url_sql()} AS url,
       CAST(doc_id % 6 AS INTEGER) AS n_events,
       md5(text) AS text_md5
FROM documents
"""


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webpages shipped through the WARC container (per-record deflate,
    Content-Length framing) and back, then through the REAL parse stage —
    byte-identical text and event counts prove the crawl-format
    source/sink is lossless."""
    from . import warc

    docs = _read(spark, sf_dir, "documents")
    pages = webpages_from_documents(docs)
    thru = warc.decode_warc_records(warc.encode_warc(pages, compress=True))
    parsed = parse_events(thru.withColumn("lang", F.lit("xx")))
    return page_texts(parsed).select(
        "url",
        F.col("n_page_events").alias("n_events"),
        F.md5(F.col("page_text")).alias("text_md5"),
    )


def q_e2e_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    result = build_pipeline(
        webpages_from_documents(docs), FLAGSHIP_CFG, observed_ts_us=OBSERVED_TS_US
    )
    return result.per_sink


def _sql_e2e_sink_counts() -> str:
    sinks = [route_event(EVENT_TEMPLATES[t][0]) for t in range(5)]
    return f"""
WITH ev AS ({DOC_EV_CTE})
SELECT {_tcase(sinks)} AS sink, COUNT(*) AS records
FROM ev GROUP BY 1
"""


def q_e2e_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    result = build_pipeline(
        webpages_from_documents(docs), FLAGSHIP_CFG, observed_ts_us=OBSERVED_TS_US
    )
    return result.logs.select(
        "url",
        "event_name",
        "ts_ns",
        "severity_number",
        "severity_text",
        "body",
        attrs_rendered(F.col("attributes")).alias("attrs_str"),
        attrs_rendered(F.col("resource_attributes")).alias("res_attrs_str"),
        "trace_id",
        "span_id",
        "sink",
    )


def _sql_e2e_records() -> str:
    recs = _template_records()
    return f"""
WITH ev AS ({DOC_EV_CTE})
SELECT {_doc_url_sql()} AS url,
  {_tcase([r.event_name for r in recs])} AS event_name,
  {BASE_TS_NS} + doc_id * 37000000000 + j * 1000000 AS ts_ns,
  {_tcase([str(r.severity_number) for r in recs], quote=False)} AS severity_number,
  {_tcase([r.severity_text for r in recs])} AS severity_text,
  {_tcase([r.body for r in recs])} AS body,
  {_tcase([render_attrs(r.attributes) for r in recs])} AS attrs_str,
  {sql_str(render_attrs({k: str(v) for k, v in RES_ATTRS.items()}))} AS res_attrs_str,
  {sql_str(TRACE_ID)} AS trace_id,
  {sql_str(SPAN_ID)} AS span_id,
  {_tcase([r.sink for r in recs])} AS sink
FROM ev
"""


def q_domain_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(sink, domain) record counts over the full pipeline — the
    SQL-checked twin of ``aggregate.domain_counts`` (SURVEY §2 addition
    (c)). Domains are Zipf(a=1.3)-distributed (the head domain owns ~20%
    of all pages); the Spark side is a plain map-side-combined groupBy
    count; the oracle recomputes identical counts from doc_id integer
    arithmetic plus the exported ZIPF_THRESHOLDS ladder."""
    docs = _read(spark, sf_dir, "documents")
    result = build_pipeline(
        webpages_from_documents(docs), FLAGSHIP_CFG, observed_ts_us=OBSERVED_TS_US
    )
    return domain_counts(result.logs)


def _sql_domain_route_counts() -> str:
    sinks = [route_event(EVENT_TEMPLATES[t][0]) for t in range(5)]
    return f"""
WITH ev AS ({DOC_EV_CTE})
SELECT {_tcase(sinks)} AS sink,
       'site' || CAST({_domain_case_sql("doc_id")} AS VARCHAR)
              || '.example.com' AS domain,
       COUNT(*) AS records
FROM ev GROUP BY 1, 2
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed linear quality scorer (fastText-style) with a
    deterministic weight table riding the broadcast side of the join."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.quality_classifier(docs, textstats.classifier_weights(spark))


def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling: the hashed linear scorer's
    length-normalized quality bins drive per-doc epoch counts (worst
    quartile thins 4x, best repeats 3x); fractional rates realize via the
    stateless md5 threshold, so the plan is window-free."""
    docs = _read(spark, sf_dir, "documents")
    return corpus.importance_sample(docs, textstats.classifier_weights(spark))


def _sql_importance_sample() -> str:
    r0, r1, r2, r3 = corpus.IMPORTANCE_RATES_PCT
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
),
bucketed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 4)) AS BIGINT)
           % {textstats.CLS_BUCKETS} AS bucket
  FROM toks WHERE token <> ''
),
w AS (
  SELECT CAST(b AS BIGINT) AS bucket,
         (b * {textstats._CLS_MULT}) % 4294967296 % {textstats.CLS_W_MOD}
           - 1000 AS weight
  FROM (SELECT unnest(range({textstats.CLS_BUCKETS})) AS b)
),
sc AS (
  SELECT doc_id, COUNT(*) AS n_scored, CAST(SUM(weight) AS BIGINT) AS score
  FROM bucketed JOIN w USING (bucket) GROUP BY doc_id
),
r AS (
  SELECT doc_id,
    CASE WHEN 4 * score < -n_scored THEN 0
         WHEN 4 * score < 0 THEN 1
         WHEN 4 * score < n_scored THEN 2
         ELSE 3 END AS bin
  FROM sc
),
rr AS (
  SELECT doc_id, bin,
    CASE bin WHEN 0 THEN {r0} WHEN 1 THEN {r1}
             WHEN 2 THEN {r2} ELSE {r3} END AS rate_pct
  FROM r
)
SELECT doc_id, CAST(bin AS INTEGER) AS bin,
  CAST(rate_pct AS INTEGER) AS rate_pct,
  CAST(rate_pct // 100
       + CASE WHEN CAST(('0x' || substr(md5('is:' || doc_id), 1, 4)) AS BIGINT)
                   % 100 < rate_pct % 100
              THEN 1 ELSE 0 END AS BIGINT) AS n_copies
FROM rr
"""


def _sql_quality_classifier() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
),
bucketed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 4)) AS BIGINT)
           % {textstats.CLS_BUCKETS} AS bucket
  FROM toks WHERE token <> ''
),
w AS (
  SELECT CAST(b AS BIGINT) AS bucket,
         (b * {textstats._CLS_MULT}) % 4294967296 % {textstats.CLS_W_MOD}
           - 1000 AS weight
  FROM (SELECT unnest(range({textstats.CLS_BUCKETS})) AS b)
)
SELECT doc_id, COUNT(*) AS n_scored, CAST(SUM(weight) AS BIGINT) AS score,
       CASE WHEN SUM(weight) >= 0 THEN 'keep' ELSE 'drop' END AS label
FROM bucketed JOIN w USING (bucket)
GROUP BY doc_id
"""


def q_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural HTML census over the raw byte column (single codegen'd
    scan). The oracle re-derives every count — including the exact html
    byte size — from documents-table arithmetic: marker byte lengths are
    template constants (the 19-digit ts field makes every marker of a
    template the same width), paragraphs come from the text's newline
    count, and the fixed scaffolding is re-assembled as SQL string
    lengths."""
    docs = _read(spark, sf_dir, "documents")
    return htmlstats.html_meta(webpages_from_documents(docs))


def _sql_html_meta() -> str:
    from .markers import render_marker

    marker_lens = [
        str(len(render_marker(event_for(t, 0)))) for t in range(5)
    ]
    n_par = "len(regexp_split_to_array(text, '\\n'))"
    return f"""
WITH ev AS ({DOC_EV_CTE}),
mb AS (
  SELECT doc_id, SUM({_tcase(marker_lens, quote=False)}) AS marker_bytes
  FROM ev GROUP BY doc_id
)
SELECT {_doc_url_sql()} AS url,
  'page ' || CAST(doc_id AS VARCHAR) AS title,
  CAST({n_par} AS BIGINT) AS n_paragraphs,
  CAST(doc_id % 6 AS BIGINT) AS n_markers,
  CAST(1 AS BIGINT) AS header_url_ok,
  CAST(
    length('<html><head><title>page ' || CAST(doc_id AS VARCHAR)
        || '</title></head><body><div class="hdr" data-url="'
        || {_doc_url_sql()} || '">filler ' || CAST(doc_id % 97 AS VARCHAR)
        || '</div></body></html>')
    + strlen(text) - ({n_par} - 1)
    + 7 * {n_par}
    + COALESCE(marker_bytes, 0)
  AS BIGINT) AS html_bytes
FROM documents LEFT JOIN mb USING (doc_id)
"""


def q_otlp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span events encoded to canonical OTLP/JSON (the reference's wire
    format, proto3 JSON mapping) and parsed back with from_json + triple
    explode — field-level value equality against the raw events proves the
    file source/sink mapping is lossless."""
    ev = events_span_view(spark, sf_dir)
    rt = otlp.decode_otlp(otlp.encode_otlp(ev))
    return rt.select(
        F.conv(F.col("trace_id"), 16, 10).cast("long").alias("event_id"),
        "event_name",
        "ts_ns",
        "trace_id",
        "span_id",
        "span_name",
        "span_kind",
        "trace_state",
        F.col("event_attrs_s")["lvl"].alias("lvl"),
        F.col("event_attrs_s")["msg"].alias("msg"),
        F.col("event_attrs_s")["level"].alias("level"),
        F.col("event_attrs_i")["k"].alias("k"),
    )


def q_otlp_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span events through the OTLP BINARY protobuf wire format (hand-
    rolled varint/length-delimited codec per opentelemetry-proto) and
    back — same field-level oracle as the JSON twin."""
    from . import otlp_proto

    ev = events_span_view(spark, sf_dir)
    rt = otlp_proto.decode_otlp_proto(otlp_proto.encode_otlp_proto(ev))
    return rt.select(
        F.conv(F.col("trace_id"), 16, 10).cast("long").alias("event_id"),
        "event_name",
        "ts_ns",
        "trace_id",
        "span_id",
        "span_name",
        "span_kind",
        "trace_state",
        F.col("event_attrs_s")["lvl"].alias("lvl"),
        F.col("event_attrs_s")["msg"].alias("msg"),
        F.col("event_attrs_s")["level"].alias("level"),
        F.col("event_attrs_i")["k"].alias("k"),
    )


def _sql_otlp_roundtrip() -> str:
    return f"""
WITH ev AS ({EV_CTE})
SELECT event_id, event_name, ts_ns, trace_id, span_id,
       {sql_str(EVENTS_SPAN_NAME)} AS span_name,
       {sql_str(EVENTS_SPAN_KIND)} AS span_kind,
       trace_state, lvl, msg, preset_level AS level, attr_k AS k
FROM ev
"""


def q_span_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-grain event rollup (counts, time bounds, order-stable event-
    name digest) — one aggregate, no per-key window."""
    ev = events_span_view(spark, sf_dir)
    return trace_rollup(ev, key="span_id")


SQL_SPAN_ROLLUP = f"""
WITH ev AS ({EV_CTE})
SELECT span_id, COUNT(*) AS n_events,
       MIN(ts_ns) AS first_ts_ns, MAX(ts_ns) AS last_ts_ns,
       md5(string_agg(event_name, chr(31) ORDER BY ts_ns, event_name)) AS names_md5
FROM ev GROUP BY span_id
"""


def q_lang_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact length distribution (integer-exact median)."""
    docs = _read(spark, sf_dir, "documents")
    return corpus.lang_length_stats(docs)


SQL_LANG_LENGTH_STATS = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(MIN(length(text)) AS BIGINT) AS min_chars,
       CAST(MAX(length(text)) AS BIGINT) AS max_chars,
       CAST(floor(median(length(text)) * 100) AS BIGINT) AS median_chars_x100
FROM documents GROUP BY lang
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact mean-pooled centroid per embedding label."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb)


def _sql_label_centroids() -> str:
    q = float(similarity.LSH_QUANT)
    return f"""
WITH comps AS (
  SELECT label, CAST(u.d - 1 AS INTEGER) AS dim,
         CAST(floor(CAST(embedding[CAST(u.d AS INTEGER)] AS DOUBLE) * {q})
              AS BIGINT) AS qv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(d)
)
SELECT label, dim, COUNT(*) AS n_vecs,
       CAST(floor(SUM(qv) / COUNT(*)) AS BIGINT) AS centroid_q
FROM comps GROUP BY label, dim
"""


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantized moment stats (drift monitor)."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.embedding_dim_stats(emb)


def _sql_embedding_dim_stats() -> str:
    q = float(similarity.IVF_QUANT)
    return f"""
WITH comps AS (
  SELECT CAST(u.d - 1 AS BIGINT) AS dim,
         CAST(floor(CAST(embedding[CAST(u.d AS INTEGER)] AS DOUBLE) * {q})
              AS BIGINT) AS qv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(d)
)
SELECT dim, COUNT(*) AS n,
       CAST(SUM(qv) AS BIGINT) AS s1,
       CAST(SUM(qv * qv) AS BIGINT) AS s2
FROM comps GROUP BY dim
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle integer cross-moments (whitening/PCA prep)."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.embedding_covariance(emb)


def _sql_embedding_covariance() -> str:
    q = float(similarity.IVF_QUANT)
    return f"""
WITH qv AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {q}) AS BIGINT)) AS v
  FROM embeddings
),
i AS (SELECT v, unnest(range(1, len(v) + 1)) AS di FROM qv),
ij AS (SELECT v, di, unnest(range(di, len(v) + 1)) AS dj FROM i)
SELECT CAST(di - 1 AS BIGINT) AS dim_i,
       CAST(dj - 1 AS BIGINT) AS dim_j,
       CAST(SUM(v[CAST(di AS INTEGER)] * v[CAST(dj AS INTEGER)]) AS BIGINT)
         AS s_ij
FROM ij GROUP BY 1, 2
"""


def q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float-free ANN filter: 1-bit-per-dim sign packing, XOR+popcount
    Hamming distance, group-limited top-10 for query vec 0."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.hamming_topk(emb, query_id=0, k=10)


def _sql_hamming_topk(k: int = 10) -> str:
    q = float(similarity.IVF_QUANT)
    return f"""
WITH qv AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {q}) AS BIGINT)) AS q
  FROM embeddings
),
packed AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(range(1, len(q) + 1),
      i -> CASE WHEN q[i] >= 0 AND i - 1 < 32
           THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT)
      AS lo,
    CAST(list_sum(list_transform(range(1, len(q) + 1),
      i -> CASE WHEN q[i] >= 0 AND i - 1 >= 32
           THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)) AS BIGINT)
      AS hi
  FROM qv
),
qr AS (SELECT lo AS q_lo, hi AS q_hi FROM packed WHERE vec_id = 0),
sc AS (
  SELECT p.vec_id,
         CAST(bit_count(xor(p.lo, q_lo)) + bit_count(xor(p.hi, q_hi))
              AS BIGINT) AS hamming
  FROM packed p, qr WHERE p.vec_id <> 0
),
r AS (
  SELECT vec_id, hamming,
         row_number() OVER (ORDER BY hamming ASC, vec_id ASC) AS rank
  FROM sc
)
SELECT CAST(rank AS INTEGER) AS rank, vec_id, hamming
FROM r WHERE rank <= {k}
"""


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction by fixed-round integer power iteration
    over the distributed cross-moment matrix; every division sign-split
    so floor-vs-truncate never diverges."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.pca_power(emb)


def _sql_pca_power(iters: int = similarity.PCA_ITERS) -> str:
    q = float(similarity.IVF_QUANT)
    scale, pre = similarity.PCA_SCALE, similarity.PCA_PRESCALE
    rounds = []
    for r in range(1, iters + 1):
        rounds.append(
            f""",
r{r} AS (
  SELECT m.i AS dim, SUM(m.m * v{r - 1}.v) AS raw
  FROM m JOIN v{r - 1} ON v{r - 1}.dim = m.j GROUP BY 1
),
g{r} AS (SELECT greatest(1, MAX(abs(raw)) // {scale}) AS g FROM r{r}),
v{r} AS (
  SELECT dim, CASE WHEN raw < 0 THEN -(abs(raw) // g)
              ELSE raw // g END AS v
  FROM r{r}, g{r}
)"""
        )
    return f"""
WITH qv AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {q}) AS BIGINT)) AS v
  FROM embeddings
),
i0 AS (SELECT v, unnest(range(1, len(v) + 1)) AS di FROM qv),
ij AS (SELECT v, di, unnest(range(di, len(v) + 1)) AS dj FROM i0),
cov AS (
  SELECT CAST(di - 1 AS BIGINT) AS dim_i, CAST(dj - 1 AS BIGINT) AS dim_j,
         CAST(SUM(v[CAST(di AS INTEGER)] * v[CAST(dj AS INTEGER)])
              AS BIGINT) AS s_ij
  FROM ij GROUP BY 1, 2
),
m0 AS (
  SELECT dim_i AS i, dim_j AS j, s_ij AS s FROM cov
  UNION ALL
  SELECT dim_j, dim_i, s_ij FROM cov WHERE dim_i <> dim_j
),
fs AS (SELECT greatest(1, MAX(abs(s)) // {pre}) AS f FROM m0),
m AS (
  SELECT i, j, CASE WHEN s < 0 THEN -(abs(s) // f) ELSE s // f END AS m
  FROM m0, fs
),
v0 AS (SELECT DISTINCT i AS dim, CAST({scale} AS BIGINT) AS v FROM m)
{"".join(rounds)}
SELECT dim,
  CAST(v * COALESCE((SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END
                     FROM v{iters} WHERE v <> 0 ORDER BY dim LIMIT 1), 1)
       AS BIGINT) AS v
FROM v{iters}
"""


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the learned principal direction: one
    broadcast array row, zip-multiply integer sum in the scan stage."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.pca_project(emb)


def _sql_pca_project() -> str:
    q = float(similarity.IVF_QUANT)
    return f"""
WITH pc AS ({_sql_pca_power()}),
varr AS (SELECT list(v ORDER BY dim) AS varr FROM pc),
qv AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {q}) AS BIGINT)) AS qvec
  FROM embeddings
)
SELECT vec_id,
  CAST(list_sum(list_transform(range(1, len(qvec) + 1),
                               i -> qvec[i] * varr[i])) AS BIGINT) AS score
FROM qv, varr
"""


def _emb_corrupt_planted(emb: DataFrame) -> DataFrame:
    """Plant vector-grain corruption (fixture vectors are all ~unit):
    every 97th vector double-scaled (norm2_q ~4e6 -> is_high), every
    101st zeroed (norm2_q 0 -> is_low)."""
    scaled = F.expr(
        "CASE WHEN vec_id % 97 = 0 "
        "THEN transform(embedding, x -> x * cast(2.0 as float)) "
        "WHEN vec_id % 101 = 0 "
        "THEN transform(embedding, x -> cast(0.0 as float)) "
        "ELSE embedding END"
    )
    return emb.select("vec_id", scaled.alias("embedding"))


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.embedding_outliers(_emb_corrupt_planted(emb))


def _sql_embedding_outliers(lo: int = 500_000, hi: int = 2_000_000) -> str:
    q = float(similarity.IVF_QUANT)
    return f"""
WITH p AS (
  SELECT vec_id,
         CASE WHEN vec_id % 97 = 0
                THEN list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
              WHEN vec_id % 101 = 0
                THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
              ELSE embedding END AS embedding
  FROM embeddings
),
n AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {q}) AS BIGINT)
                  * CAST(floor(CAST(x AS DOUBLE) * {q}) AS BIGINT)))
           AS BIGINT) AS norm2_q
  FROM p
)
SELECT vec_id, norm2_q, norm2_q < {lo} AS is_low, norm2_q > {hi} AS is_high
FROM n
"""


def q_event_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_id skew profile of the events stream (pre-salting diagnostic)."""
    ev = _read(spark, sf_dir, "events")
    return corpus.key_skew(ev, "user_id", top_k=20)


def _sql_event_key_skew(top_k: int = 20) -> str:
    return f"""
WITH c AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys FROM c),
r AS (
  SELECT CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS rank,
         key, n
  FROM c QUALIFY rank <= {top_k}
)
SELECT rank, key, n, (n * 10000) // n_rows AS share_bp, n_rows, n_keys
FROM r, t
"""


def q_prototype_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-prototype label assignment cross-tab (integer-exact L2)."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.prototype_confusion(emb)


def _sql_prototype_confusion() -> str:
    q = float(similarity.LSH_QUANT)
    return f"""
WITH comps AS (
  SELECT vec_id, label, CAST(u.d - 1 AS INTEGER) AS dim,
         CAST(floor(CAST(embedding[CAST(u.d AS INTEGER)] AS DOUBLE) * {q})
              AS BIGINT) AS qv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(d)
),
cents AS (
  SELECT label AS cand, dim,
         CAST(floor(SUM(qv) / COUNT(*)) AS BIGINT) AS centroid_q
  FROM comps GROUP BY label, dim
),
dists AS (
  SELECT vec_id, label, cand,
         SUM((qv - centroid_q) * (qv - centroid_q)) AS d2
  FROM comps JOIN cents USING (dim)
  GROUP BY vec_id, label, cand
),
best AS (SELECT vec_id, label, MIN(d2) AS dmin FROM dists GROUP BY 1, 2),
assigned AS (
  SELECT d.vec_id, d.label, MIN(d.cand) AS assigned_label
  FROM dists d JOIN best b ON d.vec_id = b.vec_id AND d.d2 = b.dmin
  GROUP BY 1, 2
)
SELECT label, assigned_label, COUNT(*) AS n_vecs
FROM assigned GROUP BY label, assigned_label
"""


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase conversion funnel over the events
    table: stage i counts only when its first qualifying event is
    STRICTLY after the user's stage-(i-1) completion AND within the
    one-day conversion window — chained conditional-min aggregates, no
    rank windows, no per-user collect."""
    return funnel_stages(_read(spark, sf_dir, "events"))


SQL_FUNNEL_STAGES = """
WITH u AS (SELECT DISTINCT user_id FROM events),
v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1\n    AND e.ts <= v.t1 + INTERVAL 86400 SECOND GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2\n    AND e.ts <= c.t2 + INTERVAL 86400 SECOND GROUP BY 1
)
SELECT u.user_id,
  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
            WHEN c.user_id IS NOT NULL THEN 2
            WHEN v.user_id IS NOT NULL THEN 1
            ELSE 0 END AS INTEGER) AS stage
FROM u LEFT JOIN v USING (user_id)
       LEFT JOIN c USING (user_id)
       LEFT JOIN p USING (user_id)
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users cohorted by first-signup day; day-N
    retention = distinct cohort members with any activity N days later.
    User-grain min-agg + equi-join + bounded distinct — no windows."""
    from weblog_pipeline.aggregate import cohort_retention

    return cohort_retention(_read(spark, sf_dir, "events"))


SQL_COHORT_RETENTION = """
WITH cohort AS (
  SELECT user_id,
         MIN(CAST(epoch(date_trunc('day', ts)) AS BIGINT)) AS cohort_day_s
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
act AS (
  SELECT DISTINCT c.cohort_day_s,
    CAST((CAST(epoch(date_trunc('day', e.ts)) AS BIGINT) - c.cohort_day_s)
         // 86400 AS INTEGER) AS day_offset,
    e.user_id
  FROM events e JOIN cohort c USING (user_id)
  WHERE CAST(epoch(date_trunc('day', e.ts)) AS BIGINT) >= c.cohort_day_s
)
SELECT cohort_day_s, day_offset, COUNT(*) AS n_users
FROM act GROUP BY 1, 2
"""


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase attributed to the user's latest
    strictly-earlier view/click within a 7-day lookback. Range-bucket
    join (conversion probes exactly 2 buckets) + one max(struct) agg —
    never a per-user full-history window."""
    from weblog_pipeline.aggregate import attribution_last_touch

    return attribution_last_touch(_read(spark, sf_dir, "events"))


SQL_ATTRIBUTION_LAST_TOUCH = """
WITH conv AS (
  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS conv_us
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT event_id AS touch_id, user_id, epoch_us(ts) AS touch_us,
         event_type AS touch_type
  FROM events WHERE event_type IN ('view', 'click')
),
m AS (
  SELECT p.conv_id, p.user_id, t.touch_id, t.touch_type,
         p.conv_us - t.touch_us AS delta_us,
         row_number() OVER (
           PARTITION BY p.conv_id
           ORDER BY t.touch_us DESC, t.touch_id DESC
         ) AS rn
  FROM conv p LEFT JOIN touch t ON t.user_id = p.user_id
    AND (t.touch_us < p.conv_us
         OR (t.touch_us = p.conv_us AND t.touch_id < p.conv_id))
    AND p.conv_us - t.touch_us <= 604800000000
)
SELECT conv_id, user_id,
  COALESCE(touch_id, -1) AS touch_id,
  COALESCE(touch_type, 'none') AS touch_type,
  COALESCE(delta_us, -1) AS delta_us
FROM m WHERE rn = 1
"""


def _sql_vocab_coverage(budgets: tuple = (256, 1024, 4096)) -> str:
    blist = ", ".join(str(int(k)) for k in budgets)
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
unif AS (SELECT unnest(words) AS token FROM w),
uni AS (SELECT token FROM unif WHERE token <> ''),
cu AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
hist AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS m, CAST(c * COUNT(*) AS BIGINT)
    AS mass
  FROM cu GROUP BY 1
),
cum AS (
  SELECT c, m, mass,
         CAST(COALESCE(SUM(m) OVER (ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS ta,
         CAST(COALESCE(SUM(mass) OVER (ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS ma
  FROM hist
),
tot AS (
  SELECT CAST(SUM(m) AS BIGINT) AS n_types_total,
         CAST(SUM(mass) AS BIGINT) AS total_mass
  FROM hist
),
budgets AS (SELECT unnest([{blist}]) AS budget),
boundary AS (
  SELECT b.budget,
         CAST(c.ma + (b.budget - c.ta) * c.c AS BIGINT) AS bmass
  FROM budgets b JOIN cum c
    ON c.ta < b.budget AND c.ta + c.m >= b.budget
)
SELECT CAST(b.budget AS INTEGER) AS budget, t.n_types_total,
       t.total_mass,
       CAST(COALESCE(bd.bmass, t.total_mass) AS BIGINT)
         AS covered_mass,
       COALESCE(bd.bmass, t.total_mass) * 10000 // t.total_mass
         AS coverage_bp
FROM budgets b CROSS JOIN tot t
LEFT JOIN boundary bd ON bd.budget = b.budget
"""


def q_daily_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The p50/p95 SLO TIME SERIES: value_percentiles rerun at the
    (type, day) grain via a composite key — operator REUSE, not a new
    operator; the histogram window stays bounded by keys x days x
    buckets."""
    from weblog_pipeline.aggregate import value_percentiles

    ev = _read(spark, sf_dir, "events").select(
        F.concat_ws("#", F.col("event_type"), epoch_day()).alias("type_day"),
        "value",
    )
    return value_percentiles(ev, qs=(50, 95), key_col="type_day")


SQL_DAILY_PERCENTILES = """
WITH e AS (
  SELECT event_type || '#' ||
         CAST(CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
              AS VARCHAR) AS type_day,
         value
  FROM events
),
hist AS (
  SELECT type_day, CAST(floor(value / 10.0) AS INTEGER) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2
),
cum AS (
  SELECT type_day, bucket,
         CAST(SUM(n) OVER (PARTITION BY type_day ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(n) OVER (PARTITION BY type_day) AS BIGINT) AS total
  FROM hist
),
x AS (
  SELECT c.type_day, c.bucket, c.cum, c.total, u.q
  FROM cum c, unnest([50, 95]) AS u(q)
  WHERE c.cum >= (u.q * c.total + 99) // 100
)
SELECT type_day, CAST(q AS INTEGER) AS q,
       CAST(MIN(bucket) AS INTEGER) AS bucket
FROM x GROUP BY 1, 2
"""


def q_forecast_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive vs seasonal-naive day-ahead absolute-error scorecard per
    event type (integer SAE sums + bp ratio, -1 sentinel)."""
    from weblog_pipeline.aggregate import forecast_baselines

    return forecast_baselines(_read(spark, sf_dir, "events"))


SQL_FORECAST_BASELINES = """
WITH daily AS (
  SELECT event_type,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT *,
         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev,
         lag(day) OVER (PARTITION BY event_type ORDER BY day)
           AS prev_day
  FROM daily
),
j AS (
  SELECT l.event_type, l.n, l.prev, w.n AS n7
  FROM lagged l
  LEFT JOIN daily w
    ON w.event_type = l.event_type AND w.day = l.day - 7
  WHERE l.prev IS NOT NULL AND l.prev_day = l.day - 1
    AND w.n IS NOT NULL
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(abs(n - prev)) AS BIGINT) AS sae_naive,
         CAST(SUM(abs(n - n7)) AS BIGINT) AS sae_seasonal
  FROM j GROUP BY 1
)
SELECT event_type, n_scored, sae_naive, sae_seasonal,
       CAST(CASE WHEN sae_naive > 0
                 THEN sae_seasonal * 10000 // sae_naive
                 ELSE -1 END AS BIGINT) AS mase_bp
FROM agg
"""


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split with new share in bp
    (first-seen MIN broadcast back, cohort_retention shape)."""
    from weblog_pipeline.aggregate import new_vs_returning

    return new_vs_returning(_read(spark, sf_dir, "events"))


SQL_NEW_VS_RETURNING = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
  FROM events
),
f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1),
j AS (
  SELECT ud.day,
         CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END AS is_new
  FROM ud JOIN f USING (user_id)
),
agg AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(SUM(is_new) AS BIGINT) AS n_new
  FROM j GROUP BY 1
)
SELECT day, n_active, n_new, n_active - n_new AS n_returning,
       n_new * 10000 // n_active AS new_share_bp
FROM agg
"""


def q_user_p95_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution of per-user exact p95s (rank ceil(.95n), cents),
    10-unit buckets — the experience metric a global p95 hides."""
    from weblog_pipeline.aggregate import user_p95_distribution

    return user_p95_distribution(_read(spark, sf_dir, "events"))


SQL_USER_P95_DISTRIBUTION = """
WITH r AS (
  SELECT user_id, event_id,
         CAST(floor(value * 100) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(value * 100) AS BIGINT),
                                     event_id) AS rk,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
p AS (
  SELECT user_id, c AS p95_c FROM r
  WHERE rk = (95 * n + 99) // 100
)
SELECT CAST(p95_c // 1000 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM p GROUP BY 1
"""


def q_heaping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-number heaping per event type: .00/.x0 cents-ending
    shares vs uniform expectations, pure modulo on the BIGINT."""
    from weblog_pipeline.aggregate import heaping_audit

    return heaping_audit(_read(spark, sf_dir, "events"))


SQL_HEAPING_AUDIT = """
WITH r AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
  FROM events WHERE CAST(floor(value * 100) AS BIGINT) > 0
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_amounts,
         CAST(SUM(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_end00,
         CAST(SUM(CASE WHEN c % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_end0
  FROM r GROUP BY 1
)
SELECT event_type, n_amounts, n_end00, n_end0,
       n_end00 * 10000 // n_amounts AS end00_bp,
       n_end0 * 10000 // n_amounts AS end0_bp,
       n_end00 * 10000 // n_amounts - 100 AS excess00_bp,
       n_end0 * 10000 // n_amounts - 1000 AS excess0_bp
FROM agg
"""


def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index over the 64 most active users (milli-log
    quantization, -1 sentinel on an all-equal head)."""
    from weblog_pipeline.aggregate import hill_tail

    return hill_tail(_read(spark, sf_dir, "events"))


def _sql_hill_tail(k: int = 64) -> str:
    return f"""
WITH pu AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
head AS (
  SELECT n FROM pu ORDER BY n DESC, user_id ASC LIMIT {k}
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
         CAST(MIN(n) AS BIGINT) AS x_k,
         CAST(SUM(CAST(floor(ln(CAST(n AS DOUBLE)) * 1000.0)
                       AS BIGINT)) AS BIGINT) AS slog
  FROM head
),
d AS (
  SELECT k_used, x_k,
         slog - k_used * CAST(floor(ln(CAST(x_k AS DOUBLE)) * 1000.0)
                              AS BIGINT) AS denom_milli
  FROM agg
)
SELECT k_used, x_k, denom_milli,
       CAST(CASE WHEN denom_milli > 0
                 THEN (k_used - 1) * 1000 * 1000 // denom_milli
                 ELSE -1 END AS BIGINT) AS alpha_milli
FROM d
"""


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate on the A/B hash split: distinct-user
    2-cell chi-square vs 50/50, integer (n_a-n_b)^2 DIV n."""
    from weblog_pipeline.aggregate import srm_check

    return srm_check(_read(spark, sf_dir, "events"))


SQL_SRM_CHECK = """
WITH u AS (SELECT DISTINCT user_id FROM events),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                        IN ('0','2','4','6','8','a','c','e')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_a
  FROM u
),
s AS (
  SELECT n_users, n_a, n_users - n_a AS n_b,
         (n_a - (n_users - n_a)) * (n_a - (n_users - n_a)) // n_users
           AS srm_chi2
  FROM agg
)
SELECT n_users, n_a, n_b, srm_chi2,
       CAST(srm_chi2 >= 4 AS BIGINT) AS is_srm,
       CAST(srm_chi2 >= 11 AS BIGINT) AS is_srm_strong
FROM s
"""


def q_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error rate vs a 1% SLO budget: integer burn-down bp and
    fast-burn flags, cumulative window over the day domain."""
    from weblog_pipeline.aggregate import error_budget_burn

    return error_budget_burn(_read(spark, sf_dir, "events"))


SQL_ERROR_BUDGET_BURN = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1
),
cum AS (
  SELECT day, n_total, n_errors,
         n_errors * 10000 // n_total AS rate_bp,
         CAST(SUM(n_errors) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS ce,
         CAST(SUM(n_total) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cn
  FROM daily
)
SELECT day, n_total, n_errors, rate_bp,
       ce * 10000 * 10000 // (100 * cn) AS cum_burned_bp,
       CAST(n_errors * 10000 > 3 * 100 * n_total AS BIGINT)
         AS fast_burn
FROM cum
"""


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every in-window touch splits the
    conversion's credit (1e6 ppm DIV n, floor), same bounded
    RANGE-BUCKET join as last-touch."""
    from weblog_pipeline.aggregate import attribution_linear

    return attribution_linear(_read(spark, sf_dir, "events"))


SQL_ATTRIBUTION_LINEAR = """
WITH conv AS (
  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS conv_us
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT event_id AS touch_id, user_id, epoch_us(ts) AS touch_us,
         event_type AS touch_type
  FROM events WHERE event_type IN ('view', 'click')
),
cand AS (
  SELECT p.conv_id, t.touch_id, t.touch_type
  FROM conv p JOIN touch t ON t.user_id = p.user_id
    AND (t.touch_us < p.conv_us
         OR (t.touch_us = p.conv_us AND t.touch_id < p.conv_id))
    AND p.conv_us - t.touch_us <= 604800000000
),
pc AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n FROM cand GROUP BY 1
),
cr AS (
  SELECT c.touch_type, c.conv_id, 1000000 // pc.n AS credit_ppm
  FROM cand c JOIN pc USING (conv_id)
)
SELECT touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm_sum
FROM cr GROUP BY 1
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-scoped user-journey Markov matrix: consecutive event-type
    pairs per (user, day) with integer basis-point row normalization.
    Lag window over bounded (user, day) strata only."""
    from weblog_pipeline.aggregate import event_transitions

    return event_transitions(_read(spark, sf_dir, "events"))


SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER (
           PARTITION BY user_id, date_trunc('day', ts)
           ORDER BY ts, event_id
         ) AS from_type
  FROM events
),
pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
),
tot AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM pairs GROUP BY 1
)
SELECT p.from_type, p.to_type, p.n, p.n * 10000 // t.tot AS p_bp
FROM pairs p JOIN tot t USING (from_type)
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram latency percentiles per event type (p50/p95/p99):
    bit-exact floor-bucketing of the raw double, cumulative window over
    the bounded histogram, integer ceil-threshold — fixed-memory sketch
    shape, shuffle volume independent of event count."""
    from weblog_pipeline.aggregate import value_percentiles

    return value_percentiles(_read(spark, sf_dir, "events"))


SQL_VALUE_PERCENTILES = """
WITH hist AS (
  SELECT event_type, CAST(floor(value / 10.0) AS INTEGER) AS bucket,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bucket,
         CAST(SUM(n) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cum
  FROM hist
),
tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM hist GROUP BY 1
),
qs AS (SELECT * FROM (VALUES (50), (95), (99)) AS t(q)),
th AS (
  SELECT event_type, q, (q * total + 99) // 100 AS thresh
  FROM tot CROSS JOIN qs
)
SELECT c.event_type, CAST(t.q AS INTEGER) AS q, MIN(c.bucket) AS bucket
FROM cum c JOIN th t ON c.event_type = t.event_type AND c.cum >= t.thresh
GROUP BY 1, 2
"""


def q_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain-style log-template mining with a PLANTED log slice: webtext
    prose has no repeated line skeletons (the op returns empty on the raw
    fixture), so docs with id % 5 == 0 get a request-log line whose
    numbers vary per doc, and docs with id % 7 == 0 a session line with a
    hex id — the miner must collapse each family to ONE masked template
    with the planted counts, proving the masking path on every fixture."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit("\nreq "),
                    F.col("doc_id").cast("string"),
                    F.lit(" served in "),
                    (F.col("doc_id") % 97).cast("string"),
                    F.lit(" ms"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit("\nsession "),
                    F.md5(F.col("doc_id").cast("string")),
                    F.lit(" expired"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return textstats.log_templates(docs)


SQL_LOG_TEMPLATES = """
WITH d AS (
  SELECT doc_id,
    coalesce(text, '')
    || CASE WHEN doc_id % 5 = 0
            THEN chr(10) || 'req ' || CAST(doc_id AS VARCHAR)
                 || ' served in ' || CAST(doc_id % 97 AS VARCHAR) || ' ms'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN chr(10) || 'session ' || md5(CAST(doc_id AS VARCHAR))
                 || ' expired'
            ELSE '' END AS text
  FROM documents
),
l AS (
  SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line
  FROM d
),
t AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(line, '\\b[0-9a-f]{8,}\\b', '<HEX>', 'g'),
           '\\d+', '<NUM>', 'g') AS template
  FROM l
)
SELECT template, COUNT(*) AS n_lines, COUNT(DISTINCT doc_id) AS n_docs
FROM t WHERE template <> ''
GROUP BY 1 HAVING COUNT(*) >= 2
"""


#: BM25 catalog query terms (present in the fixture vocabulary with a
#: df spread) and result depth — shared with the SQL oracle.
BM25_TERMS = ("hash", "join", "spark")
BM25_K = 10


PHRASE_TERMS = ("table", "hash")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval ("table hash") over positional postings:
    scan-stage InSet posting filter, (m-1) equi-joins on (doc_id,
    start), overlapping occurrences counted."""
    return textstats.phrase_search(
        _read(spark, sf_dir, "documents"), PHRASE_TERMS
    )


def _sql_phrase_search() -> str:
    legs = "\n".join(
        f"m{i} AS (SELECT doc_id, pos - {i} AS start FROM p"
        f" WHERE token = '{t}'),"
        for i, t in enumerate(PHRASE_TERMS)
    )
    joins = " ".join(
        f"JOIN m{i} USING (doc_id, start)"
        for i in range(1, len(PHRASE_TERMS))
    )
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
p AS (
  SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS pos,
         unnest(toks) AS token
  FROM t WHERE len(toks) > 0
),
{legs}
sel AS (SELECT doc_id, start FROM m0 {joins})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(start) AS BIGINT) AS first_pos
FROM sel GROUP BY 1
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed 3-term query: Lucene idf in
    floored integer micro-nats, integer fixed-point (k1=1.2, b=0.75)
    length-normalized saturation, TakeOrdered top-k."""
    return textstats.bm25_topk(
        _read(spark, sf_dir, "documents"), BM25_TERMS, k=BM25_K
    )


def _sql_bm25_topk(k: int = BM25_K) -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    k1, b = textstats.BM25_K1_X100, textstats.BM25_B_X100
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
  WHERE trim(text, ' ') <> ''
),
tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
dlt AS (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY 1),
st AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_len FROM dlt
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok2
  WHERE token IN ({terms}) GROUP BY 1, 2
),
dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
s AS (
  SELECT tf.doc_id,
    CAST(floor(ln((2 * n_docs + 2.0) / (2 * df + 1.0)) * 1000000.0)
         AS BIGINT)
    * (tf.tf * {(k1 + 100) * 10000}
       // (tf.tf * 100 + ({k1} * ({100 - b}
           + ({b} * dlt.dl * n_docs) // total_len)) // 100)) AS term_score
  FROM tf JOIN dfx USING (token) JOIN dlt USING (doc_id) CROSS JOIN st
),
ds AS (
  SELECT doc_id, COUNT(*) AS n_terms,
         CAST(SUM(term_score) AS BIGINT) AS score
  FROM s GROUP BY 1
)
SELECT CAST(rank AS INTEGER) AS rank, doc_id, n_terms, score
FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM ds
)
WHERE rank <= {k}
"""


def q_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback: BM25 top-10 as the blind
    feedback set, expansion terms ranked by idf * feedback-tf with the
    shared floored-micro-nat idf; top-20."""
    return textstats.prf_expansion(
        _read(spark, sf_dir, "documents"), BM25_TERMS, r=BM25_K, k=20
    )


def _sql_prf_expansion(k: int = 20) -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH bm AS ({_sql_bm25_topk()}),
tokA AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
  WHERE trim(text, ' ') <> ''
),
tokB AS (SELECT doc_id, token FROM tokA WHERE token <> ''),
stB AS (
  SELECT COUNT(*) AS n_docs
  FROM (SELECT doc_id FROM tokB GROUP BY 1)
),
fbtok AS (
  SELECT t.doc_id, t.token FROM tokB t JOIN bm USING (doc_id)
  WHERE t.token NOT IN ({terms})
),
tfq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS total_tf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_fb_docs
  FROM fbtok GROUP BY 1
),
dfx AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tokB
  WHERE token IN (SELECT token FROM tfq) GROUP BY 1
),
sc AS (
  SELECT tfq.token, tfq.n_fb_docs, tfq.total_tf,
         CAST(floor(ln((2 * n_docs + 2.0) / (2 * df + 1.0)) * 1000000.0)
              AS BIGINT) * tfq.total_tf AS rocchio_score
  FROM tfq JOIN dfx USING (token) CROSS JOIN stB
)
SELECT CAST(rank AS INTEGER) AS rank, token, n_fb_docs, total_tf,
       rocchio_score
FROM (
  SELECT *, row_number() OVER (ORDER BY rocchio_score DESC, token ASC)
            AS rank
  FROM sc
)
WHERE rank <= {k}
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorizing mean per event type: bucket-grain 5% trim over the
    HDR histogram, integer-cent sums, one scan + histogram-sized
    windows (the value_percentiles discipline)."""
    from weblog_pipeline.aggregate import trimmed_mean

    return trimmed_mean(_read(spark, sf_dir, "events"))


SQL_TRIMMED_MEAN = """
WITH h AS (
  SELECT event_type, CAST(floor(value / 10.0) AS INTEGER) AS bucket,
         COUNT(*) AS n,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
c AS (
  SELECT event_type, n, s,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS n_total,
         SUM(s) OVER (PARTITION BY event_type) AS s_total
  FROM h
),
k AS (
  SELECT event_type, n, s, n_total, s_total,
         (cum - n >= (5 * n_total + 99) // 100
          AND cum <= (95 * n_total) // 100) AS keep
  FROM c
),
g AS (
  SELECT event_type,
         CAST(MAX(n_total) AS BIGINT) AS n_events,
         COALESCE(CAST(SUM(CASE WHEN keep THEN n END) AS BIGINT), 0)
           AS n_kept,
         COALESCE(CAST(SUM(CASE WHEN keep THEN s END) AS BIGINT), 0)
           AS sum_kept_c,
         CAST(MAX(s_total) AS BIGINT) AS s_total
  FROM k GROUP BY 1
)
SELECT event_type, n_events, n_kept, sum_kept_c,
       CAST(CASE WHEN n_kept > 0 THEN sum_kept_c // n_kept
            ELSE s_total // greatest(n_events, 1) END AS BIGINT)
         AS trimmed_mean_c,
       CAST(s_total // greatest(n_events, 1) AS BIGINT) AS raw_mean_c
FROM g
"""


def q_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval for the shared
    3-term query: every ln floored once on exact integer arguments
    (micro-nats), TakeOrdered top-k — the LM-based counterpart to
    bm25_topk over identical corpus statistics."""
    return textstats.query_likelihood_topk(
        _read(spark, sf_dir, "documents"), BM25_TERMS, k=BM25_K
    )


def _sql_query_likelihood() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    mu, nq, k = textstats.QL_MU, len(BM25_TERMS), BM25_K

    def flnu(arg: str) -> str:
        return (
            f"CAST(floor(ln(CAST({arg} AS DOUBLE)) * 1000000.0) AS BIGINT)"
        )

    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
  WHERE trim(text, ' ') <> ''
),
tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
dlt AS (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY 1),
st AS (SELECT CAST(SUM(dl) AS BIGINT) AS total FROM dlt),
cf AS (
  SELECT token, COUNT(*) AS cf FROM tok2
  WHERE token IN ({terms}) GROUP BY 1
),
cn AS (
  SELECT CAST(SUM({flnu(f"{mu} * cf")}) AS BIGINT) AS const_all FROM cf
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok2
  WHERE token IN ({terms}) GROUP BY 1, 2
),
present AS (
  SELECT tf.doc_id,
         {flnu(f"tf.tf * st.total + {mu} * cf.cf")}
         - {flnu(f"{mu} * cf.cf")} AS adj
  FROM tf JOIN cf USING (token) CROSS JOIN st
),
ds AS (
  SELECT doc_id, COUNT(*) AS n_terms,
         CAST(SUM(adj) AS BIGINT) AS adj_sum
  FROM present GROUP BY 1
),
sc AS (
  SELECT ds.doc_id, ds.n_terms,
         cn.const_all + ds.adj_sum
         - {nq} * ({flnu(f"dlt.dl + {mu}")} + {flnu("st.total")})
           AS score_micro
  FROM ds JOIN dlt USING (doc_id) CROSS JOIN st CROSS JOIN cn
)
SELECT CAST(rank AS INTEGER) AS rank, doc_id, n_terms, score_micro
FROM (
  SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)
         AS rank
  FROM sc
)
WHERE rank <= {k}
"""


def q_vocab_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language train-vs-heldout unigram JS divergence over a
    top-50+OOV support: Laplace ppm integers, ln floored once per cell,
    group-limited per-lang top-k."""
    return textstats.vocab_js_drift(_read(spark, sf_dir, "documents"))


def _sql_vocab_js_drift(top_k: int = 50) -> str:
    return f"""
WITH toks AS (
  SELECT lang,
    (CAST(('0x' || substr(md5('sp:' || doc_id), 1, 4)) AS BIGINT) % 100) < 98
      AS tr,
    unnest({_TOKS}) AS token
  FROM documents
),
tk AS (SELECT * FROM toks WHERE token <> ''),
cnt AS (
  SELECT lang, token,
         COUNT(*) FILTER (WHERE tr) AS ca,
         COUNT(*) FILTER (WHERE NOT tr) AS cb
  FROM tk GROUP BY 1, 2
),
rk AS (
  SELECT lang, ca, cb, row_number() OVER (
    PARTITION BY lang ORDER BY ca + cb DESC, token ASC) AS r
  FROM cnt
),
kept AS (SELECT lang, ca, cb FROM rk WHERE r <= {top_k}),
tot AS (SELECT lang, SUM(ca) AS sa, SUM(cb) AS sb FROM cnt GROUP BY 1),
ksum AS (SELECT lang, SUM(ca) AS ka, SUM(cb) AS kb FROM kept GROUP BY 1),
cells AS (
  SELECT lang, ca, cb FROM kept
  UNION ALL
  SELECT t.lang, t.sa - k.ka, t.sb - k.kb FROM tot t JOIN ksum k USING (lang)
),
ct AS (
  SELECT lang, SUM(ca + 1) AS ta, SUM(cb + 1) AS tb,
         SUM(ca) AS ntr, SUM(cb) AS nhe
  FROM cells GROUP BY 1
),
p AS (
  SELECT c.lang,
         greatest(1, (ca + 1) * 1000000 // ta) AS pa,
         greatest(1, (cb + 1) * 1000000 // tb) AS pb,
         ntr, nhe
  FROM cells c JOIN ct USING (lang)
)
SELECT lang,
  CAST(MAX(ntr) AS BIGINT) AS n_train_toks,
  CAST(MAX(nhe) AS BIGINT) AS n_held_toks,
  CAST(SUM(
    pa * CAST(floor(ln(CAST(2 * pa AS DOUBLE) / CAST(pa + pb AS DOUBLE))
                    * 1000000) AS BIGINT)
  + pb * CAST(floor(ln(CAST(2 * pb AS DOUBLE) / CAST(pa + pb AS DOUBLE))
                    * 1000000) AS BIGINT)) AS BIGINT) AS js2_sum
FROM p GROUP BY 1
"""


def q_serp_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source diversity of the BM25 top-20: distinct sources + the
    modal source's share (the SERP anti-domination audit)."""
    return textstats.serp_diversity(
        _read(spark, sf_dir, "documents"), BM25_TERMS, k=20
    )


def _sql_serp_diversity(k: int = 20) -> str:
    return f"""
WITH bm AS ({_sql_bm25_topk(k=k)}),
j AS (
  SELECT bm.doc_id, d.source FROM bm JOIN documents d USING (doc_id)
),
ps AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_results,
         CAST(COUNT(*) AS BIGINT) AS n_sources,
         max({{'n': n, 's': source}}) AS top
  FROM ps
)
SELECT n_results, n_sources, (top).s AS top_source,
       CAST((top).n AS BIGINT) AS top_n,
       (top).n * 10000 // greatest(n_results, 1) AS top_share_bp
FROM agg
"""


def q_deseasonalized_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekday-adjusted daily anomalies: leave-one-out weekday
    baseline, integer cross-multiplied high/low flags."""
    from weblog_pipeline.aggregate import deseasonalized_anomalies

    return deseasonalized_anomalies(_read(spark, sf_dir, "events"))


SQL_DESEASONALIZED_ANOMALIES = """
WITH daily AS (
  SELECT event_type,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
d2 AS (SELECT *, (day + 3) % 7 AS weekday FROM daily),
wk AS (
  SELECT event_type, weekday, CAST(SUM(n_events) AS BIGINT) AS wsum,
         CAST(COUNT(*) AS BIGINT) AS wcnt
  FROM d2 GROUP BY 1, 2
),
j AS (
  SELECT d.event_type, d.day, d.weekday, d.n_events,
         w.wcnt - 1 AS base_days, w.wsum - d.n_events AS base_sum
  FROM d2 d JOIN wk w USING (event_type, weekday)
)
SELECT event_type, day, weekday, n_events, base_days, base_sum,
  CAST(CASE WHEN base_days > 0
             AND 2 * n_events * base_days > 3 * base_sum
            THEN 1 ELSE 0 END AS BIGINT) AS is_high,
  CAST(CASE WHEN base_days > 0
             AND 2 * n_events * base_days < base_sum
            THEN 1 ELSE 0 END AS BIGINT) AS is_low
FROM j
"""


def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day traffic profile per event type with the integer
    chi-square diurnality flag (UTC hour arithmetic)."""
    from weblog_pipeline.aggregate import hourly_profile

    return hourly_profile(_read(spark, sf_dir, "events"))


SQL_HOURLY_PROFILE = """
WITH prof AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 % 24
           AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
tot AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS total
        FROM prof GROUP BY 1),
grid AS (
  SELECT t.event_type, t.total, CAST(h.i AS BIGINT) AS hour
  FROM tot t, unnest(range(0, 24)) AS h(i)
),
fullg AS (
  SELECT g.event_type, g.hour, g.total,
         CAST(COALESCE(p.n_events, 0) AS BIGINT) AS n_events
  FROM grid g LEFT JOIN prof p
    ON p.event_type = g.event_type AND p.hour = g.hour
),
chi AS (
  SELECT event_type,
         CAST(SUM((24 * n_events - total) * (24 * n_events - total)
                  // (24 * total)) AS BIGINT) AS chi2
  FROM fullg GROUP BY 1
)
SELECT f.event_type, f.hour, f.n_events, f.total, c.chi2,
       (c.chi2 >= 42) AS is_diurnal
FROM fullg f JOIN chi c USING (event_type)
"""


def q_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week traffic profile + integer chi-square uniformity flag
    per event type; weekday via pure epoch-day arithmetic."""
    from weblog_pipeline.aggregate import weekday_profile

    return weekday_profile(_read(spark, sf_dir, "events"))


SQL_WEEKDAY_PROFILE = """
WITH prof AS (
  SELECT event_type,
         (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 + 3) % 7
           AS weekday,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
tot AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS total
        FROM prof GROUP BY 1),
grid AS (
  SELECT t.event_type, t.total, CAST(w.i AS BIGINT) AS weekday
  FROM tot t, unnest(range(0, 7)) AS w(i)
),
fullg AS (
  SELECT g.event_type, g.weekday, g.total,
         CAST(COALESCE(p.n_events, 0) AS BIGINT) AS n_events
  FROM grid g LEFT JOIN prof p
    ON p.event_type = g.event_type AND p.weekday = g.weekday
),
chi AS (
  SELECT event_type,
         CAST(SUM((7 * n_events - total) * (7 * n_events - total)
                  // (7 * total)) AS BIGINT) AS chi2
  FROM fullg GROUP BY 1
)
SELECT f.event_type, f.weekday, f.n_events, f.total, c.chi2,
       (c.chi2 >= 13) AS is_seasonal
FROM fullg f JOIN chi c USING (event_type)
"""


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI for the per-type mean cents:
    32 replicates, md5 threshold-ladder weights, 2nd-smallest /
    2nd-largest replicate means as the interval."""
    from weblog_pipeline.aggregate import bootstrap_ci

    return bootstrap_ci(_read(spark, sf_dir, "events"))


def _sql_bootstrap_ci(b: int = 32) -> str:
    from weblog_pipeline.aggregate import BOOTSTRAP_T

    t0, t1, t2 = BOOTSTRAP_T
    return f"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100) AS BIGINT) AS c,
         unnest(range(0, {b})) AS bb
  FROM events
),
w AS (
  SELECT event_type, bb, c,
         CASE WHEN h < {t0} THEN 0 WHEN h < {t1} THEN 1
              WHEN h < {t2} THEN 2 ELSE 3 END AS w
  FROM (
    SELECT base.*,
           CAST(('0x' || substr(md5('bs:' || CAST(event_id AS VARCHAR)
                                 || ':' || CAST(bb AS VARCHAR)), 1, 4))
                AS BIGINT) AS h
    FROM base
  )
),
reps AS (
  SELECT event_type, bb,
         CAST(SUM(w * c) AS BIGINT) // greatest(CAST(SUM(w) AS BIGINT), 1)
           AS m
  FROM w GROUP BY 1, 2
),
ci AS (
  SELECT event_type, list_sort(list(m)) AS ms FROM reps GROUP BY 1
),
fs AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           // COUNT(*) AS mean_c
  FROM events GROUP BY 1
)
SELECT f.event_type, f.n_events, f.mean_c,
       CAST(ci.ms[2] AS BIGINT) AS ci_lo_c,
       CAST(ci.ms[{b - 1}] AS BIGINT) AS ci_hi_c
FROM fs f JOIN ci USING (event_type)
"""


def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type entropy in integer micro-nats (char_entropy's
    floored-term recipe) — the behavioral bot feature."""
    from weblog_pipeline.aggregate import user_entropy

    return user_entropy(_read(spark, sf_dir, "events"))


SQL_USER_ENTROPY = """
WITH per AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT user_id,
         CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CAST(floor(ln(CAST(c AS DOUBLE)) * c * 1000000)
                       AS BIGINT)) AS BIGINT) AS s
  FROM per GROUP BY 1
)
SELECT user_id, n_events, n_types,
       CAST(floor(ln(CAST(n_events AS DOUBLE)) * 1000000) AS BIGINT)
         - s // n_events AS entropy_micro
FROM agg
"""


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-link reciprocity of the planted domain graph (one-row
    spam-graph feature)."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.reciprocity(graph.link_graph(graph.extract_links(docs)))


def _sql_reciprocity() -> str:
    return f"""
WITH {_links_cte()},
e AS (
  SELECT DISTINCT src_host, dst_host FROM edges
  WHERE src_host <> dst_host
),
r AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_recip
  FROM e WHERE EXISTS (
    SELECT 1 FROM e e2
    WHERE e2.src_host = e.dst_host AND e2.dst_host = e.src_host
  )
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       r.n_recip,
       r.n_recip * 10000 // (SELECT COUNT(*) FROM e) AS recip_bp
FROM r
"""


def q_engagement_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini of per-user activity per event type, computed from
    the distinct-count histogram (rank-block identity, no global
    sort)."""
    from weblog_pipeline.aggregate import engagement_gini

    return engagement_gini(_read(spark, sf_dir, "events"))


SQL_ENGAGEMENT_GINI = """
WITH pu AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
hist AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS m FROM pu GROUP BY 1, 2
),
blocks AS (
  SELECT event_type, c, m,
         CAST(SUM(m) OVER (PARTITION BY event_type ORDER BY c
                           ROWS UNBOUNDED PRECEDING) - m AS BIGINT) AS r0
  FROM hist
),
agg AS (
  SELECT event_type,
         CAST(SUM(m) AS BIGINT) AS n_users,
         CAST(SUM(m * c) AS BIGINT) AS total_events,
         CAST(SUM(c * (m * r0 + m * (m + 1) // 2)) AS BIGINT) AS s_sum
  FROM blocks GROUP BY 1
)
SELECT event_type, n_users, total_events,
       (2 * s_sum - (n_users + 1) * total_events) * 10000
         // (n_users * total_events) AS gini_bp
FROM agg
"""


def q_zone_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping audit over 256-row ingest-order chunks:
    per-chunk min/max of user/day/cents plus would-scan flags and true
    match counts for a user point-lookup, a [D0+2, D0+4] day range, and
    a cents >= 45000 hot-value filter."""
    from weblog_pipeline.ops.corpus import zone_maps

    return zone_maps(_read(spark, sf_dir, "events"))


SQL_ZONE_MAPS = """
WITH base AS (
  SELECT event_id // 256 AS chunk_id, user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
pd AS (
  SELECT chunk_id, day, COUNT(*) AS n,
         MIN(user_id) AS mn_u, MAX(user_id) AS mx_u,
         MIN(cents) AS mn_c, MAX(cents) AS mx_c,
         COUNT(*) FILTER (WHERE user_id = 42) AS m_user,
         COUNT(*) FILTER (WHERE cents >= 45000) AS m_val
  FROM base GROUP BY 1, 2
),
d0 AS (SELECT pd.*, MIN(day) OVER () AS d0 FROM pd),
per AS (
  SELECT chunk_id,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         MIN(mn_u) AS min_user, MAX(mx_u) AS max_user,
         MIN(day) AS min_day, MAX(day) AS max_day,
         MIN(mn_c) AS min_cents, MAX(mx_c) AS max_cents,
         CAST(SUM(m_user) AS BIGINT) AS n_match_user,
         CAST(SUM(CASE WHEN day BETWEEN d0 + 2 AND d0 + 4
                       THEN n ELSE 0 END) AS BIGINT) AS n_match_day,
         CAST(SUM(m_val) AS BIGINT) AS n_match_val,
         MIN(d0) AS d0
  FROM d0 GROUP BY chunk_id
)
SELECT chunk_id, n_rows, min_user, max_user, min_day, max_day,
       min_cents, max_cents,
       (min_user <= 42 AND max_user >= 42) AS would_scan_user,
       (max_day >= d0 + 2 AND min_day <= d0 + 4) AS would_scan_day,
       (max_cents >= 45000) AS would_scan_val,
       n_match_user, n_match_day, n_match_val
FROM per
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency/frequency/monetary with exact
    tie-consistent quintiles from one melted histogram pass (no global
    ntile sort); rfm_code = r*100 + f*10 + m."""
    from weblog_pipeline.aggregate import rfm_segments

    return rfm_segments(_read(spark, sf_dir, "events"))


SQL_RFM_SEGMENTS = """
WITH agg AS (
  SELECT user_id,
         MAX(CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400)
           AS d_last,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events GROUP BY 1
),
pu AS (
  SELECT user_id,
         (SELECT MAX(d_last) FROM agg) - d_last AS recency,
         frequency, monetary_cents
  FROM agg
),
melt AS (
  SELECT 'recency' AS m, recency AS v FROM pu
  UNION ALL SELECT 'frequency', frequency FROM pu
  UNION ALL SELECT 'monetary_cents', monetary_cents FROM pu
),
hist AS (SELECT m, v, COUNT(*) AS c FROM melt GROUP BY 1, 2),
qmap AS (
  SELECT m, v,
         1 + ((SUM(c) OVER (PARTITION BY m ORDER BY v
                            ROWS UNBOUNDED PRECEDING) - 1) * 5)
             // SUM(c) OVER (PARTITION BY m) AS q
  FROM hist
)
SELECT pu.user_id, pu.recency, pu.frequency, pu.monetary_cents,
       CAST(6 - qr.q AS BIGINT) AS r_score,
       CAST(qf.q AS BIGINT) AS f_score,
       CAST(qm.q AS BIGINT) AS m_score,
       CAST((6 - qr.q) * 100 + qf.q * 10 + qm.q AS BIGINT) AS rfm_code
FROM pu
JOIN qmap qr ON qr.m = 'recency' AND qr.v = pu.recency
JOIN qmap qf ON qf.m = 'frequency' AND qf.v = pu.frequency
JOIN qmap qm ON qm.m = 'monetary_cents' AND qm.v = pu.monetary_cents
"""


def q_km_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table over user lifetimes (last-first active
    day), right-censoring users active within 7 days of the corpus end;
    integer hazard in bp per distinct lifetime."""
    from weblog_pipeline.aggregate import km_hazard

    return km_hazard(_read(spark, sf_dir, "events"))


SQL_KM_HAZARD = """
WITH spans AS (
  SELECT user_id,
         MIN(CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400)
           AS d_first,
         MAX(CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400)
           AS d_last
  FROM events GROUP BY 1
),
wm AS (SELECT spans.*, MAX(d_last) OVER () AS dmax FROM spans),
pu AS (
  SELECT d_last - d_first AS lifetime,
         (dmax - d_last <= 7) AS cens
  FROM wm
),
pt AS (
  SELECT lifetime,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE NOT cens) AS BIGINT) AS n_churned,
         CAST(COUNT(*) FILTER (WHERE cens) AS BIGINT) AS n_censored
  FROM pu GROUP BY 1
),
ar AS (
  SELECT pt.*,
         CAST(SUM(n) OVER (ORDER BY lifetime DESC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_at_risk
  FROM pt
)
SELECT lifetime, n_at_risk, n_churned, n_censored,
       (n_churned * 10000) // n_at_risk AS hazard_bp
FROM ar
"""


def q_zorder_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-curve layout audit: interleave (user%256, day%256) bits,
    bin z DIV 1024, same pruning probes as zone_maps — the measured
    case that z-order bounds BOTH dims' spans per bin."""
    from weblog_pipeline.ops.corpus import zorder_bins

    return zorder_bins(_read(spark, sf_dir, "events"))


def _sql_zorder_bins() -> str:
    interleave = " + ".join(
        f"((u8 // {1 << b}) % 2) * {1 << (2 * b + 1)}"
        f" + ((d8 // {1 << b}) % 2) * {1 << (2 * b)}"
        for b in range(8)
    )
    return f"""
WITH dims AS (
  SELECT user_id % 256 AS u8,
         (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400) % 256
           AS d8
  FROM events
),
zv AS (SELECT u8, d8, ({interleave}) // 1024 AS bin_id FROM dims),
pd AS (
  SELECT bin_id, d8, COUNT(*) AS n,
         MIN(u8) AS mn_u, MAX(u8) AS mx_u,
         COUNT(*) FILTER (WHERE u8 = 42) AS m_user
  FROM zv GROUP BY 1, 2
),
d0 AS (SELECT pd.*, MIN(d8) OVER () AS d0 FROM pd),
per AS (
  SELECT bin_id,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         MIN(mn_u) AS min_u8, MAX(mx_u) AS max_u8,
         MIN(d8) AS min_d8, MAX(d8) AS max_d8,
         CAST(SUM(m_user) AS BIGINT) AS n_match_user,
         CAST(SUM(CASE WHEN d8 BETWEEN d0 + 2 AND d0 + 4
                       THEN n ELSE 0 END) AS BIGINT) AS n_match_day,
         MIN(d0) AS d0
  FROM d0 GROUP BY bin_id
)
SELECT bin_id, n_rows, min_u8, max_u8, min_d8, max_d8,
       (min_u8 <= 42 AND max_u8 >= 42) AS would_scan_user,
       (max_d8 >= d0 + 2 AND min_d8 <= d0 + 4) AS would_scan_day,
       n_match_user, n_match_day
FROM per
"""


def q_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM control chart over the daily-count series —
    closed-form prefix-sum/running-min windows, n_days-scaled integer
    deviations, slack total DIV 4, alarm at cusum > total."""
    from weblog_pipeline.aggregate import cusum_alerts

    return cusum_alerts(_read(spark, sf_dir, "events"))


SQL_CUSUM_ALERTS = """
WITH daily AS (
  SELECT event_type,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day, n_events,
         SUM(n_events) OVER (PARTITION BY event_type) AS total,
         COUNT(*) OVER (PARTITION BY event_type) AS ndays
  FROM daily
),
pfx AS (
  SELECT event_type, day, n_events, total,
         SUM(ndays * n_events - total - total // 4) OVER w AS p
  FROM scored
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)
),
run AS (
  SELECT event_type, day, n_events, total, p,
         MIN(p) OVER (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS pmin
  FROM pfx
)
SELECT event_type, day, n_events,
       CAST(p - LEAST(0, pmin) AS BIGINT) AS cusum,
       (p - LEAST(0, pmin) > total) AS is_alarm
FROM run
"""


def q_props_schema_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema inference over props with PLANTED extra keys (every
    3rd event gains a string key, every 5th a negative-int key — the
    base fixture only ever carries integer 'k')."""
    from weblog_pipeline.aggregate import props_schema_census

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.col("event_id") % 3 == 0,
            F.replace(F.col("props"), F.lit("}"), F.lit(',"src":"web"}')),
        )
        .when(
            F.col("event_id") % 5 == 0,
            F.replace(F.col("props"), F.lit("}"), F.lit(',"n2":-7}')),
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    return props_schema_census(ev)


SQL_PROPS_SCHEMA_CENSUS = """
WITH planted AS (
  SELECT event_type,
         CASE WHEN event_id % 3 = 0
              THEN replace(props, '}', ',"src":"web"}')
              WHEN event_id % 5 = 0
              THEN replace(props, '}', ',"n2":-7}')
              ELSE props END AS props
  FROM events WHERE props IS NOT NULL
),
kv AS (
  SELECT event_type, unnest(json_keys(props)) AS key, props FROM planted
),
kvv AS (
  SELECT event_type, key,
         json_extract_string(props, '$."' || key || '"') AS value
  FROM kv
)
SELECT event_type, key, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) FILTER (WHERE regexp_full_match(value, '-?[0-9]+'))
            AS BIGINT) AS n_int
FROM kvv GROUP BY 1, 2
"""


def q_traffic_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass (type, weekday) ROLLUP with grouping_id and sentinel
    subtotal keys."""
    from weblog_pipeline.aggregate import traffic_rollup

    return traffic_rollup(_read(spark, sf_dir, "events"))


SQL_TRAFFIC_ROLLUP = """
WITH base AS (
  SELECT event_type,
         (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 + 3) % 7
           AS weekday
  FROM events
)
SELECT COALESCE(event_type, 'ALL') AS event_type,
       CAST(COALESCE(weekday, -1) AS BIGINT) AS weekday,
       CAST(GROUPING(event_type, weekday) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM base GROUP BY ROLLUP (event_type, weekday)
"""


def q_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily volume anomalies vs the trailing-7-observed-day
    baseline, integer cross-multiplied z-test (z=2)."""
    from weblog_pipeline.aggregate import daily_anomalies

    return daily_anomalies(_read(spark, sf_dir, "events"))


SQL_DAILY_ANOMALIES = """
WITH daily AS (
  SELECT event_type,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
b AS (
  SELECT event_type, day, n_events,
    CAST(COALESCE(COUNT(n_events) OVER w, 0) AS BIGINT) AS base_days,
    CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS base_sum,
    CAST(COALESCE(SUM(n_events * n_events) OVER w, 0) AS BIGINT) AS s2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n_events, base_days, base_sum,
  (base_days >= 3 AND
   (base_days * n_events - base_sum) * (base_days * n_events - base_sum)
     > 4 * (base_days * s2 - base_sum * base_sum)) AS is_anomaly
FROM b
"""


def q_item_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-day item co-visitation pairs (props.k items), stratum-capped
    self-join, support >= 7."""
    from weblog_pipeline.aggregate import item_covisitation

    return item_covisitation(
        _read(spark, sf_dir, "events"), min_support=7
    )


SQL_ITEM_COVISITATION = """
WITH it AS (
  SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE props IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
),
sz AS (SELECT user_id, day, COUNT(*) AS n FROM it GROUP BY 1, 2),
kept AS (
  SELECT it.* FROM it JOIN sz USING (user_id, day)
  WHERE sz.n BETWEEN 2 AND 20
),
p AS (
  SELECT a.item AS item_a, b.item AS item_b
  FROM kept a JOIN kept b
    ON a.user_id = b.user_id AND a.day = b.day AND a.item < b.item
)
SELECT item_a, item_b, CAST(COUNT(*) AS BIGINT) AS n_covisits
FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 7
"""


def q_streak_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users by longest consecutive-day streak (trailing 62-day BIGINT
    bitmap + the y & (y<<1) run-killing chain, fully unrolled)."""
    from weblog_pipeline.aggregate import streak_census

    return streak_census(_read(spark, sf_dir, "events"))


def _sql_streak_census(window: int = 62) -> str:
    # gaps-and-islands twin of the Spark bitmap fold: a lateral-alias
    # bit chain would blow up DuckDB's binder (aliases substitute by
    # COPY — the same 2^n expression trap as chaining Columns in
    # PySpark), so the oracle derives the longest run from consecutive
    # distinct days directly (day - row_number() island keys)
    return f"""
WITH d AS (
  SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
  FROM events
),
mx AS (SELECT MAX(day) AS dmax FROM d),
f AS (
  SELECT user_id, day FROM d CROSS JOIN mx
  WHERE dmax - day < {window}
),
isl AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
           AS g
  FROM f
),
runs AS (
  SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS len
  FROM isl GROUP BY 1, 2
),
pu AS (SELECT user_id, MAX(len) AS streak FROM runs GROUP BY 1)
SELECT streak, CAST(COUNT(*) AS BIGINT) AS n_users
FROM pu GROUP BY 1
"""


def q_burst_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users by their peak 60-second event burst: exact RANGE-frame
    count over (user, day) strata, LTZ microsecond ordering."""
    from weblog_pipeline.aggregate import burst_census

    return burst_census(_read(spark, sf_dir, "events"))


SQL_BURST_CENSUS = """
WITH r AS (
  SELECT user_id,
         COUNT(*) OVER (
           PARTITION BY user_id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
           ORDER BY epoch_us(ts)
           RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW
         ) AS burst
  FROM events
),
pu AS (
  SELECT user_id, CAST(MAX(burst) AS BIGINT) AS peak_burst
  FROM r GROUP BY 1
)
SELECT peak_burst, CAST(COUNT(*) AS BIGINT) AS n_users
FROM pu GROUP BY 1
"""


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity rollup of duplicate clusters: per cluster size, docs /
    bytes / bytes-saved keeping the longest member."""
    return dedup.dedup_savings(_read(spark, sf_dir, "documents"))


def _sql_dedup_savings(
    jaccard_pct: int = 80, bucket_cap: int = dedup.DEFAULT_BUCKET_CAP
) -> str:
    return f"""
WITH clusters AS ({_sql_dup_clusters(jaccard_pct, bucket_cap)}),
lens AS (
  SELECT doc_id, CAST(length(COALESCE(text, '')) AS BIGINT) AS n_bytes
  FROM documents
),
pc AS (
  SELECT c.cluster_id,
         CAST(COUNT(*) AS BIGINT) AS cluster_size,
         CAST(SUM(l.n_bytes) AS BIGINT) AS total_bytes,
         CAST(MAX(l.n_bytes) AS BIGINT) AS kept
  FROM clusters c JOIN lens l USING (doc_id)
  GROUP BY 1
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       CAST(SUM(total_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(total_bytes - kept) AS BIGINT) AS saved_bytes
FROM pc GROUP BY 1
"""


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round integer power iteration to the journey chain's
    stationary vector (8 rounds over the event-type-domain matrix,
    renormalized to 10000 bp each round)."""
    from weblog_pipeline.aggregate import markov_stationary

    return markov_stationary(_read(spark, sf_dir, "events"))


def _sql_markov_stationary(iters: int = 8) -> str:
    steps = []
    for r in range(1, iters + 1):
        steps.append(f""",
mv{r} AS MATERIALIZED (
  SELECT m.to_type AS event_type,
         CAST(SUM(v.p_bp * m.p_bp_m // 10000) AS BIGINT) AS p_new
  FROM v{r - 1} v JOIN m ON m.from_type = v.event_type
  GROUP BY 1
),
kp{r} AS (
  SELECT v.event_type, v.p_bp AS p_new FROM v{r - 1} v
  WHERE NOT EXISTS (SELECT 1 FROM fs WHERE fs.from_type = v.event_type)
),
nx{r} AS MATERIALIZED (
  SELECT event_type, CAST(SUM(p_new) AS BIGINT) AS p_raw FROM (
    SELECT * FROM mv{r} UNION ALL SELECT * FROM kp{r}
  ) GROUP BY 1
),
t{r} AS (SELECT CAST(SUM(p_raw) AS BIGINT) AS t FROM nx{r}),
v{r} AS MATERIALIZED (
  SELECT event_type, CAST(p_raw * 10000 // t.t AS BIGINT) AS p_bp
  FROM nx{r} CROSS JOIN t{r} t
)""")
    return f"""
WITH tr AS ({SQL_EVENT_TRANSITIONS}),
m AS MATERIALIZED (
  SELECT from_type, to_type, CAST(p_bp AS BIGINT) AS p_bp_m FROM tr
),
fs AS MATERIALIZED (SELECT DISTINCT from_type FROM m),
states AS MATERIALIZED (
  SELECT from_type AS event_type FROM m
  UNION SELECT to_type FROM m
),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM states),
v0 AS MATERIALIZED (
  SELECT event_type, CAST(10000 // greatest(ns.n, 1) AS BIGINT)
    AS p_bp
  FROM states CROSS JOIN ns
){"".join(steps)}
SELECT event_type, p_bp FROM v{iters}
"""


def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Props-key presence drift between day-parity halves: per-mille
    rates, signed deviation, new/vanished flags. Plants a baseline-only
    'legacy' key and a current-only 'v2' key (census planting style) so
    the vanish/new paths are non-vacuous on the fixture."""
    from weblog_pipeline.aggregate import schema_drift

    ev = _read(spark, sf_dir, "events")
    parity = epoch_day() % 2
    planted = ev.withColumn(
        "props",
        F.when(
            F.col("props").isNotNull()
            & (parity == 0)
            & (F.col("event_id") % 4 == 0),
            F.expr("replace(props, '}', ',\"legacy\":1}')"),
        )
        .when(
            F.col("props").isNotNull()
            & (parity == 1)
            & (F.col("event_id") % 4 == 0),
            F.expr("replace(props, '}', ',\"v2\":1}')"),
        )
        .otherwise(F.col("props")),
    )
    return schema_drift(planted)


SQL_SCHEMA_DRIFT = """
WITH p0 AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 % 2 = 0
           AS base, event_id, props
  FROM events WHERE props IS NOT NULL
),
p AS (
  SELECT base,
         CASE WHEN base AND event_id % 4 = 0
              THEN replace(props, '}', ',"legacy":1}')
              WHEN NOT base AND event_id % 4 = 0
              THEN replace(props, '}', ',"v2":1}')
              ELSE props END AS props
  FROM p0
),
kv AS (
  SELECT base, unnest(json_keys(props)) AS key FROM p
),
pk AS (
  SELECT key,
         CAST(SUM(CASE WHEN base THEN 1 ELSE 0 END) AS BIGINT)
           AS n_base,
         CAST(SUM(CASE WHEN base THEN 0 ELSE 1 END) AS BIGINT)
           AS n_cur
  FROM kv GROUP BY 1
),
t AS (
  SELECT CAST(SUM(CASE WHEN base THEN 1 ELSE 0 END) AS BIGINT) AS tb,
         CAST(SUM(CASE WHEN base THEN 0 ELSE 1 END) AS BIGINT) AS tc
  FROM p
)
SELECT key, n_base, n_cur,
       n_base * 1000 // greatest(tb, 1) AS base_pm,
       n_cur * 1000 // greatest(tc, 1) AS cur_pm,
       n_cur * 1000 // greatest(tc, 1)
         - n_base * 1000 // greatest(tb, 1) AS dev_pm,
       CAST(n_base = 0 AS BIGINT) AS is_new,
       CAST(n_cur = 0 AS BIGINT) AS vanished
FROM pk CROSS JOIN t
"""


def q_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user curve: users by exact distinct active days + each
    bucket's share of event volume in bp."""
    from weblog_pipeline.aggregate import activity_histogram

    return activity_histogram(_read(spark, sf_dir, "events"))


SQL_ACTIVITY_HISTOGRAM = """
WITH pu AS (
  SELECT user_id,
         CAST(COUNT(DISTINCT CAST(epoch(date_trunc('day', ts)) AS BIGINT)
                    // 86400) AS BIGINT) AS days_active,
         CAST(COUNT(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1
),
h AS (
  SELECT days_active, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(n_ev) AS BIGINT) AS n_events
  FROM pu GROUP BY 1
),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM events)
SELECT days_active, n_users, n_events,
       n_events * 10000 // t.tot AS events_share_bp
FROM h CROSS JOIN t
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the events table: nulls, exact
    distincts, canonical-string min/max, modal value via the
    max(n, value) struct winner."""
    from weblog_pipeline.aggregate import table_profile

    return table_profile(_read(spark, sf_dir, "events"))


def _sql_table_profile() -> str:
    cols = [
        ("event_id", "event_id"),
        ("user_id", "user_id"),
        ("event_type", "event_type"),
        ("value_cents", "CAST(floor(value * 100) AS BIGINT)"),
        ("ts_us", "epoch_us(ts)"),
        ("props", "props"),
    ]
    parts = []
    for name, expr in cols:
        parts.append(f"""
SELECT '{name}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       CAST(MIN(v) AS VARCHAR) AS min_v,
       CAST(MAX(v) AS VARCHAR) AS max_v,
       (SELECT (max({{'n': n, 's': CAST(v AS VARCHAR)}})).s FROM (
          SELECT v, CAST(COUNT(*) AS BIGINT) AS n
          FROM (SELECT {expr} AS v FROM events)
          WHERE v IS NOT NULL GROUP BY 1)) AS top_v,
       (SELECT (max({{'n': n, 's': CAST(v AS VARCHAR)}})).n FROM (
          SELECT v, CAST(COUNT(*) AS BIGINT) AS n
          FROM (SELECT {expr} AS v FROM events)
          WHERE v IS NOT NULL GROUP BY 1)) AS top_n
FROM (SELECT {expr} AS v FROM events)""")
    return "\nUNION ALL\n".join(parts)


def q_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint suite as data: PK uniqueness, value sign,
    ts sanity window, FK into customer (broadcast anti-join), props
    JSON-object validity."""
    from weblog_pipeline.aggregate import data_quality_checks

    return data_quality_checks(
        _read(spark, sf_dir, "events"), _read(spark, sf_dir, "customer")
    )


SQL_DATA_QUALITY_CHECKS = """
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
         CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_neg,
         CAST(SUM(CASE WHEN epoch_us(ts) < 1577836800000000
                        OR epoch_us(ts) >= 1893456000000000
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_bad,
         CAST(SUM(CASE WHEN props IS NOT NULL
                        AND NOT (json_valid(props)
                                 AND json_type(props) = 'OBJECT')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_json_bad,
         CAST(SUM(CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_props
  FROM events
),
fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_fk_bad
  FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = e.user_id)
),
rows_ AS (
  SELECT 'pk_unique_event_id' AS check_name, n_rows AS n_checked,
         n_rows - n_ids AS n_violations FROM base
  UNION ALL
  SELECT 'value_non_negative', n_rows, n_neg FROM base
  UNION ALL
  SELECT 'ts_in_sane_range', n_rows, n_ts_bad FROM base
  UNION ALL
  SELECT 'fk_user_in_customer', n_rows, fk.n_fk_bad
  FROM base CROSS JOIN fk
  UNION ALL
  SELECT 'props_valid_json_object', n_props, n_json_bad FROM base
)
SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_violations = 0 AS BIGINT) AS passed
FROM rows_
"""


def q_source_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of sources on (n_docs, avg_chars): dominance via
    two bounded-domain max lookups, never an all-pairs self-join."""
    return corpus.source_skyline(_read(spark, sf_dir, "documents"))


SQL_SOURCE_SKYLINE = """
WITH xs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(length(COALESCE(text, ''))) AS BIGINT)
           // CAST(COUNT(*) AS BIGINT) AS avg_chars
  FROM documents GROUP BY 1
),
xd AS (SELECT DISTINCT n_docs AS x FROM xs),
gt AS (
  SELECT d.x, CAST(MAX(s.avg_chars) AS BIGINT) AS max_y_gt
  FROM xd d JOIN xs s ON s.n_docs > d.x GROUP BY 1
),
eq AS (
  SELECT n_docs AS x, CAST(MAX(avg_chars) AS BIGINT) AS max_y_eq
  FROM xs GROUP BY 1
)
SELECT s.source, s.n_docs, s.avg_chars,
       CAST(s.avg_chars = e.max_y_eq
            AND s.avg_chars > COALESCE(g.max_y_gt, -1) AS BIGINT)
         AS on_frontier
FROM xs s
JOIN eq e ON e.x = s.n_docs
LEFT JOIN gt g ON g.x = s.n_docs
"""


def q_landing_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session landing/exit/bounce per event type: one window-free
    (user, day) aggregate via min_by/max_by on the (ts_us, event_id)
    struct."""
    from weblog_pipeline.aggregate import landing_exit

    return landing_exit(_read(spark, sf_dir, "events"))


SQL_LANDING_EXIT = """
WITH sess AS (
  SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         (min({'u': epoch_us(ts), 'e': event_id,
               't': event_type})).t AS landing,
         (max({'u': epoch_us(ts), 'e': event_id,
               't': event_type})).t AS exit,
         COUNT(*) AS n_ev
  FROM events GROUP BY 1, 2
),
l AS (
  SELECT landing AS event_type,
         CAST(COUNT(*) AS BIGINT) AS n_landing,
         CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounce
  FROM sess GROUP BY 1
),
e AS (
  SELECT exit AS event_type, CAST(COUNT(*) AS BIGINT) AS n_exit
  FROM sess GROUP BY 1
)
SELECT COALESCE(l.event_type, e.event_type) AS event_type,
       CAST(COALESCE(l.n_landing, 0) AS BIGINT) AS n_landing,
       CAST(COALESCE(e.n_exit, 0) AS BIGINT) AS n_exit,
       CAST(COALESCE(l.n_bounce, 0) AS BIGINT) AS n_bounce
FROM l FULL OUTER JOIN e ON e.event_type = l.event_type
"""


def _merge_changes(docs: DataFrame) -> DataFrame:
    """The deterministic MERGE change set shared by q_merge_upsert and
    q_snapshot_diff: update %7, delete %13 unless updated, insert %11
    at id+1e7."""

    def payload(df, op, doc_id, text, lang, source):
        return df.select(
            F.lit(op).alias("op"),
            doc_id.cast("long").alias("doc_id"),
            text.alias("text"),
            lang.alias("lang"),
            source.alias("source"),
            F.length(text).cast("long").alias("n_chars"),
        )

    upd = payload(
        docs.where(F.col("doc_id") % 7 == 0),
        "update",
        F.col("doc_id"),
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" [rev2]")),
        F.col("lang"),
        F.col("source"),
    )
    dele = payload(
        docs.where((F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 7 != 0)),
        "delete",
        F.col("doc_id"),
        F.coalesce(F.col("text"), F.lit("")),
        F.col("lang"),
        F.col("source"),
    )
    ins = payload(
        docs.where(F.col("doc_id") % 11 == 0),
        "insert",
        F.col("doc_id") + 10_000_000,
        F.concat(F.lit("ins:"), F.col("doc_id")),
        F.lit("en"),
        F.lit("ingest"),
    )
    return upd.unionByName(dele).unionByName(ins)


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the documents snapshot: deterministic change set
    (update %7, delete %13 unless updated, insert %11 at id+1e7),
    anti-join + union merge, per-source rollup with a content hash
    sum so a wrong merge cannot slip through counts."""
    docs = _read(spark, sf_dir, "documents")
    merged = corpus.merge_upsert(docs, _merge_changes(docs))
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
        ).alias("sum_chars"),
        F.sum(
            F.conv(
                F.substring(
                    F.md5(F.coalesce(F.col("text"), F.lit(""))), 1, 8
                ),
                16,
                10,
            ).cast("long")
        ).alias("hash_sum"),
    )


SQL_MERGE_UPSERT = """
WITH upd AS (
  SELECT 'update' AS op, doc_id, COALESCE(text, '') || ' [rev2]' AS text,
         lang, source
  FROM documents WHERE doc_id % 7 = 0
),
dele AS (
  SELECT 'delete' AS op, doc_id, COALESCE(text, '') AS text, lang, source
  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 7 <> 0
),
ins AS (
  SELECT 'insert' AS op, doc_id + 10000000 AS doc_id,
         'ins:' || CAST(doc_id AS VARCHAR) AS text,
         'en' AS lang, 'ingest' AS source
  FROM documents WHERE doc_id % 11 = 0
),
changes AS (
  SELECT * FROM upd UNION ALL SELECT * FROM dele
  UNION ALL SELECT * FROM ins
),
touched AS (
  SELECT DISTINCT doc_id FROM changes WHERE op IN ('update', 'delete')
),
merged AS (
  SELECT b.doc_id, b.text, b.source FROM documents b
  WHERE NOT EXISTS (SELECT 1 FROM touched t WHERE t.doc_id = b.doc_id)
  UNION ALL
  SELECT doc_id, text, source FROM changes WHERE op <> 'delete'
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(COALESCE(text, ''))) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(('0x' || substr(md5(COALESCE(text, '')), 1, 8))
                     AS BIGINT)) AS BIGINT) AS hash_sum
FROM merged GROUP BY 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between documents and its post-MERGE snapshot:
    one FULL OUTER key join classifying rows by presence + content
    hash; recovers exactly the planted change-set counts."""
    docs = _read(spark, sf_dir, "documents")
    merged = corpus.merge_upsert(docs, _merge_changes(docs))
    return corpus.snapshot_diff(docs, merged)


SQL_SNAPSHOT_DIFF = """
WITH upd AS (
  SELECT 'update' AS op, doc_id, COALESCE(text, '') || ' [rev2]' AS text,
         lang, source
  FROM documents WHERE doc_id % 7 = 0
),
dele AS (
  SELECT 'delete' AS op, doc_id, COALESCE(text, '') AS text, lang, source
  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 7 <> 0
),
ins AS (
  SELECT 'insert' AS op, doc_id + 10000000 AS doc_id,
         'ins:' || CAST(doc_id AS VARCHAR) AS text,
         'en' AS lang, 'ingest' AS source
  FROM documents WHERE doc_id % 11 = 0
),
changes AS (
  SELECT * FROM upd UNION ALL SELECT * FROM dele
  UNION ALL SELECT * FROM ins
),
touched AS (
  SELECT DISTINCT doc_id FROM changes WHERE op IN ('update', 'delete')
),
merged AS (
  SELECT b.doc_id, b.text, b.source FROM documents b
  WHERE NOT EXISTS (SELECT 1 FROM touched t WHERE t.doc_id = b.doc_id)
  UNION ALL
  SELECT doc_id, text, source FROM changes WHERE op <> 'delete'
),
b AS (
  SELECT doc_id AS k, source AS bsrc,
         md5(COALESCE(text, '')) AS bh
  FROM documents
),
n AS (
  SELECT doc_id AS k, source AS nsrc,
         md5(COALESCE(text, '')) AS nh
  FROM merged
),
j AS (
  SELECT COALESCE(n.nsrc, b.bsrc) AS source,
         CASE WHEN b.bh IS NULL THEN 1 ELSE 0 END AS i,
         CASE WHEN n.nh IS NULL THEN 1 ELSE 0 END AS d,
         CASE WHEN b.bh IS NOT NULL AND n.nh IS NOT NULL
               AND b.bh <> n.nh THEN 1 ELSE 0 END AS u
  FROM b FULL OUTER JOIN n ON n.k = b.k
)
SELECT source,
       CAST(SUM(i) AS BIGINT) AS n_inserts,
       CAST(SUM(d) AS BIGINT) AS n_deletes,
       CAST(SUM(u) AS BIGINT) AS n_updates
FROM j GROUP BY 1
HAVING SUM(i) > 0 OR SUM(d) > 0 OR SUM(u) > 0
"""


def q_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + hapax share per source (integer bp), one
    (source, token) aggregate then a vocabulary-bounded rollup."""
    return textstats.lexical_richness(_read(spark, sf_dir, "documents"))


def _sql_lexical_richness() -> str:
    return f"""
WITH w AS (
  SELECT source, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
unif AS (SELECT source, unnest(words) AS token FROM w),
uni AS (SELECT source, token FROM unif WHERE token <> ''),
pt AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM uni GROUP BY 1, 2
),
agg AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax
  FROM pt GROUP BY 1
)
SELECT source, n_tokens, n_types, n_hapax,
       n_types * 10000 // n_tokens AS ttr_bp,
       n_hapax * 10000 // n_types AS hapax_bp
FROM agg
"""


def q_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex satisfaction rollup per event type: exact per-mille
    (1000*sat + 500*tol) DIV total, raw-double threshold compares."""
    from weblog_pipeline.aggregate import apdex_score

    return apdex_score(_read(spark, sf_dir, "events"))


SQL_APDEX_SCORE = """
WITH agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN value <= 10.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_satisfied,
         CAST(SUM(CASE WHEN value > 10.0 AND value <= 40.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating
  FROM events GROUP BY 1
)
SELECT event_type, n_events, n_satisfied, n_tolerating,
       (1000 * n_satisfied + 500 * n_tolerating) // n_events
         AS apdex_pm
FROM agg
"""


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert HDR percentiles over the as-of attribution
    join's delta_us (minute buckets, value_percentiles' integer
    percentile rule)."""
    from weblog_pipeline.aggregate import conversion_latency

    return conversion_latency(_read(spark, sf_dir, "events"))


def _sql_conversion_latency(
    bucket_us: int = 60_000_000, qs: tuple = (50, 95)
) -> str:
    q_vals = ", ".join(str(int(q)) for q in qs)
    return f"""
WITH at AS ({SQL_ATTRIBUTION_LAST_TOUCH}),
hist AS (
  SELECT touch_type,
         CAST(delta_us // {bucket_us} AS INTEGER) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM at WHERE delta_us >= 0
  GROUP BY 1, 2
),
cum AS (
  SELECT touch_type, bucket,
         CAST(SUM(n) OVER (PARTITION BY touch_type ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(n) OVER (PARTITION BY touch_type) AS BIGINT) AS total
  FROM hist
),
x AS (
  SELECT c.touch_type, c.bucket, c.cum, c.total, u.q
  FROM cum c, unnest([{q_vals}]) AS u(q)
  WHERE c.cum >= (u.q * c.total + 99) // 100
)
SELECT touch_type, CAST(q AS INTEGER) AS q,
       CAST(MIN(bucket) AS INTEGER) AS bucket,
       CAST(MIN(total) AS BIGINT) AS n_conv
FROM x GROUP BY 1, 2
"""


def q_kmv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user sketch per event type (60-bit md5 hashes, k
    smallest via a group-limited rank) with exact count and bp error
    beside it."""
    from weblog_pipeline.aggregate import kmv_audit

    return kmv_audit(_read(spark, sf_dir, "events"))


def _sql_kmv_audit(k: int = 64) -> str:
    two52 = 1 << 52
    return f"""
WITH pairs AS (
  SELECT DISTINCT event_type, user_id FROM events
),
hashed AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
                              1, 13)) AS BIGINT) AS h
  FROM pairs
),
kept AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h ASC)
           AS r
  FROM hashed
),
sk AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(MAX(h) AS BIGINT) AS h_k
  FROM kept WHERE r <= {k} GROUP BY 1
),
exact AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM pairs GROUP BY 1
),
j AS (
  SELECT e.event_type, e.n_exact, s.h_k,
         CAST(CASE WHEN s.n_kept < {k} THEN e.n_exact
                   ELSE ({k} - 1) * CAST({two52} AS BIGINT) // s.h_k
              END AS BIGINT) AS est
  FROM exact e JOIN sk s USING (event_type)
)
SELECT event_type, n_exact, h_k, est,
       abs(est - n_exact) * 10000 // n_exact AS err_bp
FROM j
"""


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit census per event type: floored-cents
    amounts, decimal-string first digit, quantized log10 expectations,
    per-mille deviations — one scan, zero joins."""
    from weblog_pipeline.aggregate import benford_audit

    return benford_audit(_read(spark, sf_dir, "events"))


def _sql_benford_audit() -> str:
    from weblog_pipeline.aggregate import _benford_pm

    pm = ", ".join(str(p) for p in _benford_pm())
    return f"""
WITH d AS (
  SELECT event_type,
         CAST(substr(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR),
                     1, 1) AS INTEGER) AS digit
  FROM events WHERE CAST(floor(value * 100) AS BIGINT) > 0
),
agg AS (
  SELECT event_type, digit, CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM d GROUP BY 1, 2
),
t AS (
  SELECT *, CAST(SUM(n_obs) OVER (PARTITION BY event_type) AS BIGINT)
              AS n_total
  FROM agg
)
SELECT event_type, digit, n_total, n_obs,
       (n_obs * 1000) // n_total AS obs_pm,
       CAST(([{pm}])[digit] AS BIGINT) AS p_pm,
       (n_obs * 1000) // n_total - ([{pm}])[digit] AS dev_pm
FROM t
"""


def q_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder vs ingest order (event_id) within (user,
    day) strata: exact microsecond lateness against the running max —
    the number that sizes a watermark."""
    from weblog_pipeline.aggregate import disorder_audit

    return disorder_audit(_read(spark, sf_dir, "events"))


SQL_DISORDER_AUDIT = """
WITH r AS (
  SELECT event_type,
         epoch_us(ts) AS us,
         MAX(epoch_us(ts)) OVER (
           PARTITION BY user_id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS runmax
  FROM events
),
l AS (
  SELECT event_type,
         CASE WHEN runmax IS NOT NULL AND us < runmax
              THEN runmax - us ELSE 0 END AS late_us
  FROM r
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(MAX(late_us) AS BIGINT) AS max_late_us,
       CAST(SUM(late_us) AS BIGINT) AS sum_late_us
FROM l GROUP BY 1
"""


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 dimension join: deterministic two-version
    segment history broadcast into the event fact, half-open validity
    interval picked in the scan stage."""
    from weblog_pipeline.ops.relational import scd2_lookup

    return scd2_lookup(
        _read(spark, sf_dir, "events"), _read(spark, sf_dir, "customer")
    )


SQL_SCD2_LOOKUP = """
WITH d0 AS (
  SELECT MIN(CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400)
    AS d0 FROM events
),
ev AS (
  SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 - d0.d0
           AS day,
         CAST(floor(value * 100) AS BIGINT) AS value_c
  FROM events CROSS JOIN d0
),
segs AS (
  SELECT ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
          'MACHINERY'] AS a
),
dim AS (
  SELECT c_custkey, 1 AS version, c_mktsegment AS seg,
         CAST(0 AS BIGINT) AS valid_from,
         CAST(CASE WHEN c_custkey % 3 = 0 THEN 1 + c_custkey % 28
                   ELSE 30 END AS BIGINT) AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, 2,
         a[(list_position(a, c_mktsegment) % 5) + 1],
         CAST(1 + c_custkey % 28 AS BIGINT), CAST(30 AS BIGINT)
  FROM customer CROSS JOIN segs WHERE c_custkey % 3 = 0
)
SELECT d.seg, d.version,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(SUM(e.value_c) AS BIGINT) AS sum_value_c
FROM ev e JOIN dim d ON d.c_custkey = e.user_id
WHERE e.day >= d.valid_from AND e.day < d.valid_to
GROUP BY 1, 2
"""


def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-vs-rule reliability table: hashed-linear scores
    binned (double-floor, exact), joined on doc_id to the C4 pass bit,
    per-bin pass rate in bp."""
    docs = _read(spark, sf_dir, "documents")
    scores = textstats.quality_classifier(
        docs, textstats.classifier_weights(spark)
    )
    verdicts = textstats.c4_quality_flags(
        _c4_planted(docs), badwords=C4_PROBE
    )
    return textstats.score_calibration(scores, verdicts)


def _sql_score_calibration(bin_width: int = 200) -> str:
    return f"""
SELECT CAST(floor(CAST(qc.score AS DOUBLE) / {bin_width}.0) AS BIGINT)
         AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN qc.label = 'keep' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN c4."pass" THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       (CAST(SUM(CASE WHEN c4."pass" THEN 1 ELSE 0 END) AS BIGINT)
        * 10000) // COUNT(*) AS pass_rate_bp
FROM ({_sql_quality_classifier()}) qc
JOIN ({_sql_c4_quality()}) c4 USING (doc_id)
GROUP BY 1
"""


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item squared-cosine (bp) over the capped co-visitation
    strata: support-gated pairs, broadcast per-item degrees,
    TakeOrderedAndProject top-k."""
    from weblog_pipeline.aggregate import item_similarity

    return item_similarity(_read(spark, sf_dir, "events"))


SQL_ITEM_SIMILARITY = """
WITH it AS (
  SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE props IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
),
sz AS (SELECT user_id, day, COUNT(*) AS n FROM it GROUP BY 1, 2),
kept AS (
  SELECT it.* FROM it JOIN sz USING (user_id, day)
  WHERE sz.n BETWEEN 2 AND 20
),
p AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(COUNT(*) AS BIGINT) AS n_covisits
  FROM kept a JOIN kept b
    ON a.user_id = b.user_id AND a.day = b.day AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
deg AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
        FROM kept GROUP BY 1),
scored AS (
  SELECT p.item_a, p.item_b, p.n_covisits,
         da.n_item AS n_a, db.n_item AS n_b,
         (p.n_covisits * p.n_covisits * 10000) // (da.n_item * db.n_item)
           AS sim_sq_bp
  FROM p JOIN deg da ON da.item = p.item_a
         JOIN deg db ON db.item = p.item_b
)
SELECT CAST(row_number() OVER (
         ORDER BY sim_sq_bp DESC, item_a ASC, item_b ASC)
       AS INTEGER) AS rank,
       item_a, item_b, n_covisits, n_a, n_b, sim_sq_bp
FROM scored ORDER BY sim_sq_bp DESC, item_a ASC, item_b ASC LIMIT 50
"""


def q_trending_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed item popularity (props.k items): exact
    power-of-two day weights, broadcast newest-day scalar, trending =
    integer cross-multiply on the recent mass."""
    from weblog_pipeline.aggregate import trending_items

    return trending_items(_read(spark, sf_dir, "events"))


SQL_TRENDING_ITEMS = """
WITH it AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
  FROM events
  WHERE props IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
),
mx AS (SELECT MAX(day) AS dmax FROM it),
aged AS (
  SELECT item,
         (CAST(1 AS BIGINT) << CAST(15 - (dmax - day) AS INTEGER)) AS w,
         (dmax - day < 3) AS rec
  FROM it CROSS JOIN mx
  WHERE dmax - day < 16
),
agg AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(w) AS BIGINT) AS w_total,
         CAST(SUM(CASE WHEN rec THEN w ELSE 0 END) AS BIGINT)
           AS w_recent
  FROM aged GROUP BY 1
)
SELECT item, n_events, w_total, w_recent,
       CAST(2 * w_recent > w_total AS BIGINT) AS trending
FROM agg WHERE n_events >= 3
"""


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor per event type:
    baseline/current by epoch-day parity, shared HDR bucketing, Laplace
    smoothing, ppm probabilities by integer DIV, ln of the exact ppm
    ratio floored once per bucket to micro-nats."""
    from weblog_pipeline.aggregate import drift_psi

    return drift_psi(_read(spark, sf_dir, "events"))


SQL_DRIFT_PSI = """
WITH g AS (
  SELECT event_type, CAST(floor(value / 10.0) AS INTEGER) AS bucket,
    SUM(CASE WHEN CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 % 2 = 0
             THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 % 2 = 0
             THEN 0 ELSE 1 END) AS cb
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(SUM(ca + 1) AS BIGINT) AS ta,
         CAST(SUM(cb + 1) AS BIGINT) AS tb
  FROM g GROUP BY 1
),
j AS (
  SELECT g.event_type, g.ca, g.cb,
         greatest(1, (g.ca + 1) * 1000000 // t.ta) AS pa,
         greatest(1, (g.cb + 1) * 1000000 // t.tb) AS pb
  FROM g JOIN tot t USING (event_type)
)
SELECT event_type,
  CAST(SUM(ca) AS BIGINT) AS n_base,
  CAST(SUM(cb) AS BIGINT) AS n_cur,
  CAST(SUM((pa - pb) * CAST(floor(ln(CAST(pa AS DOUBLE) / pb) * 1000000.0)
                            AS BIGINT)) AS BIGINT) AS psi_sum
FROM j GROUP BY 1
"""


def q_bot_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation timing signal: per (user, day) integer moments of
    consecutive-event gaps (ms) plus the engine-exact regularity flag —
    lag window over bounded strata, one map-side-combined aggregate."""
    from weblog_pipeline.aggregate import bot_gap_stats

    return bot_gap_stats(_read(spark, sf_dir, "events"))


SQL_BOT_GAP_STATS = """
WITH g AS (
  SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS win_start,
         epoch_us(ts) // 1000 AS ts_ms,
         event_id
  FROM events
),
d AS (
  SELECT user_id, win_start,
         ts_ms - lag(ts_ms) OVER (
           PARTITION BY user_id, win_start ORDER BY ts_ms, event_id
         ) AS gap
  FROM g
),
a AS (
  SELECT user_id, win_start,
         COUNT(*) AS n_gaps,
         CAST(SUM(gap) AS BIGINT) AS sum_gap_ms,
         CAST(SUM(gap * gap) AS BIGINT) AS sum_gap2_ms,
         CAST(MIN(gap) AS BIGINT) AS min_gap_ms,
         CAST(MAX(gap) AS BIGINT) AS max_gap_ms
  FROM d WHERE gap IS NOT NULL GROUP BY 1, 2
)
SELECT user_id, win_start, n_gaps, sum_gap_ms, sum_gap2_ms,
       min_gap_ms, max_gap_ms,
  CAST(n_gaps >= 5
       AND n_gaps * sum_gap2_ms - sum_gap_ms * sum_gap_ms
           < n_gaps * (sum_gap_ms // (4 * n_gaps))
                    * (sum_gap_ms // (4 * n_gaps)) * n_gaps
       AS INTEGER) AS is_regular
FROM a
"""


def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly monitor per event type: exact lower
    median + MAD over the (key, day) count series, integer k-MAD flag —
    aggregate-first, windows only over day-grain strata."""
    from weblog_pipeline.aggregate import anomaly_days

    return anomaly_days(_read(spark, sf_dir, "events"))


SQL_ANOMALY_DAYS = """
WITH daily AS (
  SELECT event_type, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, day_s, cnt,
         row_number() OVER (PARTITION BY event_type ORDER BY cnt, day_s) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
m AS (
  SELECT event_type, day_s, cnt,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
           OVER (PARTITION BY event_type) AS med_cnt
  FROM r
),
d AS (
  SELECT event_type, day_s, med_cnt, abs(cnt - med_cnt) AS dev FROM m
),
r2 AS (
  SELECT event_type, med_cnt, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev, day_s) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
s AS (
  SELECT event_type, med_cnt, dev,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END)
           OVER (PARTITION BY event_type) AS mad
  FROM r2
)
SELECT event_type, COUNT(*) AS n_days, MAX(med_cnt) AS med_cnt,
       MAX(mad) AS mad,
       CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       MAX(dev) AS max_dev
FROM s GROUP BY 1
"""


def q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day-WAU stickiness: distinct user-days first,
    fixed 7x explode of that relation, broadcast day-dim join to drop
    phantom windows."""
    from weblog_pipeline.aggregate import dau_wau

    return dau_wau(_read(spark, sf_dir, "events"))


SQL_DAU_WAU = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d
  FROM events
),
days AS (SELECT DISTINCT d FROM ud),
dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
w AS (
  SELECT user_id, unnest(generate_series(d, d + 6)) AS wd FROM ud
),
wau AS (
  SELECT wd AS d, COUNT(DISTINCT user_id) AS wau
  FROM w WHERE wd IN (SELECT d FROM days) GROUP BY 1
)
SELECT dau.d * 86400 AS day_s, dau.dau AS dau, wau.wau AS wau,
       dau.dau * 10000 // wau.wau AS stickiness_bp
FROM dau JOIN wau USING (d)
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-journey prefixes: first 5 event types per (user, day)
    session joined by '>', counted, TakeOrdered global rank."""
    from weblog_pipeline.aggregate import session_paths

    return session_paths(_read(spark, sf_dir, "events"))


SQL_SESSION_PATHS = """
WITH e AS (
  SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
         event_type,
         row_number() OVER (
           PARTITION BY user_id, date_trunc('day', ts)
           ORDER BY ts, event_id
         ) AS rn
  FROM events
),
p AS (
  SELECT user_id, day_s,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM e WHERE rn <= 5 GROUP BY 1, 2
),
c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
SELECT CAST(rank AS INTEGER) AS rank, path, n_sessions
FROM (
  SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS rank
  FROM c
)
WHERE rank <= 20
"""


def q_ab_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-parity A/B readout per event type: per-arm
    distinct users, event counts, integer-cent value totals, and the
    events-per-user lift in basis points — one conditional aggregate."""
    from weblog_pipeline.aggregate import ab_metrics

    return ab_metrics(_read(spark, sf_dir, "events"))


SQL_AB_METRICS = """
WITH e AS (
  SELECT event_type, user_id,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
           IN ('0', '2', '4', '6', '8', 'a', 'c', 'e') AS is_a,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
g AS (
  SELECT event_type,
         COUNT(DISTINCT CASE WHEN is_a THEN user_id END) AS a_users,
         COUNT(DISTINCT CASE WHEN NOT is_a THEN user_id END) AS b_users,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS a_events,
         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS b_events,
         COALESCE(CAST(SUM(CASE WHEN is_a THEN cents END) AS BIGINT), 0)
           AS a_value_c,
         COALESCE(CAST(SUM(CASE WHEN NOT is_a THEN cents END) AS BIGINT), 0)
           AS b_value_c
  FROM e GROUP BY 1
)
SELECT event_type, a_users, b_users, a_events, b_events,
       a_value_c, b_value_c,
       a_events * 10000 // greatest(a_users, 1)
       - b_events * 10000 // greatest(b_users, 1) AS lift_bp
FROM g
"""


def _emb_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with the vector double-cast and the label kept — the
    frame the label-aware similarity ops (hard_negatives, knn_label_eval)
    consume."""
    return _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
        "label",
    )


def _labeled_queries(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: per query, overlap of the exact
    top-5 under leading-16-dim ranking vs full-64-dim ranking, both on
    quantized integer dot products (engine-exact)."""
    emb = _emb_labeled(spark, sf_dir)
    return similarity.matryoshka_recall(
        emb,
        _labeled_queries(emb).select("query_id", "query_vec"),
        k=5,
    )


def _sql_matryoshka_recall(
    k: int = 5,
    prefix: int = similarity.MRL_PREFIX_DIMS,
    quant: int = similarity.LSH_QUANT,
    dim: int = similarity.DIM,
) -> str:
    return f"""
WITH qz AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {quant}) AS BIGINT)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM qz WHERE vec_id % 50 = 0),
sc AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, {dim + 1}),
                                      i -> q.qv[i] * c.v[i]))
              AS BIGINT) AS s_full,
         CAST(list_sum(list_transform(range(1, {prefix + 1}),
                                      i -> q.qv[i] * c.v[i]))
              AS BIGINT) AS s_pre
  FROM q, qz c WHERE c.vec_id <> q.query_id
),
tf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY s_full DESC, neighbor_id ASC) AS r FROM sc
  ) WHERE r <= {k}
),
tp AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY s_pre DESC, neighbor_id ASC) AS r FROM sc
  ) WHERE r <= {k}
),
ov AS (
  SELECT query_id, COUNT(*) AS n
  FROM tf JOIN tp USING (query_id, neighbor_id) GROUP BY 1
)
SELECT q.query_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
       CAST(COALESCE(ov.n, 0) * 10000 // {k} AS BIGINT) AS recall_bp
FROM q LEFT JOIN ov USING (query_id)
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per query vector, the 5 most
    cosine-similar corpus vectors with a DIFFERENT label — label filter
    before ranking, group-limited top-k."""
    emb = _emb_labeled(spark, sf_dir)
    return similarity.hard_negatives(emb, _labeled_queries(emb), k=5)


SQL_HARD_NEGATIVES = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         label AS qlabel
  FROM embeddings WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
         round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])),
               6) AS cos_r6
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       neighbor_label, cos_r6
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_r6 DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
"""


def q_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality probe: per-true-label accuracy of the k-NN
    majority-label classifier (k=5, exact neighbors, deterministic
    vote tie-break). At web scale the corpus side rides the ann_recall
    audit-slice discipline; here it is exact for a value oracle."""
    emb = _emb_labeled(spark, sf_dir)
    return similarity.knn_label_eval(emb, _labeled_queries(emb), k=5)


SQL_KNN_LABEL_EVAL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         label AS qlabel
  FROM embeddings WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label AS nl,
         round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])),
               6) AS c
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
),
top AS (
  SELECT query_id, qlabel, nl FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY c DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 5
),
votes AS (
  SELECT query_id, qlabel, nl, COUNT(*) AS n_votes
  FROM top GROUP BY 1, 2, 3
),
pred AS (
  SELECT query_id, qlabel, nl AS pred_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY n_votes DESC, nl ASC) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT qlabel AS query_label, COUNT(*) AS n_queries,
       CAST(SUM(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         * 10000 // COUNT(*) AS acc_bp
FROM pred GROUP BY 1
"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit over the planted-dup relation
    (the raw fixture has no >=80% near-dup pairs): verified near-dup
    pairs counted by the (ordered) split pair they straddle, split
    labels recomputed as a pure doc_id projection — no split-table
    join."""
    docs = _planted_docs(_read(spark, sf_dir, "documents"))
    return corpus.split_leakage(docs)


def _sql_split_case(c: str) -> str:
    """The split label as a SQL expression of a doc_id column — the
    DuckDB twin of corpus.split_of_col (98/1/1 default)."""
    b = f"CAST(('0x' || substr(md5('sp:' || {c}), 1, 4)) AS BIGINT) % 100"
    return (
        f"CASE WHEN {b} < 98 THEN 'train' "
        f"WHEN {b} < 99 THEN 'val' ELSE 'test' END"
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote/sub-document detection: rare-shingle candidate join
    (df in [2,4]) + exact containment of the smaller shingle set,
    integer basis points, threshold 8000."""
    return dedup.containment_pairs(_read(spark, sf_dir, "documents"))


def _sql_containment_pairs(min_bp: int = 8000, df_cap: int = 4) -> str:
    return f"""
WITH {_shingle_cte("documents").lstrip()},
sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
rare AS (
  SELECT shingle FROM sets GROUP BY shingle
  HAVING COUNT(*) BETWEEN 2 AND {df_cap}
),
cand AS (
  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
  FROM sets sa
  JOIN rare r ON r.shingle = sa.shingle
  JOIN sets sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_intersect
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_intersect AS BIGINT) AS n_intersect,
       CAST(za.n AS BIGINT) AS n_a,
       CAST(zb.n AS BIGINT) AS n_b,
       CAST(10000 * i.n_intersect // least(za.n, zb.n) AS BIGINT)
         AS containment_bp
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE 10000 * i.n_intersect // least(za.n, zb.n) >= {min_bp}
"""


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact >= 50% shingle-Jaccard pairs via PPJoin prefix filtering;
    the oracle recomputes from the NAIVE share-any-shingle join, so a
    broken prefix bound (false negative) mismatches."""
    return dedup.setsim_join(_read(spark, sf_dir, "documents"))


def _sql_setsim_join(jaccard_pct: int = 50) -> str:
    return f"""
WITH {_shingle_cte("documents").lstrip()},
sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_intersect
  FROM sets a JOIN sets b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_intersect AS BIGINT) AS n_intersect,
       CAST(za.n + zb.n - i.n_intersect AS BIGINT) AS n_union
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE 100 * i.n_intersect >= {jaccard_pct} * (za.n + zb.n - i.n_intersect)
"""


def _sql_split_leakage(jaccard_pct: int = 80) -> str:
    return f"""
WITH {_PLANTED_CTE},
{_sig_cte("planted").lstrip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_intersect
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.doc_a
  JOIN sets sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
),
ver AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE i.n_intersect * 100 >= {jaccard_pct} * (za.n + zb.n - i.n_intersect)
),
lab AS (
  SELECT least({_sql_split_case("doc_a")}, {_sql_split_case("doc_b")})
           AS split_a,
         greatest({_sql_split_case("doc_a")}, {_sql_split_case("doc_b")})
           AS split_b
  FROM ver
)
SELECT split_a, split_b, COUNT(*) AS n_pairs,
       CAST(split_a <> split_b AS INTEGER) AS is_leak
FROM lab GROUP BY 1, 2
"""


def q_domain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the planted domain
    graph: each host adopts its neighbors' heaviest label per round,
    ties to the smallest label — deterministic, integer/string-exact."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.label_propagation(graph.link_graph(graph.extract_links(docs)))


def _sql_domain_communities(iters: int = graph.LP_ITERS) -> str:
    # the Spark loop unrolled as lp0..lp{iters} CTEs (the trustrank
    # pattern); each round = vote-sum join + rank-1 winner per host
    lps = []
    for i in range(iters):
        lps.append(
            f""",
lp{i + 1} AS (
  SELECT host, label FROM (
    SELECT v.host, v.label,
           row_number() OVER (
             PARTITION BY v.host ORDER BY v.w DESC, v.label ASC
           ) AS rn
    FROM (
      SELECT sym.s AS host, p.label, CAST(SUM(sym.w) AS BIGINT) AS w
      FROM sym JOIN lp{i} p ON p.host = sym.t
      GROUP BY 1, 2
    ) v
  ) WHERE rn = 1
)"""
        )
    return f"""
WITH {_links_cte()},
sym AS (
  SELECT s, t, CAST(SUM(n_links) AS BIGINT) AS w FROM (
    SELECT src_host AS s, dst_host AS t, n_links FROM edges
    WHERE src_host <> dst_host
    UNION ALL
    SELECT dst_host AS s, src_host AS t, n_links FROM edges
    WHERE src_host <> dst_host
  ) GROUP BY 1, 2
),
lp0 AS (SELECT DISTINCT s AS host, s AS label FROM sym){"".join(lps)}
SELECT host, label,
       CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT)
         AS community_size
FROM lp{iters}
"""


def q_domain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round hash-min connected components over the planted
    domain graph: per-host smallest reachable label within CC_ITERS
    hops + per-row convergence flag — the mirror-site/link-farm blob
    detector next to domain_communities' weighted split."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.connected_components(
        graph.link_graph(graph.extract_links(docs))
    )


def _sql_domain_components(iters: int = graph.CC_ITERS) -> str:
    # the Spark loop unrolled as cc0..cc{iters} CTEs (the trustrank
    # pattern); each round = neighbor-min join + LEAST against self
    ccs = []
    for i in range(iters):
        ccs.append(
            f""",
cc{i + 1} AS (
  SELECT c.host,
         LEAST(c.label, COALESCE(m.nmin, c.label)) AS label
  FROM cc{i} c LEFT JOIN (
    SELECT sym.s AS host, MIN(p.label) AS nmin
    FROM sym JOIN cc{i} p ON p.host = sym.t
    GROUP BY 1
  ) m ON m.host = c.host
)"""
        )
    return f"""
WITH {_links_cte()},
sym AS (
  SELECT DISTINCT s, t FROM (
    SELECT src_host AS s, dst_host AS t FROM edges
    WHERE src_host <> dst_host
    UNION ALL
    SELECT dst_host AS s, src_host AS t FROM edges
    WHERE src_host <> dst_host
  )
),
cc0 AS (SELECT DISTINCT s AS host, s AS label FROM sym){"".join(ccs)}
SELECT f.host, f.label AS comp,
       CAST(COUNT(*) OVER (PARTITION BY f.label) AS BIGINT) AS comp_size,
       CAST(f.label = p.label AS INTEGER) AS stable
FROM cc{iters} f JOIN cc{iters - 1} p ON p.host = f.host
"""


def q_domain_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round 2-core peeling over the planted domain graph:
    distinct-neighbor degrees, synchronous drop of hosts under the
    threshold, 4 unrolled rounds."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.k_core(graph.link_graph(graph.extract_links(docs)))


def _sql_domain_kcore(
    k: int = graph.KCORE_K, iters: int = graph.KCORE_ITERS
) -> str:
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(
            f""",
d{i} AS (
  SELECT sym.s AS host, COUNT(*) AS degree
  FROM sym
  JOIN a{i - 1} x ON x.host = sym.s
  JOIN a{i - 1} y ON y.host = sym.t
  GROUP BY 1
),
a{i} AS (SELECT host FROM d{i} WHERE degree >= {k})"""
        )
    return f"""
WITH {_links_cte()},
sym AS (
  SELECT DISTINCT s, t FROM (
    SELECT src_host AS s, dst_host AS t FROM edges
    WHERE src_host <> dst_host
    UNION ALL
    SELECT dst_host AS s, src_host AS t FROM edges
    WHERE src_host <> dst_host
  )
),
a0 AS (SELECT DISTINCT s AS host FROM sym){"".join(rounds)}
SELECT host, CAST(degree AS BIGINT) AS degree
FROM d{iters} WHERE degree >= {k}
"""


def q_domain_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle counts over the planted domain graph via the
    degree-ordered orientation (wedge join on the low endpoint, close
    on the oriented (v,w) edge)."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.triangle_count(graph.link_graph(graph.extract_links(docs)))


def _sql_domain_triangles() -> str:
    return f"""
WITH {_links_cte()},
sym AS (
  SELECT DISTINCT s, t FROM (
    SELECT src_host AS s, dst_host AS t FROM edges
    WHERE src_host <> dst_host
    UNION ALL
    SELECT dst_host AS s, src_host AS t FROM edges
    WHERE src_host <> dst_host
  )
),
deg AS (SELECT s AS host, COUNT(*) AS d FROM sym GROUP BY 1),
ordered AS (
  SELECT sym.s AS a, sym.t AS b, dt.d AS db
  FROM sym
  JOIN deg ds ON ds.host = sym.s
  JOIN deg dt ON dt.host = sym.t
  WHERE ds.d < dt.d OR (ds.d = dt.d AND sym.s < sym.t)
),
wedges AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM ordered e1 JOIN ordered e2 ON e1.a = e2.a
  WHERE e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b)
),
tri AS (
  SELECT u, v, w FROM wedges
  JOIN ordered c ON c.a = wedges.v AND c.b = wedges.w
),
hosts AS (
  SELECT u AS host FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM hosts GROUP BY 1
"""


def q_domain_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the planted domain graph: exact integer
    moments, double-evaluated r^2 floored once to bp, sign column."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.degree_assortativity(
        graph.link_graph(graph.extract_links(docs))
    )


def _sql_domain_assortativity() -> str:
    return f"""
WITH {_links_cte()},
sym AS (
  SELECT DISTINCT s, t FROM (
    SELECT src_host AS s, dst_host AS t FROM edges
    WHERE src_host <> dst_host
    UNION ALL
    SELECT dst_host AS s, src_host AS t FROM edges
    WHERE src_host <> dst_host
  )
),
deg AS (SELECT s AS host, COUNT(*) AS d FROM sym GROUP BY 1),
xy AS (
  SELECT dx.d AS x, dy.d AS y
  FROM sym JOIN deg dx ON dx.host = sym.s JOIN deg dy ON dy.host = sym.t
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy
),
nd AS (
  SELECT n_edges, sx, sxy, sxx,
         n_edges * sxy - sx * sx AS num,
         n_edges * sxx - sx * sx AS den
  FROM mom
)
SELECT n_edges, sx, sxy, sxx,
  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT)
    AS r_sign,
  CAST(CASE WHEN den <> 0
       THEN floor((CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                / (CAST(den AS DOUBLE) * CAST(den AS DOUBLE)) * 10000)
       ELSE 0 END AS BIGINT) AS r2_bp
FROM nd
"""


def q_typosquat_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Look-alike host pairs within 1 edit over the planted link graph,
    length-blocked candidates (complete for dist<=1), built-in
    levenshtein."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.typosquat_pairs(graph.link_graph(graph.extract_links(docs)))


def _sql_typosquat_pairs(max_dist: int = 1) -> str:
    return f"""
WITH {_links_cte()},
hosts AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM edges
    UNION ALL SELECT dst_host FROM edges
  )
)
SELECT a.host AS host_a, b.host AS host_b,
       CAST(levenshtein(a.host, b.host) AS BIGINT) AS dist
FROM hosts a JOIN hosts b ON a.host < b.host
WHERE levenshtein(a.host, b.host) <= {max_dist}
"""


#: RRF hybrid-retrieval parameters: depth of each input top-R list and
#: the embedding row serving as the query vector — shared with the SQL
#: oracle.
RRF_DEPTH = 10
RRF_QUERY_VEC = 0


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-10 fused with an exact-cosine
    vector top-10 by integer reciprocal-rank fusion. The vector leg is
    brute force here for a value-exact oracle; rrf_fuse is
    ranker-agnostic, so at scale the same fusion rides lsh_topk/ivf_topk
    — the fusion itself only ever sees the bounded top-R lists."""
    from weblog_pipeline.ops import retrieval

    docs = _read(spark, sf_dir, "documents")
    bm = textstats.bm25_topk(docs, BM25_TERMS, k=RRF_DEPTH).select(
        "doc_id", "rank"
    )
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    q = emb.where(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    vec = similarity.brute_force_topk(emb, q, k=RRF_DEPTH).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return retrieval.rrf_fuse({"bm25": bm, "vec": vec}, k=RRF_DEPTH)


def _sql_rrf_fusion() -> str:
    from weblog_pipeline.ops import retrieval

    return f"""
WITH bm AS ({_sql_bm25_topk()}),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}
),
scored AS (
  SELECT e.vec_id AS doc_id,
         round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])),
               6) AS c
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
),
vr AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY c DESC, doc_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {RRF_DEPTH}
),
u AS (
  SELECT doc_id, CAST(rank AS BIGINT) AS rank FROM bm
  UNION ALL
  SELECT doc_id, CAST(rank AS BIGINT) AS rank FROM vr
),
f AS (
  SELECT doc_id, COUNT(*) AS n_systems,
         CAST(SUM({retrieval.RRF_SCALE} // ({retrieval.RRF_K} + rank))
              AS BIGINT) AS rrf_score
  FROM u GROUP BY 1
)
SELECT CAST(rank AS INTEGER) AS rank, doc_id, n_systems, rrf_score
FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM f
)
WHERE rank <= {RRF_DEPTH}
"""


def q_parity_ln_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-independent guard for the floored-ln idiom every
    log-scored operator leans on (tfidf/bm25 idf, PSI terms, entropy,
    bigram LM): floor(ln(x)*1e6) over a 1..500 sweep plus large
    literals, in all three shapes the catalog uses — ln(n), ln of an
    up-ratio, ln of a down-ratio (negative branch, floor toward -inf).
    A red row isolates an ENGINE libm/floor divergence, never data."""
    ns = spark.range(1, 501).unionAll(
        spark.createDataFrame(
            [(1_000_000,), (1_000_000_000,), (1_000_000_000_000,)],
            "id long",
        )
    )
    n = F.col("id")
    return ns.select(
        n.alias("n"),
        F.floor(F.log(n.cast("double")) * F.lit(1000000.0))
        .cast("long")
        .alias("ln_micro"),
        F.floor(
            F.log((n + 1).cast("double") / n.cast("double"))
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("ln_up_micro"),
        F.floor(
            F.log(n.cast("double") / (n + 7).cast("double"))
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("ln_dn_micro"),
    )


SQL_PARITY_LN_FLOOR = """
WITH ns AS (
  SELECT n FROM range(1, 501) t(n)
  UNION ALL
  SELECT * FROM (VALUES (1000000), (1000000000), (1000000000000)) v(n)
)
SELECT CAST(n AS BIGINT) AS n,
  CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS ln_micro,
  CAST(floor(ln(CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0)
       AS BIGINT) AS ln_up_micro,
  CAST(floor(ln(CAST(n AS DOUBLE) / CAST(n + 7 AS DOUBLE)) * 1000000.0)
       AS BIGINT) AS ln_dn_micro
FROM ns
"""

#: timestamp literals for the epoch-microsecond parity guard: pre-epoch,
#: the epoch itself, a leap-day with fractional seconds, the int32
#: rollover, and the pandas datetime64[ns] ceiling era.
_EPOCH_US_STAMPS = (
    "1969-12-31 23:59:59.999999",
    "1970-01-01 00:00:00",
    "2000-02-29 12:00:00.5",
    "2024-02-29 23:59:59.999999",
    "2038-01-19 03:14:08",
    "2262-04-11 23:47:16.854775",
)


def q_parity_epoch_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-independent guard for timestamp-microsecond parity
    (attribution, bot timing): unix_micros over literal instants —
    pre-epoch negative values included — plus the day-truncation epoch
    the quota/retention family uses, all under the UTC session rule."""
    cols = [
        F.expr(f"unix_micros(TIMESTAMP '{s}')").alias(f"us_{i}")
        for i, s in enumerate(_EPOCH_US_STAMPS)
    ]
    day = epoch_day(f"TIMESTAMP '{_EPOCH_US_STAMPS[3]}'")
    cols.append((day * 86400).alias("day_s"))
    return spark.range(1).select(*cols)


def _sql_parity_epoch_us() -> str:
    cols = ", ".join(
        f"epoch_us(TIMESTAMP '{s}') AS us_{i}"
        for i, s in enumerate(_EPOCH_US_STAMPS)
    )
    return f"""
SELECT {cols},
  CAST(epoch(date_trunc('day', TIMESTAMP '{_EPOCH_US_STAMPS[3]}'))
       AS BIGINT) AS day_s
"""


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram."""
    docs = _read(spark, sf_dir, "documents")
    return corpus.length_histogram(docs)


SQL_LENGTH_HISTOGRAM = """
SELECT CAST(length(bin(length(text))) AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1
"""


def q_cross_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-merge near-dedup: docs with doc_id % 10 == 7 act as the new
    snapshot, everything else as the existing corpus; an increment doc is
    dropped iff an LSH band collision with a corpus doc verifies at
    Jaccard >= 50%."""
    docs = _read(spark, sf_dir, "documents")
    inc = docs.where(F.col("doc_id") % 10 == 7)
    corp = docs.where(F.col("doc_id") % 10 != 7)
    return dedup.cross_neardup(corp, inc, jaccard_pct=50)


def _sql_cross_neardup() -> str:
    # lazy: _SIG_CTE is defined further down the module
    return f"""
WITH {_SIG_CTE},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
),
sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_intersect
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.doc_a
  JOIN sets sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
),
near AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE i.n_intersect * 100 >= 50 * (za.n + zb.n - i.n_intersect)
)
SELECT doc_a AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       MIN(doc_b) AS first_match
FROM near GROUP BY doc_a
"""


def q_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ estimate audited against the exact per-source distinct
    count; the oracle asserts the bound flag TRUE (an estimator
    regression turns the row red)."""
    docs = _read(spark, sf_dir, "documents")
    return corpus.cardinality_audit(docs)


SQL_CARDINALITY_AUDIT = """
SELECT source,
  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact,
  TRUE AS within_bound
FROM documents WHERE text IS NOT NULL
GROUP BY source
"""


def q_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window/stride chunking at window=32, stride=24 (sized so
    fixture docs fan out to multiple chunks)."""
    docs = _read(spark, sf_dir, "documents")
    return corpus.token_windows(docs, window=32, stride=24)


SQL_TOKEN_WINDOWS = """
WITH tc AS (
  SELECT doc_id,
    CASE WHEN trim(text, ' ') = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text, ' '),
                                        '[ \\t\\n\\r\\f\\x0B]+')) END
      AS n_tokens
  FROM documents
),
nz AS (SELECT * FROM tc WHERE n_tokens > 0)
SELECT doc_id,
  CAST(u.k AS BIGINT) AS chunk_idx,
  CAST(u.k * 24 AS BIGINT) AS start_tok,
  CAST(least(u.k * 24 + 32, n_tokens) AS BIGINT) AS end_tok
FROM nz, unnest(range(0,
  1 + CASE WHEN n_tokens > 32 THEN (n_tokens - 32 + 23) // 24 ELSE 0 END
)) AS u(k)
"""


def q_passage_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG passage identity: token_windows boundaries plus a content
    md5 per window (window=16/stride=12, sized so fixture docs fan out);
    zero-shuffle scan-stage plan."""
    docs = _read(spark, sf_dir, "documents")
    return corpus.passage_fingerprints(docs, window=16, stride=12)


SQL_PASSAGE_FINGERPRINTS = f"""
WITH t AS (
  SELECT doc_id,
    regexp_split_to_array(trim({_SQL_LOWER_TEXT}, ' '),
                          '[ \\t\\n\\r\\f\\x0B]+') AS toks,
    CASE WHEN trim(text, ' ') = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text, ' '),
                                        '[ \\t\\n\\r\\f\\x0B]+')) END AS n
  FROM documents
),
nz AS (SELECT * FROM t WHERE n > 0)
SELECT doc_id,
  CAST(u.k AS BIGINT) AS chunk_idx,
  CAST(u.k * 12 AS BIGINT) AS start_tok,
  CAST(least(u.k * 12 + 16, n) AS BIGINT) AS end_tok,
  md5(array_to_string(toks[u.k * 12 + 1 : u.k * 12 + 16], ' '))
    AS chunk_hash
FROM nz, unnest(range(0,
  1 + CASE WHEN n > 16 THEN (n - 16 + 11) // 12 ELSE 0 END
)) AS u(k)
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened (alpha=0.5) source-mixing weights; the sqrt
    is engine-exact by the scaled-integer-floor construction."""
    docs = _read(spark, sf_dir, "documents")
    return corpus.mixture_weights(docs)


SQL_MIXTURE_WEIGHTS = """
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
s AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT)
           AS s_kilo
  FROM c
),
t AS (SELECT CAST(SUM(s_kilo) AS BIGINT) AS total_s FROM s)
SELECT source, n_docs, s_kilo, s_kilo * 10000 // total_s AS weight_bp
FROM s, t
"""


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles via the bounded-domain
    cumulative-sum pattern (counts per (lang, length), never a
    per-document window)."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.length_quantiles(docs)


def _sql_length_quantiles(probs: tuple = (10, 50, 90)) -> str:
    cols = ",\n  ".join(
        "CAST(MIN(CASE WHEN cum >= 1 + (n_docs - 1) * "
        f"{p} // 100 THEN length END) AS BIGINT) AS p{p}_len"
        for p in probs
    )
    return f"""
WITH c AS (
  SELECT lang, length(text) AS length, COUNT(*) AS n
  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT lang, length,
         SUM(n) OVER (PARTITION BY lang ORDER BY length) AS cum
  FROM c
),
t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs FROM c GROUP BY 1)
SELECT lang, n_docs,
  {cols}
FROM cum JOIN t USING (lang)
GROUP BY lang, n_docs
"""


def q_url_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe url decomposition over the derived webpages."""
    docs = _read(spark, sf_dir, "documents")
    return htmlstats.url_components(webpages_from_documents(docs))


def _sql_url_components() -> str:
    host = (
        "'site' || CAST(" + _domain_case_sql("doc_id") + " AS VARCHAR)"
        " || '.example.com'"
    )
    return f"""
SELECT {_doc_url_sql()} AS url,
       'https' AS proto,
       {host} AS host,
       '/page/' || CAST(doc_id AS VARCHAR) AS path
FROM documents
"""


def q_parse_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine accounting for corrupt telemetry markers: pages whose
    marker grammar matches but whose attrs JSON is invalid must be
    quarantined (parse_error set, ZERO event rows emitted) without
    failing the job. Corruption is planted deterministically (doc_id % 5
    == 2 pages get '{#' attrs), so the oracle re-derives the census from
    arithmetic. Output: error_kind (NULL for clean pages), n_pages,
    n_events."""
    docs = _read(spark, sf_dir, "documents")
    pages = webpages_from_documents(docs)
    doc_id = F.regexp_extract(F.col("url"), r"/page/(\d+)$", 1).cast("long")
    s = F.decode(F.col("html"), "UTF-8")
    tampered = F.encode(
        F.regexp_replace(s, r" attrs=\{", " attrs={#"), "UTF-8"
    )
    pages = pages.withColumn(
        "html", F.when(doc_id % 5 == 2, tampered).otherwise(F.col("html"))
    )
    parsed = parse_events(pages)
    page_rows = page_texts(parsed).select(
        F.substring_index(F.col("parse_error"), ":", 1).alias("error_kind"),
        F.col("n_page_events"),
    )
    # quarantined pages report n_page_events = 0, so the event total rides
    # the same aggregate — no NULL-keyed join
    return page_rows.groupBy("error_kind").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("n_page_events").cast("long").alias("n_events"),
    )


def _sql_parse_quarantine() -> str:
    return """
WITH pages AS (
  SELECT doc_id, doc_id % 6 AS n_ev,
         CASE WHEN doc_id % 5 = 2 AND doc_id % 6 > 0
              THEN 'JSONDecodeError' END AS error_kind
  FROM documents
)
SELECT error_kind, COUNT(*) AS n_pages,
       CAST(SUM(CASE WHEN error_kind IS NULL THEN n_ev ELSE 0 END) AS BIGINT)
         AS n_events
FROM pages GROUP BY error_kind
"""
# (quarantined pages emit zero events in Spark; the CASE mirrors that)


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 canonicalization: deterministically messy urls (mixed
    case, default port, dot segments, unsorted query, fragment) through
    the REAL normalizer; the oracle constructs the canonical form
    arithmetically."""
    from . import urlnorm

    docs = _read(spark, sf_dir, "documents")
    messy = docs.select(
        F.concat(
            F.lit("HTTPS://SITE"),
            # the Zipf CASE ladder is engine-shared SQL text — Spark
            # evaluates the same expression string the DuckDB twin embeds
            F.expr(_domain_case_sql("doc_id")).cast("string"),
            F.lit(".Example.COM:443/page/x/../"),
            F.col("doc_id").cast("string"),
            F.lit("?b=2&a=1#frag"),
        ).alias("url")
    )
    return urlnorm.normalize_urls(messy)


def _sql_url_normalize() -> str:
    return f"""
SELECT 'HTTPS://SITE' || CAST({_domain_case_sql("doc_id")} AS VARCHAR)
         || '.Example.COM:443/page/x/../' || CAST(doc_id AS VARCHAR)
         || '?b=2&a=1#frag' AS url,
       'https://site' || CAST({_domain_case_sql("doc_id")} AS VARCHAR)
         || '.example.com/page/' || CAST(doc_id AS VARCHAR)
         || '?a=1&b=2' AS url_norm
FROM documents
"""


def q_polite_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl front-door as ONE plan: messy urls are canonicalized
    (urlnorm), the canonical form is checked against per-domain robots
    rules (broadcast join + real parser), and the per-host admit/deny
    census comes out the other end. Composes three independently-oracled
    operators; the oracle re-derives the census arithmetically."""
    from . import robots, urlnorm
    from .generate import N_DOMAINS

    docs = _read(spark, sf_dir, "documents")
    messy = docs.select(
        F.concat(
            F.lit("HTTPS://SITE"),
            F.expr(_domain_case_sql("doc_id")).cast("string"),
            F.lit(".Example.COM:443/page/x/../"),
            F.col("doc_id").cast("string"),
            F.lit("#frag"),
        ).alias("url")
    )
    canon = urlnorm.normalize_urls(messy).select(
        F.col("url_norm").alias("url")
    )
    rob = spark.createDataFrame(
        [(f"site{d}.example.com", _robots_body(d)) for d in range(N_DOMAINS)],
        "host string, robots_txt string",
    )
    decided = robots.robots_filter(canon, rob)
    return decided.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("allowed").alias("n_allowed"),
    )


def _sql_polite_crawl() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, {_domain_case_sql("doc_id")} AS d FROM documents
)
SELECT 'site' || CAST(d AS VARCHAR) || '.example.com' AS host,
       COUNT(*) AS n_pages,
       CAST(SUM(CASE d % 3
         WHEN 0 THEN 0
         WHEN 1 THEN CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%'
                     THEN 0 ELSE 1 END
         ELSE 1 END) AS BIGINT) AS n_allowed
FROM base GROUP BY 1
"""


def q_ingest_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental daily-crawl merge: the increment mixes genuinely-new
    documents with re-keyed copies of existing content (cross-run dups)
    AND a re-keyed copy of one of its own members (intra-batch dup); only
    the new content survives, first id winning. The oracle lists exactly
    the genuinely-new slice."""
    docs = _read(spark, sf_dir, "documents")
    existing = docs.where(F.col("doc_id") % 3 != 0)
    fresh = docs.where(F.col("doc_id") % 3 == 0)
    cross_dup = docs.where(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    intra_dup = fresh.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    incoming = (
        fresh.select("doc_id", "text")
        .unionByName(cross_dup)
        .unionByName(intra_dup)
    )
    return corpus.ingest_increment(existing, incoming)


# The oracle re-derives the FULL merge semantics (anti-join against the
# existing corpus's content + first-id-wins intra-batch dedup) rather than
# assuming the fresh slice is collision-free — on real web data distinct
# doc_ids routinely carry identical normalized content.
SQL_INGEST_INCREMENT = f"""
WITH h AS (
  SELECT doc_id, md5({_SQL_NORM_TEXT}) AS content_hash FROM documents
),
existing AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % 3 <> 0),
incoming AS (
  SELECT doc_id, content_hash FROM h WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, content_hash FROM h WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, content_hash FROM h WHERE doc_id % 15 = 0
)
SELECT MIN(doc_id) AS doc_id, content_hash
FROM incoming i
-- NOT EXISTS, not NOT IN: a NULL content_hash in `existing` would make
-- NOT IN return zero rows, diverging from Spark's left-anti join
WHERE NOT EXISTS (
  SELECT 1 FROM existing e WHERE e.content_hash = i.content_hash
)
GROUP BY content_hash
"""


def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-coverage audit: every domain advertises its doc_id % 4 != 3
    pages in a REAL sitemap XML document (built with ElementTree, parsed
    back with ElementTree); coverage counts against the crawled pages are
    re-derived arithmetically by the oracle. To exercise the advertised-
    but-not-crawled arm, pages with doc_id % 7 == 2 are withheld from the
    crawl AFTER sitemap construction."""
    from . import sitemap

    docs = _read(spark, sf_dir, "documents")
    pages = webpages_from_documents(docs).select("url")
    doc_id = F.regexp_extract(F.col("url"), r"/page/(\d+)$", 1).cast("long")
    maps = sitemap.sitemaps_from_pages(pages, doc_id % 4 != 3)
    crawled = pages.where(doc_id % 7 != 2)
    return sitemap.sitemap_coverage(crawled, maps)


def _sql_sitemap_coverage() -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         'site' || CAST({_domain_case_sql("doc_id")} AS VARCHAR)
           || '.example.com' AS host,
         doc_id % 4 <> 3 AS advertised,
         doc_id % 7 <> 2 AS crawled
  FROM documents
)
SELECT host,
       CAST(SUM(CASE WHEN advertised THEN 1 ELSE 0 END) AS BIGINT)
         AS n_advertised,
       CAST(SUM(CASE WHEN crawled THEN 1 ELSE 0 END) AS BIGINT)
         AS n_crawled,
       CAST(SUM(CASE WHEN advertised AND crawled THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched
FROM base GROUP BY host
HAVING SUM(CASE WHEN advertised OR crawled THEN 1 ELSE 0 END) > 0
"""


#: deterministic per-domain robots bodies (three rule shapes cycling by
#: domain index): full block, prefix block, allow-overrides-block — plus a
#: decoy agent group the crawler must ignore
def _robots_body(d: int) -> str:
    decoy = "User-agent: badbot\nDisallow: /\n\n"
    if d % 3 == 0:
        return decoy + "User-agent: *\nDisallow: /page/"
    if d % 3 == 1:
        return decoy + "User-agent: *\nDisallow: /page/1"
    return decoy + "User-agent: *\nAllow: /page/\nDisallow: /"


def q_robots_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness filter: the REAL robots.txt parser (grouped
    agents, longest-prefix precedence, decoy agent groups) decides every
    page against per-domain rule bodies on the broadcast side; the oracle
    re-derives each decision arithmetically from the domain index."""
    from . import robots
    from .generate import N_DOMAINS

    docs = _read(spark, sf_dir, "documents")
    pages = webpages_from_documents(docs)
    rob = spark.createDataFrame(
        [
            (f"site{d}.example.com", _robots_body(d))
            for d in range(N_DOMAINS)
        ],
        "host string, robots_txt string",
    )
    return robots.robots_filter(pages, rob)


def _sql_robots_decisions() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, {_domain_case_sql("doc_id")} AS d FROM documents
)
SELECT 'https://site' || CAST(d AS VARCHAR) || '.example.com/page/'
         || CAST(doc_id AS VARCHAR) AS url,
       'site' || CAST(d AS VARCHAR) || '.example.com' AS host,
       '/page/' || CAST(doc_id AS VARCHAR) AS path,
       CAST(CASE d % 3
         WHEN 0 THEN 0
         WHEN 1 THEN CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%'
                     THEN 0 ELSE 1 END
         ELSE 1 END AS BIGINT) AS allowed
FROM base
"""


def q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data export path as ONE plan: curate (line dedup
    → PII scrub → length gate) → pack the curated token counts into
    context-window shards → per-shard manifest (the file-level metadata a
    downstream trainer consumes)."""
    cur = q_curate_corpus(spark, sf_dir).select("doc_id", "n_tokens")
    packed = corpus.pack_rows(cur, budget=PACK_BUDGET, stratum_docs=PACK_STRATUM)
    return packed.groupBy("stratum", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


def _sql_export_manifest() -> str:
    return f"""
WITH cur AS (
  SELECT doc_id, n_tokens FROM ({_sql_curate_corpus()})
),
base AS (
  SELECT doc_id, doc_id // {PACK_STRATUM} AS stratum,
         CAST(n_tokens AS BIGINT) AS n_tokens
  FROM cur
),
off AS (
  SELECT doc_id, stratum, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY stratum ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
  FROM base
)
SELECT stratum, o // {PACK_BUDGET} AS shard, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens, MIN(doc_id) AS first_doc_id
FROM off GROUP BY 1, 2
"""


_CDC_STREAM_SQL = f"""
base AS (
  SELECT doc_id, regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g') AS t
  FROM documents
),
b2 AS (SELECT doc_id, t, length(t) AS n FROM base WHERE length(t) >= 1),
pos AS (
  SELECT doc_id, t, n, CAST(u.p AS BIGINT) AS p
  FROM b2, unnest(range(1, n + 1)) AS u(p)
),
flagged AS (
  SELECT doc_id, p,
    CASE WHEN p >= 2 AND p <= n - {dedup.CDC_K - 1}
          AND CAST(('0x' || substr(md5(substr(t, CAST(p AS INTEGER), {dedup.CDC_K})), 1, 4)) AS BIGINT)
              % {dedup.CDC_MODULUS} = 0
    THEN 1 ELSE 0 END AS cut
  FROM pos
),
numbered AS (
  SELECT doc_id, p,
         CAST(SUM(cut) OVER (PARTITION BY doc_id ORDER BY p) AS BIGINT) AS chunk_id
  FROM flagged
),
spans AS (
  SELECT doc_id, chunk_id, MIN(p) AS start, COUNT(*) AS chunk_len
  FROM numbered GROUP BY doc_id, chunk_id
),
chunks AS (
  SELECT s.doc_id, chunk_id, start, chunk_len,
         md5(substr(t, CAST(start AS INTEGER), CAST(chunk_len AS INTEGER))) AS chunk_hash
  FROM spans s JOIN b2 USING (doc_id)
)"""


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk stream (substring-grain dedup units)."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.cdc_chunks(docs)


def _sql_cdc_chunks() -> str:
    return f"""
WITH {_CDC_STREAM_SQL}
SELECT doc_id, chunk_id, start, chunk_len, chunk_hash FROM chunks
"""


def q_cdc_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc substring-duplication profile over CDC chunks."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.cdc_dup_stats(docs)


def _sql_cdc_dup_stats() -> str:
    return f"""
WITH {_CDC_STREAM_SQL},
occ AS (SELECT chunk_hash, COUNT(*) AS n_occ FROM chunks GROUP BY chunk_hash)
SELECT doc_id, COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
  CAST(SUM(CASE WHEN n_occ > 1 THEN chunk_len ELSE 0 END) AS BIGINT) AS dup_bytes
FROM chunks JOIN occ USING (chunk_hash)
GROUP BY doc_id
"""


#: pack_sequences driver parameters (smaller than production so the sf
#: fixtures produce multi-shard strata)
PACK_BUDGET = 256
PACK_STRATUM = 100


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing into fixed context windows."""
    docs = _read(spark, sf_dir, "documents")
    return corpus.pack_sequences(
        docs, budget=PACK_BUDGET, stratum_docs=PACK_STRATUM
    )


def _sql_pack_sequences() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, doc_id // {PACK_STRATUM} AS stratum,
         CAST(CASE WHEN trim(text, ' ') = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\r\\f\\x0B]+')) END
              AS BIGINT) AS n_tokens
  FROM documents
),
off AS (
  SELECT doc_id, stratum, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY stratum ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
  FROM base
)
SELECT doc_id, stratum, n_tokens,
       o // {PACK_BUDGET} AS shard, o % {PACK_BUDGET} AS offset_in_shard
FROM off
"""


# =========================================================================
# 3. text analysis / dedup / similarity / multimodal queries
# =========================================================================

_TOKS = f"regexp_split_to_array(trim({_SQL_LOWER_TEXT}, ' '), '{_SQL_WS}')"
_TOKS_RAW = "regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\r\\f\\x0B]+')"

SQL_TOKEN_COUNTS = """
SELECT doc_id,
  CAST(CASE WHEN trim(text, ' ') = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\r\\f\\x0B]+')) END AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
     + len(regexp_extract_all(text, '[^A-Za-z0-9_ \\t\\n\\r\\f\\x0B]')) AS BIGINT) AS n_pieces
FROM documents
"""

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: docs with doc_id % 97 == 3 act as the
    benchmark probe set; every other document is audited for distinct
    3-gram overlap with any probe (ops/corpus.ngram_contamination — the
    probe gram set broadcasts, the train gram stream never shuffles by
    gram)."""
    docs = _read(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    train = docs.where(F.col("doc_id") % 97 != 3)
    return corpus.ngram_contamination(train, probes)


#: planted-contamination geometry for decontaminate_fuzzy: offset is a
#: multiple of 97 plus 1, so planted ids fall OUT of the probe residue
#: class (id%97 == 4) and far above any fixture doc_id; 4 appended tokens
#: keep shingle Jaccard ~ (n-2)/(n+2) — above the 50% bar for real docs.
DECON_PLANT_OFFSET = 97_000_001
DECON_PLANT_SUFFIX = " zq0 zq1 zq2 zq3"


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP decontamination — the fuzzy twin of `decontaminate`'s
    exact-3-gram audit (the GPT-3 appendix-C filter generalized to
    MinHash): a train doc is contaminated iff it shares an LSH band
    bucket with a benchmark probe AND exact shingle Jaccard >= 50%.
    Runs dedup.cross_neardup with probes as the existing side, so
    train x train and probe x probe pairs never form. Every 3rd probe
    is re-planted into train with 4 appended tokens, guaranteeing
    contaminated docs exist at every SF."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    probes = docs.where(F.col("doc_id") % 97 == 3)
    planted = probes.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + DECON_PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(DECON_PLANT_SUFFIX)).alias("text"),
    )
    train = docs.where(F.col("doc_id") % 97 != 3).unionByName(planted)
    return dedup.cross_neardup(probes, train, jaccard_pct=50)


def _sql_decontaminate_fuzzy() -> str:
    return f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DECON_PLANT_OFFSET} AS doc_id,
         text || '{DECON_PLANT_SUFFIX}' AS text
  FROM documents WHERE doc_id % 97 = 3 AND doc_id % 3 = 0
),
{_sig_cte("aug")},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id % 97 <> 3 AND b.doc_id % 97 = 3
),
sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_intersect
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.doc_a
  JOIN sets sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
),
near AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE i.n_intersect * 100 >= 50 * (za.n + zb.n - i.n_intersect)
)
SELECT doc_a AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       MIN(doc_b) AS first_match
FROM near GROUP BY doc_a
"""


SQL_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
per AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM ch WHERE ch <> '' GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
    CAST(SUM(CAST(floor(ln(CAST(c AS DOUBLE)) * c * 1000000) AS BIGINT))
         AS BIGINT) AS s
  FROM per GROUP BY 1
)
SELECT doc_id, n_chars,
  CAST(CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)
       - s // n_chars AS BIGINT) AS entropy_micro
FROM agg
"""


SQL_DATA_SPLIT = """
WITH b AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('sp:' || doc_id), 1, 4)) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
  CASE WHEN bucket < 98 THEN 'train'
       WHEN bucket < 99 THEN 'val'
       ELSE 'test' END AS split
FROM b
"""


def _sql_decontaminate() -> str:
    return f"""
WITH {_shingle_cte("documents")},
g AS (SELECT DISTINCT doc_id, shingle AS gram FROM sh),
probe_g AS (SELECT doc_id AS probe_id, gram FROM g WHERE doc_id % 97 = 3),
train_g AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 3),
hits AS (
  SELECT t.doc_id, t.gram, p.probe_id
  FROM train_g t JOIN probe_g p USING (gram)
)
SELECT doc_id,
       COUNT(DISTINCT gram) AS n_shared_grams,
       COUNT(DISTINCT probe_id) AS n_probes_hit,
       MIN(probe_id) AS first_probe_id
FROM hits GROUP BY doc_id
HAVING COUNT(DISTINCT gram) >= 1
"""


#: audit-slice modulus / threshold for the dedup-recall metric (shared
#: with the SQL twin; the slice is the fixed-size audit sample a 100 TB
#: pipeline would draw — never the full corpus)
DEDUP_AUDIT_MOD = 37
DEDUP_AUDIT_PCT = 50
#: per-shingle document-frequency cap for ground-truth candidate
#: generation (the bucket_cap pattern — bounds the inverted-index
#: self-join even on a boilerplate-heavy slice)
DEDUP_AUDIT_DF_CAP = 1000
#: planted near-dup offset — divisible by DEDUP_AUDIT_MOD so plants land
#: in the audit slice; every 5th slice member gets a perturbed copy
#: (4 appended tokens => shingle Jaccard ~ (n-2)/(n+2), well above the
#: 50% threshold for any realistic doc) so n_true is never vacuously 0
DEDUP_AUDIT_PLANT_OFFSET = 111_000_000  # 37 * 3,000,000
DEDUP_AUDIT_PLANT_MOD = DEDUP_AUDIT_MOD * 5
_DEDUP_PLANT_SUFFIX = " zq0 zq1 zq2 zq3"


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracked dedup-quality metric: LSH candidate recall/precision vs
    exact shingle-Jaccard ground truth on a 1-in-37 audit slice, with
    planted perturbed near-duplicates so ground truth is non-empty on any
    fixture."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    plants = docs.where(F.col("doc_id") % DEDUP_AUDIT_PLANT_MOD == 0).select(
        (F.col("doc_id") + F.lit(DEDUP_AUDIT_PLANT_OFFSET)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_DEDUP_PLANT_SUFFIX)).alias("text"),
    )
    return dedup.lsh_dedup_quality(
        docs.unionByName(plants),
        sample_mod=DEDUP_AUDIT_MOD,
        jaccard_pct=DEDUP_AUDIT_PCT,
        df_cap=DEDUP_AUDIT_DF_CAP,
    )


def _sql_dedup_lsh_recall() -> str:
    return f"""
WITH slice AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {DEDUP_AUDIT_MOD} = 0
  UNION ALL
  SELECT doc_id + {DEDUP_AUDIT_PLANT_OFFSET} AS doc_id,
         text || '{_DEDUP_PLANT_SUFFIX}' AS text
  FROM documents WHERE doc_id % {DEDUP_AUDIT_PLANT_MOD} = 0
),
{_sig_cte("slice")},
sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
rare AS (
  SELECT doc_id, shingle FROM sets
  WHERE shingle IN (
    SELECT shingle FROM sets GROUP BY shingle
    HAVING COUNT(*) <= {DEDUP_AUDIT_DF_CAP}
  )
),
inv AS (
  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
  FROM rare sa JOIN rare sb
    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_intersect
  FROM inv p
  JOIN sets sa ON sa.doc_id = p.doc_a
  JOIN sets sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
tp AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE i.n_intersect * 100 >= (za.n + zb.n - i.n_intersect) * {DEDUP_AUDIT_PCT}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT t.n_true, c.n_cand, h.n_hits,
  CASE WHEN t.n_true > 0 THEN h.n_hits * 10000 // t.n_true ELSE 0 END AS recall_bp,
  CASE WHEN c.n_cand > 0 THEN h.n_hits * 10000 // c.n_cand ELSE 0 END AS precision_bp
FROM (SELECT COUNT(*) AS n_true FROM tp) t,
     (SELECT COUNT(*) AS n_cand FROM cand) c,
     (SELECT COUNT(*) AS n_hits FROM tp JOIN cand USING (doc_a, doc_b)) h
"""


def q_charclass_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portability canary: counts documents by the character classes on
    which Spark (Java) and DuckDB (RE2/utf8proc) text semantics are known
    to diverge — vertical tab (Java \\s only), NBSP (DuckDB default trim
    only), non-ASCII (Unicode lower() special cases), whitespace-only and
    empty docs. Every expression here is pinned to the engine-portable
    idioms the corpus operators share, so the canary stays green — and if
    a future fixture or engine change splits Java/DuckDB semantics it
    turns red in ITS OWN row instead of corrupting unrelated hash rows."""
    docs = _read(spark, sf_dir, "documents")
    t = F.col("text")
    flags = [
        F.contains(t, F.lit("\x0b")).cast("int").alias("has_vt"),
        F.contains(t, F.lit(" ")).cast("int").alias("has_nbsp"),
        t.rlike("[^\\x01-\\x7F]").cast("int").alias("has_nonascii"),
        (
            (F.length(t) > 0)
            & (F.regexp_replace(t, dedup.WS_RE, "") == "")
        ).cast("int").alias("ws_only"),
        (F.length(t) == 0).cast("int").alias("is_empty"),
    ]
    return (
        docs.select(*flags, F.length(t).alias("n_chars"))
        .groupBy("has_vt", "has_nbsp", "has_nonascii", "ws_only", "is_empty")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def _sql_charclass_census() -> str:
    return f"""
SELECT CAST(contains(text, chr(11)) AS INTEGER) AS has_vt,
       CAST(contains(text, chr(160)) AS INTEGER) AS has_nbsp,
       CAST(regexp_matches(text, '[^\\x01-\\x7F]') AS INTEGER) AS has_nonascii,
       CAST(length(text) > 0
            AND regexp_replace(text, '{_SQL_WS}', '', 'g') = ''
            AS INTEGER) AS ws_only,
       CAST(length(text) = 0 AS INTEGER) AS is_empty,
       COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1, 2, 3, 4, 5
"""


# -- single-semantic portability canaries ---------------------------------
#
# Round-4 post-mortem: the 5 driver-red hash rows (charclass_census,
# quality_classifier, pack_sequences, export_manifest, cdc_chunks) were NOT a
# text-semantics divergence — an oracle-type audit showed they were exactly
# the 5 oracles whose output contained a DuckDB HUGEINT column (SUM(BIGINT)
# returns HUGEINT; fetched through pandas/Arrow it becomes float64 /
# decimal128, so a dtype-sensitive value hash sees `3.0` vs Spark's `3`).
# Our local gate fetched via fetchall() (HUGEINT -> Python int) and passed.
# The oracles are now CAST to BIGINT and scripts/check_queries.py rejects
# non-portable oracle types outright.
#
# These canaries keep one official driver bit per residual divergence class:
# each is a LITERAL single-row all-integer (or one-double) query with no
# fixture dependence, so a red bit names its semantic directly.

def q_canary_dtype_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate SUM of BIGINTs — the idiom behind every corpus statistic.
    Red here = the driver canonicalizes aggregate integer results
    differently (the r4 HUGEINT class, post-CAST)."""
    return spark.range(5).agg(F.sum("id").cast("long").alias("total"))


def q_canary_dtype_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum window over BIGINTs — the pack_sequences/cdc_chunks
    idiom. Red here = window-sum results canonicalize differently."""
    from pyspark.sql import Window

    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spark.range(5)
        .select(F.sum("id").over(w).cast("long").alias("r"))
        .agg(F.sum("r").cast("long").alias("total"))
    )


def q_canary_dtype_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One IEEE double (1/3) — red here = the driver's float
    canonicalization differs between its Spark and DuckDB fetch paths."""
    return spark.range(1).select(
        (F.lit(1).cast("double") / F.lit(3)).alias("ratio")
    )


def q_canary_ws_vt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WS_RE on a vertical-tab literal — the shared whitespace class."""
    return spark.range(1).select(
        F.length(F.regexp_replace(F.lit("a\x0bb\tc"), dedup.WS_RE, ""))
        .cast("long")
        .alias("ws_vt_len")
    )


def q_canary_len_cp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """length() vs octet_length() on 1/2/3/4-byte codepoints (incl. a
    non-BMP char): codepoint-vs-UTF-16-vs-byte length semantics."""
    s = F.lit("a\xe9中\U0001f600")
    return spark.range(1).select(
        F.length(s).cast("long").alias("len_cp"),
        F.octet_length(s).cast("long").alias("len_bytes"),
    )


def q_canary_split_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp-split edge semantics (the tokenizer): interior run, leading
    separator (empty first token KEPT), and the empty string ([''])."""
    return spark.range(1).select(
        F.array_size(F.split(F.lit("a  b"), dedup.WS_RE)).cast("long").alias("n_mid"),
        F.array_size(F.split(F.lit("\ta b"), dedup.WS_RE)).cast("long").alias("n_lead"),
        F.array_size(F.split(F.lit(""), dedup.WS_RE)).cast("long").alias("n_empty"),
    )


def q_canary_md5_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The md5-prefix hex bucket idiom (conv vs CAST('0x'||…)) shared by
    quality_classifier / cdc_chunks / stratified_sample."""
    return spark.range(1).select(
        F.conv(F.substring(F.md5(F.lit("abc")), 1, 4), 16, 10)
        .cast("long")
        .alias("md5_bucket")
    )


def q_canary_ascii_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned ASCII-only case fold (translate) on a string mixing
    ASCII uppercase with dotted-I and c-cedilla: non-ASCII must pass
    through UNCHANGED in both engines (the reason the pipeline avoids
    full Unicode lower())."""
    folded = F.translate(
        F.lit("AbZ İç"),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )
    return spark.range(1).select(
        (folded == F.lit("abz İç")).cast("long").alias("fold_ok"),
        F.length(folded).cast("long").alias("fold_len"),
    )


def q_canary_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned trim semantics: space-only trimming must NOT eat NBSP
    or tab (Java trim vs SQL trim(x, ' ') divergence class)."""
    t = F.trim(F.lit(" \xa0a\xa0 "))
    t2 = F.trim(F.lit("\ta\t"))
    return spark.range(1).select(
        F.length(t).cast("long").alias("trim_nbsp_len"),
        F.length(t2).cast("long").alias("trim_tab_len"),
    )


def q_canary_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contains(NBSP) + rlike non-ASCII class on fixed literals — the
    remaining charclass_census semantics, fixture-independent."""
    return spark.range(1).select(
        F.contains(F.lit("a\xa0b"), F.lit("\xa0")).cast("long").alias("has_nbsp"),
        F.lit("a\xe9").rlike("[^\\x01-\\x7F]").cast("long").alias("has_nonascii"),
    )


_SQL_CANARIES = {
    "canary_dtype_sum": """
SELECT CAST(SUM(v) AS BIGINT) AS total FROM (SELECT unnest(range(5)) AS v)
""",
    "canary_dtype_window": """
SELECT CAST(SUM(r) AS BIGINT) AS total FROM (
  SELECT CAST(SUM(v) OVER (ORDER BY v) AS BIGINT) AS r
  FROM (SELECT unnest(range(5)) AS v)
)
""",
    "canary_dtype_double": """
SELECT CAST(1 AS DOUBLE) / 3 AS ratio
""",
    "canary_ws_vt": f"""
SELECT CAST(length(regexp_replace('a' || chr(11) || 'b' || chr(9) || 'c',
  '{_SQL_WS}', '', 'g')) AS BIGINT) AS ws_vt_len
""",
    "canary_len_cp": """
SELECT CAST(length(chr(97)||chr(233)||chr(20013)||chr(128512)) AS BIGINT) AS len_cp,
       CAST(strlen(chr(97)||chr(233)||chr(20013)||chr(128512)) AS BIGINT) AS len_bytes
""",
    "canary_split_edge": f"""
SELECT CAST(len(regexp_split_to_array('a  b', '{_SQL_WS}')) AS BIGINT) AS n_mid,
       CAST(len(regexp_split_to_array(chr(9) || 'a b', '{_SQL_WS}')) AS BIGINT) AS n_lead,
       CAST(len(regexp_split_to_array('', '{_SQL_WS}')) AS BIGINT) AS n_empty
""",
    "canary_md5_conv": """
SELECT CAST(('0x' || substr(md5('abc'), 1, 4)) AS BIGINT) AS md5_bucket
""",
    "canary_ascii_fold": """
SELECT CAST(translate('AbZ ' || chr(304) || chr(231),
         'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')
       = ('abz ' || chr(304) || chr(231)) AS BIGINT) AS fold_ok,
       CAST(length(translate('AbZ ' || chr(304) || chr(231),
         'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))
       AS BIGINT) AS fold_len
""",
    "canary_trim": """
SELECT CAST(length(trim(' ' || chr(160) || 'a' || chr(160) || ' ', ' ')) AS BIGINT)
         AS trim_nbsp_len,
       CAST(length(trim(chr(9) || 'a' || chr(9), ' ')) AS BIGINT) AS trim_tab_len
""",
    "canary_charset": """
SELECT CAST(CASE WHEN contains('a'||chr(160)||'b', chr(160)) THEN 1 ELSE 0 END AS BIGINT) AS has_nbsp,
       CAST(CASE WHEN regexp_matches('a'||chr(233), '[^\\x01-\\x7F]') THEN 1 ELSE 0 END AS BIGINT) AS has_nonascii
""",
}

_CANARY_QUERIES = {
    "canary_dtype_sum": q_canary_dtype_sum,
    "canary_dtype_window": q_canary_dtype_window,
    "canary_dtype_double": q_canary_dtype_double,
    "canary_ws_vt": q_canary_ws_vt,
    "canary_len_cp": q_canary_len_cp,
    "canary_split_edge": q_canary_split_edge,
    "canary_md5_conv": q_canary_md5_conv,
    "canary_ascii_fold": q_canary_ascii_fold,
    "canary_trim": q_canary_trim,
    "canary_charset": q_canary_charset,
}


_STOPLIST = "[" + ", ".join(sql_str(w) for w in textstats.STOPWORDS) + "]"
_PUNCT_RE = sql_str(textstats.PUNCT_CLASS)  # same regex literal both engines

SQL_QUALITY_STATS = f"""
WITH pre AS (
  SELECT doc_id,
    CASE WHEN trim(text, ' ') = '' THEN CAST([] AS VARCHAR[]) ELSE {_TOKS} END AS toks,
    text
  FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(list_filter(toks, x -> list_contains({_STOPLIST}, x))) AS BIGINT) AS n_stopwords,
  CAST(length(text) - length(regexp_replace(text, {_PUNCT_RE}, '', 'g')) AS BIGINT) AS n_punct,
  CASE WHEN len(toks) > 0
       THEN (CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) * 100) // len(toks)
       ELSE 0 END AS mean_token_len_x100
FROM pre
"""


def _sql_lang_id() -> str:
    langs = sorted(textstats.LANG_MARKERS.items())
    hit_cols = []
    for code, markers in langs:
        lst = "[" + ", ".join(sql_str(w) for w in markers) + "]"
        hit_cols.append(
            f"CAST(CASE WHEN trim(text, ' ') = '' THEN 0 ELSE "
            f"len(list_filter({_TOKS}, x -> list_contains({lst}, x))) END AS BIGINT)"
            f" AS hits_{code}"
        )
    # argmax, lexicographically-first language wins ties
    conds = []
    codes = [c for c, _ in langs]
    for i, code in enumerate(codes):
        others = [f"hits_{code} >= hits_{c}" for c in codes[i + 1 :]]
        cond = " AND ".join([f"hits_{code} > 0"] + others) or f"hits_{code} > 0"
        conds.append(f"WHEN {cond} THEN {sql_str(code)}")
    case = "(CASE " + " ".join(conds) + " ELSE 'und' END)"
    hits_select = ",\n  ".join(hit_cols)
    hits_names = ", ".join(f"hits_{c}" for c in codes)
    return f"""
WITH pre AS (SELECT doc_id, {hits_select} FROM documents)
SELECT doc_id, {hits_names}, {case} AS lang_guess FROM pre
"""


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: precisely min(20, stratum) docs
    per language by md5('qs:'||doc_id) order, group-limited rank."""
    return corpus.quota_sample(_read(spark, sf_dir, "documents"), k=20)


def _sql_quota_sample(k: int = 20) -> str:
    return f"""
WITH keyed AS (
  SELECT doc_id, lang, md5('qs:' || doc_id) AS h FROM documents
),
r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC)
           AS rank
  FROM keyed
)
SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id
FROM r WHERE rank <= {k}
"""


def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard routing audit over 16 shards: in-plan
    argmax of md5(shard:key), per-shard load shares in bp."""
    return corpus.shard_assignment(_read(spark, sf_dir, "documents"))


def _sql_shard_assignment(n_shards: int = 16) -> str:
    return f"""
WITH a AS (
  SELECT doc_id, s.i AS shard,
         md5(CAST(s.i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents, unnest(range(0, {n_shards})) AS s(i)
),
pick AS (SELECT doc_id, arg_max(shard, h) AS shard FROM a GROUP BY 1),
per AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs FROM pick GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM per)
SELECT CAST(shard AS BIGINT) AS shard, n_docs,
       CAST(n_docs * {n_shards} * 10000 // total AS BIGINT) AS load_bp
FROM per, tot
"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language classifier against
    the fixture's labeled lang column, with per-true-lang shares in bp."""
    return textstats.lang_confusion(_read(spark, sf_dir, "documents"))


def _sql_lang_confusion() -> str:
    return f"""
WITH li AS ({_sql_lang_id()}),
cm AS (
  SELECT d.lang, li.lang_guess, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents d JOIN li ON li.doc_id = d.doc_id
  GROUP BY 1, 2
),
tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM cm GROUP BY 1)
SELECT cm.lang, cm.lang_guess, cm.n,
       CAST(cm.n * 10000 // tot.n_true AS BIGINT) AS share_bp
FROM cm JOIN tot ON tot.lang = cm.lang
"""


def _sql_winnow_fingerprints(k: int = 8, window: int = 4) -> str:
    """SQL twin of textstats.winnow_fingerprints (rolling k-gram hashes,
    per-window minima). substr/length are char-based in both engines."""
    return f"""
WITH nrm AS (
  SELECT doc_id, regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g') AS t
  FROM documents
),
g AS (
  SELECT doc_id, len(t) - {k - 1} AS p, i AS pos,
         md5(substr(t, i, {k})) AS h
  FROM nrm, unnest(range(1, len(t) - {k - 2})) AS u(i)
  WHERE len(t) >= {k}
),
wm AS (
  SELECT doc_id, p, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS wmin
  FROM g
)
SELECT doc_id, CAST(MAX(p) AS BIGINT) AS n_grams,
       COUNT(DISTINCT wmin) AS n_fingerprints, MIN(wmin) AS min_fp
FROM wm WHERE pos <= p - {window - 1} GROUP BY 1
"""


def _sql_bigram_logprob(src: str = "documents") -> str:
    """Bigram-LM oracle over relation `src(doc_id, text)` — parameterized
    so composing twins (perplexity_buckets' planted relation) reuse the
    one definition instead of text-surgery on a fixed string."""
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM {src} WHERE trim(text, ' ') <> ''
),
s AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)), i -> words[i])) AS w1,
         unnest(list_transform(range(1, len(words)), i -> words[i+1])) AS w2
  FROM w WHERE len(words) >= 2
),
bc AS (SELECT w1, w2, COUNT(*) AS c_bigram FROM s GROUP BY 1, 2),
pc AS (SELECT w1, COUNT(*) AS c_prefix FROM s GROUP BY 1),
m AS (
  SELECT w1, w2,
         CAST(floor((ln(CAST(c_bigram AS DOUBLE)) - ln(CAST(c_prefix AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS lp_micro
  FROM bc JOIN pc USING (w1)
)
SELECT s.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro
FROM s JOIN m USING (w1, w2)
GROUP BY 1
"""


def _sql_vocab_topk(k: int = 100) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents WHERE trim(text, ' ') <> ''
),
c AS (
  SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
  FROM tok WHERE token <> '' GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC) AS INTEGER) AS rank,
       token, n_occurrences, n_docs
FROM c ORDER BY n_occurrences DESC, token ASC LIMIT {k}
"""


def _sql_freq_spectrum() -> str:
    return f"""
WITH tok AS (
  SELECT unnest({_TOKS}) AS token FROM documents WHERE trim(text, ' ') <> ''
),
c AS (SELECT token, COUNT(*) AS freq FROM tok WHERE token <> '' GROUP BY 1)
SELECT CAST(freq AS BIGINT) AS freq, CAST(COUNT(*) AS BIGINT) AS n_types
FROM c GROUP BY 1
"""


def _sql_sentence_stats() -> str:
    return f"""
WITH s AS (
  SELECT doc_id,
    list_transform(
      list_filter(regexp_split_to_array(coalesce(text, ''),
                                        '{textstats.SENT_SPLIT_RE}'),
                  x -> trim(x, ' ') <> ''),
      x -> length(trim(x, ' '))) AS lens
  FROM documents
)
SELECT doc_id,
  CAST(len(lens) AS BIGINT) AS n_sentences,
  CAST(coalesce(list_max(lens), 0) AS BIGINT) AS max_sent_len,
  CAST(coalesce(list_sum(lens), 0) AS BIGINT) AS sum_sent_len
FROM s
"""


def _sql_readability() -> str:
    """SQL twin of textstats.readability: same tokenizer, same [.!?]+
    sentence rule, same vowel-group syllables, same guarded integer
    floor divisions."""
    return f"""
WITH s AS (
  SELECT doc_id,
    list_filter({_TOKS}, x -> x <> '') AS w,
    len(list_filter(regexp_split_to_array(coalesce(text, ''),
                                          '{textstats.SENT_SPLIT_RE}'),
                    x -> trim(x, ' ') <> '')) AS ns
  FROM documents
),
c AS (
  SELECT doc_id, len(w) AS nw, ns,
    CAST(coalesce(list_sum(list_transform(
      w, x -> greatest(1, len(regexp_extract_all(x, '{textstats.SYLLABLE_RE}')))
    )), 0) AS BIGINT) AS ny
  FROM s
)
SELECT doc_id,
  CAST(nw AS BIGINT) AS n_words,
  CAST(ns AS BIGINT) AS n_sents,
  ny AS n_syll,
  CAST(20683 - (1015 * nw) // (10 * greatest(ns, 1))
             - (8460 * ny) // greatest(nw, 1) AS BIGINT) AS fre_centi
FROM c
"""


#: 'e' + U+0301 combining acute — composes to a single 'é' under NFC, so a
#: planted doc loses exactly one codepoint when normalized.
NFD_PLANT = "e\u0301"


#: deterministic encoding-damage tail planted on every 5th doc: one
#: replacement char, one C1 control (U+0085), and a classic UTF-8-as-
#: Latin-1 digraph run ("Ã©Ã¨" = é è re-decoded) — shared with the SQL
#: oracle verbatim.
MOJIBAKE_PLANT = "cafÃ©Ã¨ � xy"


def q_encoding_damage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake census over documents with a PLANTED damaged slice (the
    base fixtures are clean UTF-8, so docs with id % 5 == 0 get the
    three damage signatures appended — the census must count exactly
    them on every fixture)."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" " + MOJIBAKE_PLANT),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return textstats.encoding_damage(docs)


def _sql_encoding_damage() -> str:
    return f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN COALESCE(text, '') || ' {MOJIBAKE_PLANT}'
              ELSE text END AS text
  FROM documents
),
c AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_repl,
    CAST(len(regexp_extract_all(text, '[\\x{{80}}-\\x{{9F}}]')) AS BIGINT)
      AS n_c1,
    CAST(len(regexp_extract_all(text, '[\\x{{80}}-\\x{{FF}}]{{2,}}'))
      AS BIGINT) AS n_latin1_run
  FROM d
)
SELECT doc_id, n_repl, n_c1, n_latin1_run,
       (n_repl > 0 OR n_c1 > 0 OR n_latin1_run >= 3) AS is_suspect
FROM c
"""


def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC audit over documents with a PLANTED decomposed slice: the base
    fixtures are already fully composed (is_nfc constant 1), so docs with
    id % 7 == 0 get a trailing NFD sequence appended — the audit must
    flag exactly those and report nfc_len = raw_len - 1 for them, proving
    the composition path on every fixture, not just adversarial ones."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" " + NFD_PLANT)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return textstats.unicode_nfc(docs)


SQL_UNICODE_NFC = """
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0
         THEN coalesce(text, '') || ' e' || chr(769)
         ELSE text END AS text
  FROM documents
)
SELECT doc_id,
  CAST(coalesce(text, '') = nfc_normalize(coalesce(text, '')) AS INTEGER) AS is_nfc,
  CAST(length(coalesce(text, '')) AS BIGINT) AS raw_len,
  CAST(length(nfc_normalize(coalesce(text, ''))) AS BIGINT) AS nfc_len
FROM d
"""


def _sql_bpe_pair_counts(k: int = 50) -> str:
    return f"""
WITH w AS (
  SELECT {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
p AS (
  SELECT unnest(list_transform(range(1, len(words)),
                i -> words[i] || ' ' || words[i+1])) AS pair
  FROM w WHERE len(words) >= 2
),
c AS (SELECT pair, COUNT(*) AS n_occurrences FROM p GROUP BY 1)
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS INTEGER) AS rank,
       pair, n_occurrences
FROM c ORDER BY n_occurrences DESC, pair ASC LIMIT {k}
"""


SQL_FINGERPRINT = """
WITH pre AS (
  SELECT doc_id, md5(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
  CAST(('0x' || substr(fingerprint, 1, 15)) AS BIGINT) AS fp60
FROM pre
"""

SQL_DEDUP_STATS = """
WITH h AS (
  SELECT md5(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS content_hash
  FROM documents
)
SELECT COUNT(*) AS n_docs, COUNT(DISTINCT content_hash) AS n_distinct,
       COUNT(*) - COUNT(DISTINCT content_hash) AS n_duplicate_rows
FROM h
"""


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.trim(dedup.ascii_lower(F.col("text"))), dedup.WS_RE, " "
    )
    return docs.select(F.md5(norm).alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("content_hash").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("content_hash")).alias(
            "n_duplicate_rows"
        ),
    )


SQL_DEDUP_EXACT = """
WITH h AS (
  SELECT md5(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS content_hash,
         doc_id
  FROM documents
)
SELECT content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM h GROUP BY 1 HAVING COUNT(*) > 1
"""

# -- planted-duplicate relation ------------------------------------------
# The driver fixture contains no exact duplicates (dedup_stats: 0 dup
# rows), which makes a green dedup_exact row vacuous (both engines agree
# on the empty set). The planted relation unions `documents` with a
# doc_id-remapped copy of a deterministic 1-in-PLANT_MOD slice so BOTH
# engines see real duplicate groups and the exact edges of the fused
# pipeline carry rows.

PLANT_OFFSET = 100_000_000  # above any driver-SF doc_id
PLANT_MOD = 20


def _planted_docs(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text")
    copies = base.where(F.col("doc_id") % PLANT_MOD == 0).select(
        (F.col("doc_id") + F.lit(PLANT_OFFSET)).alias("doc_id"), "text"
    )
    return base.unionByName(copies)


_PLANTED_CTE = f"""
planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % {PLANT_MOD} = 0
)
"""

SQL_DEDUP_EXACT_PLANTED = f"""
WITH {_PLANTED_CTE},
h AS (
  SELECT md5(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS content_hash,
         doc_id
  FROM planted
)
SELECT content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM h GROUP BY 1 HAVING COUNT(*) > 1
"""

def _shingle_cte(src: str = "documents") -> str:
    """Shingle CTE shared by the minhash/jaccard oracles (word 3-grams),
    parameterized by the source relation (documents, or the exact-dedup
    representatives in the fused dedup_pipeline oracle)."""
    return f"""
w AS (SELECT doc_id, {_TOKS} AS words FROM {src} WHERE trim(text, ' ') <> ''),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words) - 1),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
  FROM w WHERE len(words) >= 3
)
"""


_MINHASH_AGGS = ", ".join(
    f"min(md5(shingle || '#{h}')) AS mh{h}" for h in range(dedup.N_MINHASH)
)


def _band_hash_sql(b: int) -> str:
    rows = dedup.N_MINHASH // dedup.N_BANDS
    cols = " || ".join(f"mh{b * rows + r}" for r in range(rows))
    return f"md5({cols})"


def _sig_cte(src: str = "documents") -> str:
    return f"""
{_shingle_cte(src)},
sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM sh GROUP BY doc_id),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, {_band_hash_sql(b)} AS band_hash FROM sig" for b in range(dedup.N_BANDS))}
)
"""


_SIG_CTE = _sig_cte("documents")

SQL_MINHASH = f"WITH {_SIG_CTE} SELECT doc_id, band, band_hash FROM bands"

SQL_LSH_PAIRS = f"""
WITH {_SIG_CTE}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""

SQL_JACCARD = f"""
WITH {_SIG_CTE},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_intersect
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.doc_a
  JOIN sets sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_intersect,
       za.n + zb.n - i.n_intersect AS n_union
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
"""


def _dedup_edges_ctes(
    jaccard_pct: int = 80,
    bucket_cap: int = dedup.DEFAULT_BUCKET_CAP,
    src: str = "documents",
) -> str:
    """Shared CTE chain: exact-dup edges (doc -> content-hash keeper) and
    verified near-dup edges among the representatives — the evidence base
    for both dedup_pipeline (drop list) and dup_clusters (components).
    `src` swaps the document relation (e.g. the planted-dup CTE)."""
    return f"""
hsh AS (
  SELECT doc_id, text,
         md5(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS content_hash
  FROM {src}
),
marked AS (
  SELECT doc_id, text,
         MIN(doc_id) OVER (PARTITION BY content_hash) AS keeper
  FROM hsh
),
exact_edges AS (
  SELECT keeper AS doc_a, doc_id AS doc_b FROM marked WHERE doc_id <> keeper
),
reps AS (SELECT doc_id, text FROM marked WHERE doc_id = keeper),
{_sig_cte("reps")},
capped AS (
  SELECT doc_id, band, band_hash FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY band, band_hash) <= {bucket_cap}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_intersect
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.doc_a
  JOIN sets sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
),
near_edges AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE i.n_intersect * 100 >= {jaccard_pct} * (za.n + zb.n - i.n_intersect)
)
"""


def _sql_dedup_pipeline(
    jaccard_pct: int = 80, bucket_cap: int = dedup.DEFAULT_BUCKET_CAP
) -> str:
    """SQL twin of dedup.dedup_pipeline: exact dedup -> MinHash/LSH over the
    representatives (with the band-bucket cap) -> integer Jaccard edges ->
    single-hop drop list."""
    return f"""
WITH {_dedup_edges_ctes(jaccard_pct, bucket_cap)},
exact_drops AS (
  SELECT doc_b AS doc_id, doc_a AS dup_of, 'exact' AS reason FROM exact_edges
),
near_drops AS (
  SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of, 'near' AS reason
  FROM near_edges GROUP BY doc_b
)
SELECT * FROM exact_drops UNION ALL SELECT * FROM near_drops
"""


def _sql_dedup_pipeline_planted(
    jaccard_pct: int = 80, bucket_cap: int = dedup.DEFAULT_BUCKET_CAP
) -> str:
    """dedup_pipeline over the planted-dup relation: exercises the fused
    pipeline's EXACT edges with real groups (the raw fixture has none)."""
    return f"""
WITH {_PLANTED_CTE},
{_dedup_edges_ctes(jaccard_pct, bucket_cap, src="planted")},
exact_drops AS (
  SELECT doc_b AS doc_id, doc_a AS dup_of, 'exact' AS reason FROM exact_edges
),
near_drops AS (
  SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of, 'near' AS reason
  FROM near_edges GROUP BY doc_b
)
SELECT * FROM exact_drops UNION ALL SELECT * FROM near_drops
"""


def _sql_dup_clusters(
    jaccard_pct: int = 80, bucket_cap: int = dedup.DEFAULT_BUCKET_CAP
) -> str:
    """SQL twin of dedup.duplicate_clusters: connected components over the
    exact + near edges via a recursive CTE (label = min reachable doc_id —
    the declarative fixpoint of the iterative min-label propagation the
    Spark operator runs)."""
    return f"""
WITH RECURSIVE {_dedup_edges_ctes(jaccard_pct, bucket_cap)},
alledges AS (
  SELECT doc_a, doc_b FROM exact_edges
  UNION
  SELECT doc_a, doc_b FROM near_edges
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM alledges
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM alledges
),
cc AS (
  SELECT src AS doc_id, src AS label FROM und
  UNION
  SELECT u.dst AS doc_id, c.label FROM cc c JOIN und u ON u.src = c.doc_id
)
SELECT doc_id, MIN(label) AS cluster_id FROM cc GROUP BY 1
"""


def _simhash_votes_sql() -> str:
    """32 per-bit vote sums; bit b of the 32-bit word hash = bit (b%4) of
    hex digit 8-(b//4) (1-based) of md5(word) — same arithmetic as the
    Spark conv()-based implementation."""
    aggs = []
    for b in range(32):
        digit_pos = 8 - b // 4
        bit = b % 4
        digit = f"(strpos('0123456789abcdef', substr(md5(word), {digit_pos}, 1)) - 1)"
        aggs.append(
            f"SUM(CASE WHEN ({digit} >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
    return ", ".join(aggs)


SQL_SIMHASH = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({_TOKS}) AS word
  FROM documents WHERE trim(text, ' ') <> ''
),
votes AS (SELECT doc_id, {_simhash_votes_sql()} FROM tok WHERE word <> '' GROUP BY doc_id)
SELECT doc_id,
  {" + ".join(f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(32))} AS simhash
FROM votes
"""

def _sql_ann_topk(corpus_where: str = "") -> str:
    """Exact brute-force cosine top-5 twin; `corpus_where` (an AND-able
    predicate on vec_id) restricts the corpus side — used by the
    ann_recall audit slice."""
    cw = f"AND ({corpus_where})" if corpus_where else ""
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS cos_r6
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id {cw}
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_r6
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_r6 DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
"""


SQL_ANN_TOPK = _sql_ann_topk()


def _lsh_proj_sql(band: int, plane: int) -> str:
    """Integer projection of the quantized vector column `q` onto the
    deterministic +-1 hyperplane (band, plane) — the exact SQL twin of
    similarity.band_bucket_col's per-plane fold. q elements are
    floor(x*1e6) (|.| <= ~5e5), so 64-term sums stay integer-exact in
    double in ANY summation order — no float-boundary risk."""
    signs = similarity.hyperplane_signs(band, plane)
    pos = [str(i + 1) for i, s in enumerate(signs) if s == 1]
    neg = [str(i + 1) for i, s in enumerate(signs) if s == -1]
    pos_s = f"COALESCE(list_sum(list_select(q, [{', '.join(pos)}])), 0)" if pos else "0"
    neg_s = f"COALESCE(list_sum(list_select(q, [{', '.join(neg)}])), 0)" if neg else "0"
    return f"({pos_s} - {neg_s})"


def _lsh_bucket_sql(band: int, n_planes: int = similarity.N_PLANES) -> str:
    bits = [
        f"CASE WHEN {_lsh_proj_sql(band, p)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(n_planes)
    ]
    return "(" + " + ".join(bits) + ")"


def _lsh_bands_cte(
    n_bands: int = similarity.N_LSH_BANDS,
    n_planes: int = similarity.N_PLANES,
    corpus_where: str = "",
) -> str:
    """CTEs `qv` (vec, quantized vec) and `bands` (vec_id, band, bucket) —
    the SQL twin of similarity.with_band_buckets over the embeddings table."""
    per_band = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_lsh_bucket_sql(b, n_planes)} AS bucket FROM qv"
        for b in range(n_bands)
    )
    cw = f"WHERE {corpus_where}" if corpus_where else ""
    return f"""
qv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * {float(similarity.LSH_QUANT)})) AS q
  FROM embeddings {cw}
),
bands AS ({per_band})
"""


def _sql_ann_lsh_topk(k: int = 5, corpus_where: str = "") -> str:
    """Twin of lsh_topk(probe_bits=1) with the top-k family's band shape
    (LSH_TOPK_BANDS x LSH_TOPK_PLANES): the query side probes its exact
    bucket plus every Hamming-1 bucket (one hyperplane bit xor-flipped)."""
    flips = ", ".join(str(1 << p) for p in range(similarity.LSH_TOPK_PLANES))
    return f"""
WITH {_lsh_bands_cte(similarity.LSH_TOPK_BANDS, similarity.LSH_TOPK_PLANES, corpus_where)},
qb0 AS (SELECT vec_id AS query_id, band, bucket FROM bands WHERE vec_id % 50 = 0),
qb AS (
  SELECT query_id, band, bucket FROM qb0
  UNION ALL
  SELECT query_id, band, xor(bucket, CAST(u.p AS BIGINT)) AS bucket
  FROM qb0, unnest([{flips}]) AS u(p)
),
cand AS (
  SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
  FROM bands b JOIN qb ON b.band = qb.band AND b.bucket = qb.bucket
  WHERE b.vec_id <> qb.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_cosine_similarity(q1.v, q2.v), 6) AS cos_r6
  FROM cand c
  JOIN qv q1 ON q1.vec_id = c.query_id
  JOIN qv q2 ON q2.vec_id = c.neighbor_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_r6
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_r6 DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def _sql_ivf_refined_assign_ctes(
    n_cells: int = similarity.IVF_TOPK_CELLS,
    corpus_where: str = "",
) -> str:
    """Shared CTE prefix `qv .. assign1`: quantized vectors, hash-sampled
    seed centroids, ONE integer-exact Lloyd step (per-(cell, dim)
    floor(sum/count) over the quantized components; empty cells keep
    their seed), and the refined cell assignment — the SQL twin of
    similarity.lloyd_step + with_nearest_cells(top_n=1). Used by both
    ann_ivf_refined_topk and semantic_dedup."""
    dim = similarity.DIM
    cw = f"WHERE {corpus_where}" if corpus_where else ""
    return f"""qv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * {float(similarity.IVF_QUANT)})) AS q
  FROM embeddings {cw}
),
cent0 AS (
  SELECT row_number() OVER (ORDER BY ord) - 1 AS cell, q AS cq
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS ord, q
        FROM qv ORDER BY 1 LIMIT {n_cells})
),
dots0 AS (
  SELECT qv.vec_id, cent0.cell, list_dot_product(qv.q, cent0.cq) AS dot
  FROM qv CROSS JOIN cent0
),
assign0 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rnk
    FROM dots0
  ) WHERE rnk = 1
),
dimstats AS (
  SELECT a.cell, t.d AS dim,
         CAST(floor(SUM(qv.q[t.d]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS val
  FROM assign0 a JOIN qv USING (vec_id), unnest(range(1, {dim + 1})) AS t(d)
  GROUP BY 1, 2
),
cent1 AS (
  SELECT c0.cell,
         COALESCE(r.cq1, c0.cq) AS cq
  FROM cent0 c0
  LEFT JOIN (SELECT cell, list(CAST(val AS DOUBLE) ORDER BY dim) AS cq1
             FROM dimstats GROUP BY 1) r USING (cell)
),
dots1 AS (
  SELECT qv.vec_id, cent1.cell, list_dot_product(qv.q, cent1.cq) AS dot
  FROM qv CROSS JOIN cent1
),
assign1 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rnk
    FROM dots1
  ) WHERE rnk = 1
)"""


def _sql_ann_ivf_refined_topk(
    k: int = 5,
    n_cells: int = similarity.IVF_TOPK_CELLS,
    n_probe: int = similarity.IVF_TOPK_PROBE,
    corpus_where: str = "",
) -> str:
    """SQL twin of similarity.ivf_topk_refined (n_iter=1 unrolled): the
    shared refined-assignment CTEs, then the probe chain against the
    refined centroids."""
    return f"""
WITH {_sql_ivf_refined_assign_ctes(n_cells, corpus_where)},
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rnk
    FROM dots1 WHERE vec_id % 50 = 0
  ) WHERE rnk <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign1 a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_cosine_similarity(q1.v, q2.v), 6) AS cos_r6
  FROM cand c
  JOIN qv q1 ON q1.vec_id = c.query_id
  JOIN qv q2 ON q2.vec_id = c.neighbor_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_r6
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_r6 DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


#: semantic_dedup cosine threshold — same value as the embedding_neardup
#: family so the synthetic fixture yields a small non-empty dup set
SEMDEDUP_THRESHOLD = 0.4


def _sql_semantic_dedup(threshold: float = SEMDEDUP_THRESHOLD) -> str:
    """SQL twin of similarity.semantic_dedup: the shared refined-cell
    assignment CTEs, within-cell pair generation (a.cell = b.cell,
    id ordering), exact rounded-cosine filter, lowest-id-survives."""
    return f"""
WITH {_sql_ivf_refined_assign_ctes()},
dups AS (
  SELECT DISTINCT b.vec_id AS id_b
  FROM assign1 a
  JOIN assign1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN qv q1 ON q1.vec_id = a.vec_id
  JOIN qv q2 ON q2.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(q1.v, q2.v), 6) >= {threshold}
)
SELECT q.vec_id, CAST(a.cell AS INTEGER) AS cell,
       (d.id_b IS NOT NULL) AS is_dup
FROM qv q
JOIN assign1 a USING (vec_id)
LEFT JOIN dups d ON d.id_b = q.vec_id
"""


#: ann_recall audit-slice modulus: recall is estimated on the 1-in-3
#: corpus slice (plus every query vector) instead of the full corpus —
#: the dedup_lsh_recall pattern. Recall on a uniform sub-corpus is an
#: unbiased estimate of full-corpus recall, and the ground-truth
#: brute-force side stops being O(full corpus x queries) at scale.
ANN_AUDIT_CORPUS_MOD = 3
_ANN_AUDIT_WHERE = f"(vec_id % {ANN_AUDIT_CORPUS_MOD} = 0 OR vec_id % 50 = 0)"
#: ADC re-rank depth for the audited pq_r variant — single-sourced from
#: the operator module (see similarity.PQ_RERANK for the cost/recall
#: rationale).
PQ_RERANK = similarity.PQ_RERANK


def _sql_hamming_queries(k: int = 5, corpus_where: str = "") -> str:
    """SQL twin of similarity.hamming_topk_queries over the audit slice:
    packed sign halves, XOR+popcount distance, naive per-query rank."""
    q = float(similarity.IVF_QUANT)
    where = f"WHERE {corpus_where}" if corpus_where else ""
    return f"""
WITH hq AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {q}) AS BIGINT)) AS qarr
  FROM embeddings {where}
),
hpk AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(range(1, len(qarr) + 1),
      i -> CASE WHEN qarr[i] >= 0 AND i - 1 < 32
           THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT)
      AS lo,
    CAST(list_sum(list_transform(range(1, len(qarr) + 1),
      i -> CASE WHEN qarr[i] >= 0 AND i - 1 >= 32
           THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)) AS BIGINT)
      AS hi
  FROM hq
)
SELECT query_id, neighbor_id FROM (
  SELECT s.query_id, s.neighbor_id,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY s.hamming ASC, s.neighbor_id ASC)
           AS rnk
  FROM (
    SELECT qs.vec_id AS query_id, p.vec_id AS neighbor_id,
           bit_count(xor(p.lo, qs.lo)) + bit_count(xor(p.hi, qs.hi))
             AS hamming
    FROM hpk p JOIN hpk qs
      ON qs.vec_id % 50 = 0 AND p.vec_id <> qs.vec_id
  ) s
) WHERE rnk <= {k}
"""


def _sql_ann_recall(k: int = 5) -> str:
    """SQL twin of ann_recall: the three ANN result sets as CTEs (each on
    the audit corpus slice), hit counts via equi-joins on (query_id,
    neighbor_id), recall in integer basis points."""
    return f"""
WITH bf AS ({_sql_ann_topk(_ANN_AUDIT_WHERE)}),
lshr AS ({_sql_ann_lsh_topk(k, corpus_where=_ANN_AUDIT_WHERE)}),
ivfr AS ({_sql_ann_ivf_topk(k, corpus_where=_ANN_AUDIT_WHERE)}),
ivfr2 AS ({_sql_ann_ivf_refined_topk(k, corpus_where=_ANN_AUDIT_WHERE)}),
pqr AS ({_sql_pq_adc_topk(k=k, corpus_where=_ANN_AUDIT_WHERE)}),
pqr2 AS ({_sql_pq_adc_topk(k=k, corpus_where=_ANN_AUDIT_WHERE, rerank=PQ_RERANK)}),
hamr AS ({_sql_hamming_queries(k, corpus_where=_ANN_AUDIT_WHERE)})
SELECT method, n_true, n_hits, n_hits * 10000 // n_true AS recall_bp
FROM (
  SELECT 'ivf' AS method,
         (SELECT COUNT(*) FROM bf) AS n_true,
         (SELECT COUNT(*) FROM bf JOIN ivfr USING (query_id, neighbor_id)) AS n_hits
  UNION ALL
  SELECT 'ivf_r' AS method,
         (SELECT COUNT(*) FROM bf) AS n_true,
         (SELECT COUNT(*) FROM bf JOIN ivfr2 USING (query_id, neighbor_id)) AS n_hits
  UNION ALL
  SELECT 'lsh' AS method,
         (SELECT COUNT(*) FROM bf) AS n_true,
         (SELECT COUNT(*) FROM bf JOIN lshr USING (query_id, neighbor_id)) AS n_hits
  UNION ALL
  SELECT 'pq' AS method,
         (SELECT COUNT(*) FROM bf) AS n_true,
         (SELECT COUNT(*) FROM bf JOIN pqr USING (query_id, neighbor_id)) AS n_hits
  UNION ALL
  SELECT 'pq_r' AS method,
         (SELECT COUNT(*) FROM bf) AS n_true,
         (SELECT COUNT(*) FROM bf JOIN pqr2 USING (query_id, neighbor_id)) AS n_hits
  UNION ALL
  SELECT 'hamming' AS method,
         (SELECT COUNT(*) FROM bf) AS n_true,
         (SELECT COUNT(*) FROM bf JOIN hamr USING (query_id, neighbor_id)) AS n_hits
)
"""


def _sql_ann_ivf_topk(
    k: int = 5,
    n_cells: int = similarity.IVF_TOPK_CELLS,
    n_probe: int = similarity.IVF_TOPK_PROBE,
    corpus_where: str = "",
) -> str:
    """SQL twin of similarity.ivf_topk: hash-sampled centroids (smallest
    md5(vec_id), cell = rank in md5 order), integer-quantized dot-product
    argmax assignment (quantized values <= ~530 so the 64-term dot is
    integer-exact in double), n_probe nearest cells per query, exact
    cosine re-rank on candidates."""
    cw = f"WHERE {corpus_where}" if corpus_where else ""
    return f"""
WITH qv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * {float(similarity.IVF_QUANT)})) AS q
  FROM embeddings {cw}
),
cent AS (
  SELECT row_number() OVER (ORDER BY ord) - 1 AS cell, q AS cq
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS ord, q
        FROM qv ORDER BY 1 LIMIT {n_cells})
),
dots AS (
  SELECT qv.vec_id, cent.cell, list_dot_product(qv.q, cent.cq) AS dot
  FROM qv CROSS JOIN cent
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rnk
    FROM dots
  ) WHERE rnk = 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rnk
    FROM dots WHERE vec_id % 50 = 0
  ) WHERE rnk <= {n_probe}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_cosine_similarity(q1.v, q2.v), 6) AS cos_r6
  FROM cand c
  JOIN qv q1 ON q1.vec_id = c.query_id
  JOIN qv q2 ON q2.vec_id = c.neighbor_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_r6
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_r6 DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment (IVF-PQ's compression layer):
    hash-sampled per-subspace codebooks, integer dot-product argmax over
    floor-quantized subvectors, one block-diagonal Arrow matmul."""
    return similarity.pq_codes(_read(spark, sf_dir, "embeddings"))


def _sql_pq_common(m: int, n_codes: int, corpus_where: str = "") -> str:
    """Shared PQ CTE block (quantized vectors, md5-ordered codebook
    sample, per-subspace sliced integer dots, argmax assignment) — one
    definition for the pq_codes and pq_adc_topk twins so they can never
    diverge."""
    cw = f"WHERE {corpus_where}" if corpus_where else ""
    slen = 64 // m  # fixture embedding dim is 64
    subs = ", ".join(f"({j})" for j in range(m))
    return f"""
qv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * {float(similarity.IVF_QUANT)})) AS q
  FROM embeddings {cw}
),
samp AS (
  SELECT row_number() OVER (ORDER BY ord) - 1 AS code, q AS cq
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS ord, q
        FROM qv ORDER BY 1 LIMIT {n_codes})
),
sub AS (SELECT * FROM (VALUES {subs}) t(j)),
dots AS (
  SELECT qv.vec_id, sub.j, samp.code,
         list_dot_product(
           list_slice(qv.q, sub.j * {slen} + 1, (sub.j + 1) * {slen}),
           list_slice(samp.cq, sub.j * {slen} + 1, (sub.j + 1) * {slen})
         ) AS dot
  FROM qv CROSS JOIN sub CROSS JOIN samp
),
pc AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY dot DESC, code ASC) AS rnk
    FROM dots
  ) WHERE rnk = 1
)"""


def _sql_pq_codes(
    m: int = similarity.PQ_SUBSPACES, n_codes: int = similarity.PQ_CODES
) -> str:
    """SQL twin of similarity.pq_codes: same md5-ordered codebook sample,
    same floor-quantized integer dots per subvector slice, same
    dot-desc/code-asc tie rule."""
    return f"""
WITH {_sql_pq_common(m, n_codes)}
SELECT vec_id, CAST(j AS INTEGER) AS subspace, CAST(code AS INTEGER) AS code
FROM pc
"""


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the PQ codes (the IVF-PQ query path): per-query
    integer lookup tables, broadcast (subspace, code) join onto the
    codes relation — corpus floats never read at query time."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return similarity.pq_adc_topk(emb, q, k=5)


def _sql_pq_adc_topk(
    m: int = similarity.PQ_SUBSPACES,
    n_codes: int = similarity.PQ_CODES,
    k: int = 5,
    corpus_where: str = "",
    rerank: int = 0,
) -> str:
    """SQL twin of similarity.pq_adc_topk: LUT entries are the same
    sliced integer dots, document score = sum of its m code lookups;
    with rerank=R the ADC pass nominates top-R and exact cosine ranks
    them down to k."""
    slen = 64 // m
    common = f"""
WITH {_sql_pq_common(m, n_codes, corpus_where)},
lut AS (
  SELECT qv.vec_id AS query_id, sub.j, samp.code,
         CAST(list_dot_product(
           list_slice(qv.q, sub.j * {slen} + 1, (sub.j + 1) * {slen}),
           list_slice(samp.cq, sub.j * {slen} + 1, (sub.j + 1) * {slen})
         ) AS BIGINT) AS part_dot
  FROM qv CROSS JOIN sub CROSS JOIN samp
  WHERE qv.vec_id % 50 = 0
),
adc AS (
  SELECT l.query_id, pc.vec_id AS neighbor_id,
         CAST(SUM(l.part_dot) AS BIGINT) AS adc_dot
  FROM pc JOIN lut l ON l.j = pc.j AND l.code = pc.code
  WHERE pc.vec_id <> l.query_id
  GROUP BY 1, 2
)"""
    if not rerank:
        return f"""{common}
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, adc_dot
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dot DESC, neighbor_id ASC) AS rank
  FROM adc
)
WHERE rank <= {k}
"""
    return f"""{common},
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adc_dot DESC, neighbor_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {rerank}
),
rescored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_cosine_similarity(q1.v, q2.v), 6) AS cos_r6
  FROM cand c
  JOIN qv q1 ON q1.vec_id = c.query_id
  JOIN qv q2 ON q2.vec_id = c.neighbor_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_r6
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_r6 DESC, neighbor_id ASC) AS rank
  FROM rescored
)
WHERE rank <= {k}
"""


def q_pq_adc_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production IVF-PQ pipeline: ADC nominates a CONSTANT
    number of candidates per query (PQ_RERANK), exact cosine re-ranks
    only those — the sole rows whose raw floats are ever fetched."""
    emb = _emb_double_std(spark, sf_dir)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return similarity.pq_adc_topk(emb, q, k=5, rerank=PQ_RERANK)


def _emb_double_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with the double-cast the cosine re-rank needs (the
    _emb_double rule: float*float stays float in Spark otherwise)."""
    return _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )


def _sql_neardup_emb(threshold: float = 0.5) -> str:
    """SQL twin of the LSH-bucketed cosine_near_dup_pairs (candidates from
    the band-bucket equi-join, exact cosine filter on candidates only)."""
    return f"""
WITH {_lsh_bands_cte()},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(q1.v, q2.v), 6) AS cos_r6
FROM cand c
JOIN qv q1 ON q1.vec_id = c.id_a
JOIN qv q2 ON q2.vec_id = c.id_b
WHERE round(list_cosine_similarity(q1.v, q2.v), 6) >= {threshold}
"""


def _byte_from_sha_sql(expr: str, byte_idx: int) -> str:
    """Byte value from a hex digest string (two hex chars per byte)."""
    hi = f"(strpos('0123456789abcdef', substr({expr}, {2 * byte_idx + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr({expr}, {2 * byte_idx + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def _sql_multimodal_meta() -> str:
    sha = "sha256(text)"  # DuckDB sha256 takes VARCHAR, hashes utf-8 bytes
    mtype = (
        "CASE WHEN doc_id % 3 = 0 THEN 'image'"
        " WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"
    )
    b = _byte_from_sha_sql  # over the hex digest column
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, {mtype} AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         {sha} AS content_sha
  FROM documents
)
SELECT media_id, media_type, n_bytes, content_sha,
  CAST(CASE WHEN media_type = 'audio' THEN 0
            WHEN media_type = 'image' THEN 16 + {b('content_sha', 0)} % 240
            ELSE 16 + {b('content_sha', 2)} % 240 END AS INTEGER) AS width,
  CAST(CASE WHEN media_type = 'audio' THEN 0
            WHEN media_type = 'image' THEN 16 + {b('content_sha', 1)} % 240
            ELSE 16 + {b('content_sha', 3)} % 240 END AS INTEGER) AS height,
  CAST(CASE WHEN media_type = 'image' THEN 1
            ELSE 1 + {b('content_sha', 4)} % 120 END AS INTEGER) AS n_frames
FROM pre
"""


# =========================================================================
# 4. catalog assembly
# =========================================================================


def _events_q(cfg: PipelineConfig):
    return lambda spark, sf_dir: _events_records_spark(spark, sf_dir, cfg)


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = _events_records_spark(spark, sf_dir, CFG_DEFAULT)
    return rec.groupBy("sink").agg(F.count(F.lit(1)).alias("records"))


SQL_ROUTE_COUNTS = f"""
WITH ev AS ({EV_CTE})
SELECT {sink_sql(EVENT_ROUTES, "event_name", "sink_default")} AS sink,
       COUNT(*) AS records
FROM ev GROUP BY 1
"""


def q_filter_include_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = compile_records(CFG_FILTER, EVENT_ROUTES, DEFAULT_SINK, OBSERVED_TS_US)
    rec = records(events_span_view(spark, sf_dir))
    return rec.groupBy("event_name").agg(
        F.count(F.lit(1)).alias("records"),
        F.max("severity_number").alias("max_sev"),
    )


SQL_FILTER_INCLUDE = f"""
WITH ev AS ({EV_CTE})
SELECT event_name, COUNT(*) AS records, CAST(9 AS INTEGER) AS max_sev
FROM ev WHERE event_name IN ('error', 'purchase') GROUP BY 1
"""


def q_grouped_emission(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = _events_records_spark(spark, sf_dir, CFG_DEFAULT)
    return rec.groupBy(F.col("span_id").alias("resource_key")).agg(
        F.count(F.lit(1)).alias("records"),
        F.countDistinct("event_name").alias("event_types"),
    )


SQL_GROUPED_EMISSION = f"""
WITH ev AS ({EV_CTE})
SELECT span_id AS resource_key, COUNT(*) AS records,
       COUNT(DISTINCT event_name) AS event_types
FROM ev GROUP BY 1
"""


def q_windowed_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows x sink (batch twin of
    streaming.windowed_sink_counts; window start as epoch seconds so the
    hash compare is timezone-proof)."""
    rec = _events_records_spark(spark, sf_dir, CFG_DEFAULT)
    ts = F.timestamp_micros(F.expr("ts_ns div 1000"))
    windowed = rec.withColumn("w", F.window(ts, "1 day"))
    return windowed.groupBy(
        (F.unix_micros(F.col("w.start")) / 1_000_000).cast("long").alias("window_start_s"),
        "sink",
    ).agg(F.count(F.lit(1)).alias("records"))


SQL_WINDOWED_SINK_COUNTS = f"""
WITH ev AS ({EV_CTE})
SELECT CAST(epoch(date_trunc('day', to_timestamp(ts_ns / 1e9))) AS BIGINT) AS window_start_s,
       {sink_sql(EVENT_ROUTES, "event_name", "sink_default")} AS sink,
       COUNT(*) AS records
FROM ev GROUP BY 1, 2
"""


def q_span_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.span_sessions_stateful (the
    applyInPandasWithState sessionizer): per-span event count, first/last
    event time, max severity. The streaming path is pinned to this exact
    grain by test_streaming.py's micro-batch equivalence test."""
    from .streaming import span_sessions

    rec = _events_records_spark(spark, sf_dir, CFG_DEFAULT)
    return span_sessions(rec)


def _sql_span_sessions() -> str:
    return f"""
WITH rec AS ({_events_records_sql(CFG_DEFAULT)})
SELECT span_id, COUNT(*) AS n_events, MIN(ts_ns) AS first_ts_ns,
       MAX(ts_ns) AS last_ts_ns, CAST(MAX(severity_number) AS INTEGER) AS max_severity
FROM rec GROUP BY 1
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    meta = multimodal.extract_media_metadata(
        multimodal.media_from_documents(docs), fake=True
    )
    return meta.select(
        "media_id", "media_type", "n_bytes", "content_sha",
        "width", "height", "n_frames",
    )


#: per-language sample percentages for the stratified_sample catalog query
SAMPLE_RATES = {"en": 40, "de": 10}
SAMPLE_DEFAULT_RATE = 5

SQL_LATEST_PER_SOURCE = """
SELECT source, MAX(doc_id) AS doc_id, arg_max(n_chars, doc_id) AS n_chars
FROM documents GROUP BY 1
"""

_SAMPLE_BUCKET_SQL = (
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100)"
)


def _sql_stratified_sample() -> str:
    cases = " ".join(
        f"WHEN lang = {sql_str(lg)} THEN {pct}"
        for lg, pct in sorted(SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE {_SAMPLE_BUCKET_SQL} < (CASE {cases} ELSE {SAMPLE_DEFAULT_RATE} END)
"""


def _sql_clean_corpus(
    keep_lang: str = "en",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_stopword_pct: int = 3,
) -> str:
    """SQL twin of corpus.clean_corpus — the dedup/quality/lang-id oracles
    composed exactly the way the Spark op composes their operators."""
    return f"""
SELECT d.doc_id, l.lang_guess, q.n_tokens
FROM documents d
JOIN ({SQL_QUALITY_STATS}) q USING (doc_id)
JOIN ({_sql_lang_id()}) l USING (doc_id)
WHERE NOT EXISTS (
    SELECT 1 FROM ({_sql_dedup_pipeline()}) dr WHERE dr.doc_id = d.doc_id
  )
  AND l.lang_guess = {sql_str(keep_lang)}
  AND q.n_tokens >= {min_tokens} AND q.n_tokens <= {max_tokens}
  AND q.n_stopwords * 100 >= {min_stopword_pct} * q.n_tokens
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pass a pretraining pipeline actually runs, as
    ONE plan: boilerplate-line removal (dedup_lines) → PII redaction
    (pii_scrub) → minimum-length gate on the scrubbed text. Both PII and
    boilerplate evidence are planted (doc_id-keyed suffixes, both engines)
    so every stage does real work."""
    docs = _boiler_planted(_pii_planted(_read(spark, sf_dir, "documents")))
    cleaned = corpus.dedup_lines(docs, max_df=3)
    scrubbed = textstats.pii_scrub(cleaned.select("doc_id", "text"))
    toks = F.split(F.trim(F.col("clean_text")), dedup.WS_RE)
    n_tokens = (
        F.when(F.trim(F.col("clean_text")) == "", F.lit(0))
        .otherwise(F.array_size(toks))
        .cast("long")
    )
    out = scrubbed.join(cleaned.select("doc_id", "n_dropped"), "doc_id").select(
        "doc_id",
        "n_dropped",
        (F.col("n_emails") + F.col("n_ipv4") + F.col("n_phones")).alias("n_pii"),
        n_tokens.alias("n_tokens"),
        "clean_text",
    )
    return out.where(F.col("n_tokens") >= 5)


def _sql_curate_corpus(max_df: int = 3, min_tokens: int = 5) -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         text || {_sql_pii_suffix_case()}
              || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || 'COOKIE BANNER — accept all?'
                 ELSE '' END AS text
  FROM documents
),
{_sql_dedup_lines_body(max_df, "base")},
cleaned AS (SELECT doc_id, n_dropped, text FROM dl),
{_sql_pii_stages("cleaned")}
SELECT * FROM (
  SELECT p.doc_id, c.n_dropped,
         n_emails + n_ipv4 + n_phones AS n_pii,
         CASE WHEN trim(clean_text, ' ') = '' THEN 0
              ELSE CAST(len(regexp_split_to_array(trim(clean_text, ' '), '[ \\t\\n\\r\\f\\x0B]+'))
                        AS BIGINT) END AS n_tokens,
         clean_text
  FROM pii p JOIN cleaned c USING (doc_id)
)
WHERE n_tokens >= {min_tokens}
"""


# The fixture corpus is perplexity-uniform (every doc ~ -3.4 nats ->
# tail), so the bucket query plants one exact-head doc (all bigrams
# repeat: lp = 0) and one exact-middle doc (fan-out prefix: 8 x ln(1/8)
# over 15 bigrams = -1.109 nats) — both from tokens absent from the
# corpus — so all three CASE arms are exercised in both engines.
_PPL_HEAD_TEXT = " ".join(["zzhead"] * 21)
_PPL_MID_TEXT = " ".join(
    t for i in range(1, 9) for t in ("zzmm", f"zz{i}")
)


def _ppl_planted(docs: DataFrame) -> DataFrame:
    spark = docs.sparkSession
    extra = spark.createDataFrame(
        [
            (PLANT_OFFSET + 1, _PPL_HEAD_TEXT),
            (PLANT_OFFSET + 2, _PPL_MID_TEXT),
        ],
        "doc_id long, text string",
    )
    return docs.select("doc_id", "text").unionByName(extra)


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.perplexity_buckets(
        _ppl_planted(_read(spark, sf_dir, "documents"))
    )


def _sql_perplexity_buckets() -> str:
    head, mid = textstats.PPL_HEAD_MICRO, textstats.PPL_MID_MICRO
    lp_sql = _sql_bigram_logprob("ppl_planted")
    return f"""
WITH ppl_planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT {PLANT_OFFSET} + 1, {sql_str(_PPL_HEAD_TEXT)}
  UNION ALL
  SELECT {PLANT_OFFSET} + 2, {sql_str(_PPL_MID_TEXT)}
),
lp AS ({lp_sql})
SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams
FROM (
  SELECT CASE WHEN sum_lp_micro >= -{head} * n_bigrams THEN 'head'
              WHEN sum_lp_micro >= -{mid} * n_bigrams THEN 'middle'
              ELSE 'tail' END AS bucket,
         n_bigrams
  FROM lp
)
GROUP BY 1
"""


def _sql_tfidf_topk(k: int = 3) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents WHERE trim(text, ' ') <> ''
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2
),
dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         tf.tf * CAST(floor(ln((n_docs + 1.0) / (df + 1.0)) * 1000000.0)
                      AS BIGINT) AS score_micro
  FROM tf JOIN dfx USING (token) CROSS JOIN n
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, token, tf, score_micro
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score_micro DESC, token ASC) AS rank
  FROM s
)
WHERE rank <= {k}
"""


# -- PII / repetition / line-dedup (planted, both engines) ----------------
# The fixture texts carry no emails/IPs/phones and few repeated lines, so
# each query derives a planted relation (deterministic doc_id-keyed
# suffixes) in BOTH engines — same lesson as the planted exact-dup oracle.

_PII_SUFFIXES = (
    (4, 0, " reach bob@example.com"),
    (4, 1, " from 10.1.2.3"),
    (4, 2, " call 555-123-4567 or +4915112345678"),
)


def _pii_planted(docs: DataFrame) -> DataFrame:
    suffix = F.lit("")
    for mod, rem, s in _PII_SUFFIXES:
        suffix = F.when(F.col("doc_id") % mod == rem, F.lit(s)).otherwise(suffix)
    return docs.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))


def _sql_pii_suffix_case() -> str:
    cases = " ".join(
        f"WHEN doc_id % {mod} = {rem} THEN {sql_str(s)}"
        for mod, rem, s in _PII_SUFFIXES
    )
    return f"CASE {cases} ELSE '' END"


def _sql_pii_planted_cte() -> str:
    return f"""
p AS (
  SELECT doc_id, text || {_sql_pii_suffix_case()} AS text FROM documents
)
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.pii_scrub(_pii_planted(_read(spark, sf_dir, "documents")))


def _sql_pii_stages(src: str) -> str:
    """CTE chain s1, s2, pii over relation `src(doc_id, text)`; `pii` ends
    with (doc_id, n_emails, n_ipv4, n_phones, clean_text). Shared by the
    standalone twin and curate_corpus."""
    email, ipv4, phone = (
        textstats.PII_EMAIL,
        textstats.PII_IPV4,
        textstats.PII_PHONE,
    )
    return f"""
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_emails,
         regexp_replace(text, '{email}', '[EMAIL]', 'g') AS t1
  FROM {src}
),
s2 AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(t1, '{ipv4}')) AS BIGINT) AS n_ipv4,
         regexp_replace(t1, '{ipv4}', '[IP]', 'g') AS t2
  FROM s1
),
pii AS (
  SELECT doc_id, n_emails, n_ipv4,
         CAST(len(regexp_extract_all(t2, '{phone}')) AS BIGINT) AS n_phones,
         regexp_replace(t2, '{phone}', '[PHONE]', 'g') AS clean_text
  FROM s2
)
"""


def _sql_pii_scrub() -> str:
    return f"""
WITH {_sql_pii_planted_cte()},
{_sql_pii_stages("p")}
SELECT doc_id, n_emails, n_ipv4, n_phones, clean_text FROM pii
"""


def _rep_planted(docs: DataFrame) -> DataFrame:
    suffix = F.when(
        F.col("doc_id") % 5 == 0, F.lit("\nREPEAT ME\nREPEAT ME")
    ).otherwise(F.lit(""))
    return docs.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.repetition_stats(_rep_planted(_read(spark, sf_dir, "documents")))


def _sql_repetition_stats() -> str:
    return f"""
WITH p AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'REPEAT ME' || chr(10) || 'REPEAT ME'
                 ELSE '' END AS text
  FROM documents
),
l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM p),
lc AS (SELECT doc_id, line, COUNT(*) AS c FROM l WHERE line <> '' GROUP BY 1, 2),
ls AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
         CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_lines
  FROM lc GROUP BY 1
),
w AS (SELECT doc_id, {_TOKS} AS words FROM p WHERE trim(text, ' ') <> ''),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                i -> words[i] || ' ' || words[i+1])) AS g2
  FROM w WHERE len(words) >= 2
),
gc AS (SELECT doc_id, g2, COUNT(*) AS c FROM g GROUP BY 1, 2),
gs AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
         CAST(MAX(c) AS BIGINT) AS top_2gram_n
  FROM gc GROUP BY 1
)
SELECT p.doc_id,
  COALESCE(n_lines, 0) AS n_lines,
  COALESCE(n_dup_lines, 0) AS n_dup_lines,
  CASE WHEN COALESCE(n_lines, 0) > 0
       THEN COALESCE(n_dup_lines, 0) * 10000 // n_lines ELSE 0 END AS dup_line_bp,
  COALESCE(n_2grams, 0) AS n_2grams,
  COALESCE(top_2gram_n, 0) AS top_2gram_n,
  CASE WHEN COALESCE(n_2grams, 0) > 0
       THEN COALESCE(top_2gram_n, 0) * 10000 // n_2grams ELSE 0 END AS top_2gram_bp
FROM p LEFT JOIN ls USING (doc_id) LEFT JOIN gs USING (doc_id)
"""


def _boiler_planted(docs: DataFrame) -> DataFrame:
    suffix = F.when(
        F.col("doc_id") % 3 == 0, F.lit("\nCOOKIE BANNER — accept all?")
    ).otherwise(F.lit(""))
    return docs.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.dedup_lines(
        _boiler_planted(_read(spark, sf_dir, "documents")), max_df=3
    )


def _src_boiler_planted(docs: DataFrame) -> DataFrame:
    """Plant a SOURCE-specific template line on ~half of each source's
    docs (flagged: within-source df ~50% >= 30%) and a rare promo line on
    ~1/7 (negative: ~14% < 30%) — the fixture docs are single-line, so
    per-source template structure must be planted to be observable."""
    nav = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("\nNAV MENU :: "), F.col("source")),
    ).otherwise(F.lit(""))
    promo = F.when(
        F.col("doc_id") % 7 == 3,
        F.concat(F.lit("\nPROMO "), (F.col("doc_id") % 5).cast("string")),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        "source",
        F.concat(F.col("text"), nav, promo).alias("text"),
    )


def q_source_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.source_boilerplate(
        _src_boiler_planted(_read(spark, sf_dir, "documents")),
        min_docs=10,
        pct=30,
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.source_overlap(_read(spark, sf_dir, "documents"), src_cap=5)


def _sql_source_overlap(src_cap: int = 5) -> str:
    return f"""
WITH w AS (SELECT source, {_TOKS} AS words
           FROM documents WHERE trim(text, ' ') <> ''),
sh AS (SELECT source,
              unnest(list_transform(range(1, len(words) - 1),
                     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                AS shingle
       FROM w WHERE len(words) >= 3),
s AS (SELECT DISTINCT source, md5(shingle) AS gh FROM sh),
t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM s GROUP BY 1),
g AS (SELECT gh FROM s GROUP BY gh HAVING COUNT(*) <= {src_cap}),
r AS (SELECT s.source, s.gh FROM s JOIN g USING (gh)),
p AS (SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM r a JOIN r b ON a.gh = b.gh AND a.source < b.source
      GROUP BY 1, 2)
SELECT source_a, source_b, n_shared,
       ta.n_grams AS n_grams_a, tb.n_grams AS n_grams_b
FROM p
JOIN t ta ON ta.source = p.source_a
JOIN t tb ON tb.source = p.source_b
"""


def _sql_source_boilerplate(min_docs: int = 10, pct: int = 30) -> str:
    return f"""
WITH p AS (
  SELECT doc_id, source,
         text
           || CASE WHEN doc_id % 2 = 0
              THEN chr(10) || 'NAV MENU :: ' || source ELSE '' END
           || CASE WHEN doc_id % 7 = 3
              THEN chr(10) || 'PROMO ' || CAST(doc_id % 5 AS VARCHAR)
              ELSE '' END AS text
  FROM documents
),
l AS (
  SELECT source, doc_id, unnest(string_split(text, chr(10))) AS line FROM p
),
nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM p GROUP BY 1),
ldf AS (
  SELECT source, md5(line) AS line_md5,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_df
  FROM l WHERE line <> '' GROUP BY 1, 2
)
SELECT source, line_md5, line_df, n_docs
FROM ldf JOIN nd USING (source)
WHERE n_docs >= {min_docs} AND line_df * 100 >= n_docs * {pct}
"""


_SQL_BOILER_PLANT = """
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || 'COOKIE BANNER — accept all?'
                 ELSE '' END AS text
  FROM documents
"""


def _sql_dedup_lines_body(max_df: int, src: str) -> str:
    """line-dedup CTE chain + final SELECT over relation `src(doc_id,
    text)` — shared by the standalone twin and the composed curate_corpus
    twin (one definition, the two can never diverge)."""
    return f"""
l AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ls) + 1), i -> ls[i])) AS line,
         unnest(range(1, len(ls) + 1)) AS pos
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM {src})
),
bo AS (
  SELECT md5(line) AS lh FROM l WHERE line <> ''
  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > {max_df}
),
m AS (
  SELECT doc_id, pos, line,
         md5(line) IN (SELECT lh FROM bo) AS is_b
  FROM l
),
dl AS (
  SELECT doc_id, COUNT(*) AS n_lines,
         CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         COALESCE(string_agg(CASE WHEN NOT is_b THEN line END, chr(10)
                             ORDER BY pos), '') AS text
  FROM m GROUP BY 1
)
"""


def _sql_dedup_lines(max_df: int = 3) -> str:
    return f"""
WITH p AS ({_SQL_BOILER_PLANT}),
{_sql_dedup_lines_body(max_df, "p")}
SELECT doc_id, n_lines, n_dropped, text FROM dl
"""


def _sql_dup_ngram_stats(df_threshold: int = 4) -> str:
    return f"""
WITH {_shingle_cte("documents")},
sets AS (SELECT DISTINCT doc_id, shingle AS gram FROM sh),
f AS (SELECT gram, COUNT(*) AS df FROM sets GROUP BY 1),
j AS (SELECT s.doc_id, f.df FROM sets s JOIN f USING (gram))
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN df > {df_threshold} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       (CAST(SUM(CASE WHEN df > {df_threshold} THEN 1 ELSE 0 END) AS BIGINT) * 10000)
         // COUNT(*) AS boiler_pct_x100
FROM j GROUP BY 1
"""


def q_multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: valid BMP payloads are generated from
    doc_id, the Arrow UDF parses the actual header bytes (fake=False), and
    the oracle recomputes the header fields from doc_id arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_bmp_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    return meta.select("media_id", "n_bytes", "width", "height", "n_frames")


SQL_MULTIMODAL_BMP = """
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h
  FROM documents
)
SELECT media_id,
  CAST(54 + ((w*3 + 3)//4)*4 * h AS BIGINT) AS n_bytes,
  CAST(w AS INTEGER) AS width,
  CAST(h AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS n_frames
FROM pre
"""


def _px_cols(meta: DataFrame) -> list:
    """feature floats back to the FEATURE_DIM integer pixel/sample bytes
    the decoder read — integer-exact across engines (float32(b/255)*255
    rounds to b)."""
    return [
        F.round(F.element_at("feature", j + 1) * 255, 0)
        .cast("int")
        .alias(f"px{j}")
        for j in range(multimodal.FEATURE_DIM)
    ]


def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end: valid zlib-compressed PNGs (scanline
    filters cycling through all five spec types) are generated from
    doc_id; the Arrow UDF CRC-checks, inflates, and unfilters the actual
    bytes; the oracle recomputes dimensions AND the decoded top-left pixel
    bytes from doc_id arithmetic — a wrong unfilter mismatches values."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_png_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    return meta.select(
        "media_id", "width", "height", "n_frames", *_px_cols(meta)
    )


def _sql_multimodal_png() -> str:
    px = []
    for j in range(multimodal.FEATURE_DIM):
        pj = j // 3  # pixel index of byte j (3 channels)
        px.append(
            f"CAST(CASE WHEN {j} < 3*w*h "
            f"THEN (s + (({pj}) % w) + (({pj}) // w)) % 256 "
            f"ELSE 0 END AS INTEGER) AS px{j}"
        )
    cols = ",\n  ".join(px)
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 32 AS w, 1 + doc_id % 24 AS h,
         doc_id % 256 AS s
  FROM documents
)
SELECT media_id,
  CAST(w AS INTEGER) AS width,
  CAST(h AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS n_frames,
  {cols}
FROM pre
"""


def q_media_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual aHash over REAL-decoded PNG pixel grids: 8x8 integer
    block means, floor-mean threshold, 64-bit hex hash. The oracle
    recomputes every block mean from the synthetic pixel function
    (s+x+y)%256 — a wrong unfilter or block index mismatches values."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_png_from_documents(docs)
    return multimodal.media_ahash(media)


def _sql_media_ahash() -> str:
    return """
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 32 AS w, 1 + doc_id % 24 AS h,
         doc_id % 256 AS s
  FROM documents
),
pix AS (
  SELECT media_id, w, h,
         (s + (u.i % w) + (u.i // w)) % 256 AS lum,
         ((u.i // w) * 8 // h) * 8 + ((u.i % w) * 8 // w) AS bit
  FROM pre, unnest(range(0, w * h)) AS u(i)
),
blocks AS (
  SELECT media_id, w, h, bit,
         CAST(SUM(lum) AS BIGINT) // COUNT(*) AS m
  FROM pix GROUP BY 1, 2, 3, 4
),
thr AS (
  SELECT media_id, COUNT(*) AS n_blocks,
         CAST(SUM(m) AS BIGINT) // COUNT(*) AS t
  FROM blocks GROUP BY 1
),
bits AS (
  SELECT b.media_id, MAX(b.w) AS w, MAX(b.h) AS h, MAX(t.n_blocks) AS nb,
    CAST(COALESCE(SUM(CASE WHEN b.m > t.t AND b.bit >= 32
      THEN (CAST(1 AS BIGINT) << (b.bit - 32)) END), 0) AS BIGINT) AS hi,
    CAST(COALESCE(SUM(CASE WHEN b.m > t.t AND b.bit < 32
      THEN (CAST(1 AS BIGINT) << b.bit) END), 0) AS BIGINT) AS lo
  FROM blocks b JOIN thr t USING (media_id)
  GROUP BY 1
),
dbits AS (
  SELECT b.media_id,
    CAST(COALESCE(SUM(CASE WHEN b2.m > b.m
      THEN (CAST(1 AS BIGINT) << ((b.bit // 8) * 7 + (b.bit % 8))) END), 0)
      AS BIGINT) AS dh
  FROM blocks b JOIN blocks b2
    ON b2.media_id = b.media_id AND b2.bit = b.bit + 1 AND b.bit % 8 < 7
  GROUP BY 1
)
SELECT bits.media_id,
  CAST(w AS INTEGER) AS width,
  CAST(h AS INTEGER) AS height,
  CAST(nb AS INTEGER) AS n_blocks,
  lpad(hex(hi), 8, '0') || lpad(hex(lo), 8, '0') AS ahash,
  lpad(hex(COALESCE(dh, 0)), 14, '0') AS dhash
FROM bits LEFT JOIN dbits ON dbits.media_id = bits.media_id
"""


def q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash over REAL-decoded PNG pixel grids: 8x8 block
    floor-means, integer-quantized 6x6 low-frequency DCT, lower-median
    threshold, 35-bit hex hash. The oracle replays the identical
    integer DCT from the synthetic pixel function via a VALUES basis
    table holding the same quantized cosines."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_png_from_documents(docs)
    return multimodal.media_phash(media)


def _sql_media_phash() -> str:
    qt = multimodal.phash_coeffs()
    rows = ", ".join(
        f"({u}, {x}, {qt[u][x]})"
        for u in range(multimodal.PHASH_LOWFREQ)
        for x in range(multimodal.AHASH_GRID)
    )
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 32 AS w, 1 + doc_id % 24 AS h,
         doc_id % 256 AS s
  FROM documents
),
pix AS (
  SELECT media_id, w, h,
         (s + (u.i % w) + (u.i // w)) % 256 AS lum,
         ((u.i % w) * 8 // w) AS bx,
         ((u.i // w) * 8 // h) AS by
  FROM pre, unnest(range(0, w * h)) AS u(i)
),
blocks AS (
  SELECT media_id, MAX(w) AS w, MAX(h) AS h, bx, by,
         CAST(SUM(lum) AS BIGINT) // COUNT(*) AS m
  FROM pix GROUP BY media_id, bx, by
),
qb(u, x, qc) AS (VALUES {rows}),
dct AS (
  SELECT b.media_id, MAX(b.w) AS w, MAX(b.h) AS h,
         qu.u AS u, qv.u AS v,
         CAST(SUM(b.m * qu.qc * qv.qc) AS BIGINT) AS c
  FROM blocks b
  JOIN qb qu ON qu.x = b.bx
  JOIN qb qv ON qv.x = b.by
  GROUP BY b.media_id, qu.u, qv.u
),
med AS (
  SELECT media_id,
         (list(c ORDER BY c ASC)
            FILTER (WHERE NOT (u = 0 AND v = 0)))[18] AS med
  FROM dct GROUP BY 1
)
SELECT d.media_id,
  CAST(MAX(d.w) AS INTEGER) AS width,
  CAST(MAX(d.h) AS INTEGER) AS height,
  CAST(MAX(CASE WHEN d.u = 0 AND d.v = 0 THEN d.c END) AS BIGINT) AS dc,
  lpad(hex(CAST(COALESCE(SUM(
    CASE WHEN NOT (d.u = 0 AND d.v = 0) AND d.c > m.med
         THEN (CAST(1 AS BIGINT) << (d.u * 6 + d.v)) END), 0)
    AS BIGINT)), 9, '0') AS phash
FROM dct d JOIN med m USING (media_id)
GROUP BY d.media_id
"""


def q_multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode end-to-end: valid LZW-coded GIF89a payloads
    generated from doc_id; the Arrow UDF runs a full LZW decode and
    palette map on the actual bytes; the oracle recomputes dimensions and
    the decoded top-left RGB bytes from doc_id arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_gif_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    return meta.select(
        "media_id", "width", "height", "n_frames", *_px_cols(meta)
    )


def _sql_multimodal_gif() -> str:
    # grayscale palette: decoded byte j belongs to pixel j//3, whose index
    # (and thus each RGB channel) is (s + x + y) % 256
    px = []
    for j in range(multimodal.FEATURE_DIM):
        pj = j // 3
        px.append(
            f"CAST(CASE WHEN {j} < 3*w*h "
            f"THEN (s + (({pj}) % w) + (({pj}) // w)) % 256 "
            f"ELSE 0 END AS INTEGER) AS px{j}"
        )
    cols = ",\n  ".join(px)
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 40 AS w, 1 + doc_id % 30 AS h,
         doc_id % 256 AS s
  FROM documents
)
SELECT media_id,
  CAST(w AS INTEGER) AS width,
  CAST(h AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS n_frames,
  {cols}
FROM pre
"""


def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode end-to-end: the Arrow UDF Huffman-decodes
    and IDCTs the actual entropy stream (fake=False). The oracle pins the
    SOF header fields, which are exact; reconstructed pixels are lossy by
    nature and pinned by pytest tolerance instead of the cross-engine
    hash."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_jpeg_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    return meta.select("media_id", "width", "height", "n_frames")


SQL_MULTIMODAL_JPEG = """
SELECT doc_id AS media_id,
  CAST(8 + doc_id % 56 AS INTEGER) AS width,
  CAST(8 + doc_id % 40 AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS n_frames
FROM documents
"""


def q_multimodal_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end-to-end: AVI/MJPEG payloads generated from
    doc_id, RIFF-walked and first-frame-JPEG-decoded by the Arrow UDF
    (fake=False); the oracle recomputes dimensions and frame counts from
    doc_id arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_avi_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    return meta.select("media_id", "width", "height", "n_frames")


SQL_MULTIMODAL_AVI = """
SELECT doc_id AS media_id,
  CAST(8 + doc_id % 24 AS INTEGER) AS width,
  CAST(8 + doc_id % 16 AS INTEGER) AS height,
  CAST(1 + doc_id % 5 AS INTEGER) AS n_frames
FROM documents
"""


def q_multimodal_dib_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL uncompressed-video decode end-to-end: AVI/DIB payloads (raw
    bottom-up BGR frames) generated from doc_id, RIFF-walked and
    first-frame-read by the Arrow UDF (fake=False). Unlike the MJPEG
    twin, the raw layout lets the oracle recompute the PIXEL BYTES too —
    dimensions, frame count, and the leading 8 pixel bytes all from
    doc_id arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_avi_dib_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    return meta.select("media_id", "width", "height", "n_frames", *_px_cols(meta))


def _sql_multimodal_dib_avi() -> str:
    px = ",\n  ".join(
        f"CAST((doc_id % 256 + {j}) % 256 AS INTEGER) AS px{j}"
        for j in range(multimodal.FEATURE_DIM)
    )
    return f"""
SELECT doc_id AS media_id,
  CAST(4 + doc_id % 12 AS INTEGER) AS width,
  CAST(2 + doc_id % 6 AS INTEGER) AS height,
  CAST(1 + doc_id % 5 AS INTEGER) AS n_frames,
  {px}
FROM documents
"""


def q_multimodal_dib_depths_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-depth uncompressed-video decode: the clip for doc id is
    8-bit palette / 24-bit BGR / 32-bit BGRX DIB by id % 3
    (multimodal.DIB_DEPTH_CYCLE), exercising palette expansion, X-byte
    drop, and pass-through in ONE catalog query. Every decoded BGR byte
    stays doc_id-recomputable: stored byte i of frame 0 is (id%256 + i)
    % 256 and the fixture palette is channel-linear in the index
    (dib_palette_entry), so the oracle recomputes the leading
    FEATURE_DIM decoded bytes per depth."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_avi_dib_depths_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    return meta.select("media_id", "width", "height", "n_frames", *_px_cols(meta))


def _sql_multimodal_dib_depths() -> str:
    # FEATURE_DIM (8) < 3 * min-width (12), so decoded byte j always
    # lives in the FIRST stored (bottom) row: pixel x = j//3, channel
    # c = j%3, and the row-stride term is zero for every depth.
    cols = []
    for j in range(multimodal.FEATURE_DIM):
        x, c = divmod(j, 3)
        v24 = f"(s + {j}) % 256"  # BGR triples, pass-through
        v32 = f"(s + {4 * x + c}) % 256"  # BGRX quads, X dropped
        v8 = f"({c + 1} * ((s + {x}) % 256)) % 256"  # palette: ch c = (c+1)*p
        cols.append(
            f"CAST(CASE bpp WHEN 24 THEN {v24} WHEN 32 THEN {v32} "
            f"ELSE {v8} END AS INTEGER) AS px{j}"
        )
    body = ",\n  ".join(cols)
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, doc_id % 256 AS s,
    CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 8 ELSE 32 END AS bpp
  FROM documents
)
SELECT media_id,
  CAST(4 + media_id % 12 AS INTEGER) AS width,
  CAST(2 + media_id % 6 AS INTEGER) AS height,
  CAST(1 + media_id % 5 AS INTEGER) AS n_frames,
  {body}
FROM pre
"""


def q_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end shot detection: scene-cut DIB/AVI clips (planted
    128-luminance jump at frame 1 + id%4) container-encoded, RIFF-
    decoded frame by frame, then the circular-byte-distance detector;
    the oracle recomputes every distance from doc_id arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_avi_scenes_from_documents(docs)
    frames = multimodal.sample_frames(media, every_n=1, fake=False)
    return multimodal.shot_boundaries(frames)


def _sql_shot_boundaries(thresh: int = 512) -> str:
    terms = []
    for j in range(multimodal.FEATURE_DIM):
        b1 = (
            f"((s + f + {j} + CASE WHEN f >= cut THEN 128 ELSE 0 END)"
            " % 256)"
        )
        b0 = (
            f"((s + f - 1 + {j} + CASE WHEN f - 1 >= cut THEN 128 ELSE 0"
            " END) % 256)"
        )
        terms.append(
            f"LEAST((({b1} - {b0}) % 256 + 256) % 256,"
            f" (({b0} - {b1}) % 256 + 256) % 256)"
        )
    dist = " + ".join(terms)
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, doc_id % 256 AS s, 1 + doc_id % 4 AS cut,
         2 + doc_id % 5 AS n
  FROM documents
),
fr AS (
  SELECT media_id, s, cut, unnest(generate_series(1, n - 1)) AS f
  FROM pre
)
SELECT media_id, CAST(f AS INTEGER) AS frame_idx,
       CAST({dist} AS BIGINT) AS dist,
       ({dist} >= {thresh}) AS is_cut
FROM fr
"""


def q_media_colorstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-first-frame per-channel color stats over the real DIB/AVI
    decode (row padding excluded — the BMP off-by-stride trap); every
    sum/min/max recomputed by the oracle from doc_id arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_avi_dib_from_documents(docs)
    return multimodal.media_colorstats(media)


SQL_MEDIA_COLORSTATS = """
WITH pre AS (
  SELECT doc_id AS media_id, doc_id % 256 AS s,
         4 + doc_id % 12 AS w, 2 + doc_id % 6 AS h,
         (((4 + doc_id % 12) * 3 + 3) // 4) * 4 AS stride
  FROM documents
),
rows_y AS (
  SELECT pre.*, unnest(range(0, h)) AS y FROM pre
),
px AS (
  SELECT media_id, s, w, h, (y * stride + unnest(range(0, w)) * 3) AS i0
  FROM rows_y
)
SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM((s + i0) % 256) AS BIGINT) AS sum_b,
       CAST(SUM((s + i0 + 1) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((s + i0 + 2) % 256) AS BIGINT) AS sum_r,
       CAST(MIN((s + i0) % 256) AS INTEGER) AS min_b,
       CAST(MAX((s + i0) % 256) AS INTEGER) AS max_b
FROM px GROUP BY 1, 2, 3, 4
"""


def q_avi_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling: every 2nd frame of each AVI is individually
    JPEG-decoded; the oracle reproduces the sampled (media_id, frame_idx)
    fan-out from the frame-count arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_avi_from_documents(docs)
    frames = multimodal.sample_frames(media, every_n=2, fake=False)
    return frames.select("media_id", "frame_idx")


SQL_AVI_FRAME_SAMPLES = """
SELECT doc_id AS media_id, CAST(u.f AS INTEGER) AS frame_idx
FROM documents, unnest(range(0, 1 + doc_id % 5, 2)) AS u(f)
"""


def q_multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV-PCM decode end-to-end: valid RIFF/WAVE payloads generated
    from doc_id, chunk-walked by the Arrow UDF (fake=False); the oracle
    recomputes byte size, frame count, and leading sample bytes from
    doc_id arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_wav_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    return meta.select(
        "media_id", "n_bytes", "n_frames", *_px_cols(meta)
    )


def q_multimodal_mulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 mu-law decode end-to-end: format-7 WAVs generated from
    doc_id, each companded byte expanded through the integer mu-law curve
    (fake=False); the oracle recomputes the expanded 16-bit samples from
    doc_id arithmetic — the (x+32768)/65536 feature mapping is exact in
    float32, so the recovered integers match bit-for-bit."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_mulaw_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    samples = [
        (F.round(F.element_at("feature", j + 1) * 65536, 0) - 32768)
        .cast("int")
        .alias(f"s{j}")
        for j in range(multimodal.FEATURE_DIM)
    ]
    return meta.select("media_id", "n_frames", *samples)


def _sql_multimodal_mulaw() -> str:
    cols = []
    for j in range(multimodal.FEATURE_DIM):
        u = f"(255 - ((s + {j}) % 256))"
        mag = f"((({u} % 16) * 8 + 132) << (({u} // 16) % 8)) - 132"
        val = f"CASE WHEN {u} >= 128 THEN -({mag}) ELSE ({mag}) END"
        cols.append(
            f"CAST(CASE WHEN {j} < n THEN {val} ELSE -32768 END AS INTEGER)"
            f" AS s{j}"
        )
    body = ",\n  ".join(cols)
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 100 AS n, doc_id % 256 AS s
  FROM documents
)
SELECT media_id,
  CAST(n AS INTEGER) AS n_frames,
  {body}
FROM pre
"""


def q_multimodal_alaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 A-law decode end-to-end: format-6 WAVs generated from
    doc_id, each companded byte expanded through the integer A-law curve
    (fake=False); the oracle recomputes the expanded 16-bit samples from
    doc_id arithmetic — the (x+32768)/65536 feature mapping is exact in
    float32, so the recovered integers match bit-for-bit."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_alaw_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    samples = [
        (F.round(F.element_at("feature", j + 1) * 65536, 0) - 32768)
        .cast("int")
        .alias(f"s{j}")
        for j in range(multimodal.FEATURE_DIM)
    ]
    return meta.select("media_id", "n_frames", *samples)


def _sql_multimodal_alaw() -> str:
    """A-law expansion in portable integer SQL: a = code XOR 0x55,
    seg = bits 4-6, mantissa = low nibble; seg 0 -> mant*16+8, else
    (mant*16+264) * 2^(seg-1); sign bit SET means positive (the inverse
    of mu-law)."""
    cols = []
    for j in range(multimodal.FEATURE_DIM):
        a = f"xor((s + {j}) % 256, 85)"
        mag = (
            f"(CASE WHEN ({a} // 16) % 8 = 0 THEN ({a} % 16) * 16 + 8"
            f" ELSE (({a} % 16) * 16 + 264)"
            f" * CAST(power(2, ({a} // 16) % 8 - 1) AS BIGINT) END)"
        )
        val = f"CASE WHEN {a} >= 128 THEN {mag} ELSE -{mag} END"
        cols.append(
            f"CAST(CASE WHEN {j} < n THEN {val} ELSE -32768 END AS INTEGER)"
            f" AS s{j}"
        )
    body = ",\n  ".join(cols)
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 100 AS n, doc_id % 256 AS s
  FROM documents
)
SELECT media_id,
  CAST(n AS INTEGER) AS n_frames,
  {body}
FROM pre
"""


def q_multimodal_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IMA-ADPCM decode end-to-end: format-0x11 WAVs generated from
    doc_id (triangle wave, block_align=5 => 3 samples/block), the full
    nibble state machine runs in the Arrow UDF (fake=False). The query
    exposes the frame count plus the three block-HEADER samples inside
    FEATURE_DIM (indices 0,3,6) — exact source values the oracle
    recomputes from doc_id arithmetic, so any block-walk/slicing/header
    bug goes red; the nibble-decoded in-between samples are pinned
    sample-exact in pytest against the encoder reconstruction."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_adpcm_from_documents(docs)
    meta = multimodal.extract_media_metadata(media, fake=False)
    samples = [
        (F.round(F.element_at("feature", j + 1) * 65536, 0) - 32768)
        .cast("int")
        .alias(f"s{j}")
        for j in (0, 3, 6)
    ]
    return meta.select("media_id", "n_frames", *samples)


def _sql_multimodal_adpcm() -> str:
    """Block-header samples of the ADPCM fixture: sample j of doc with
    seed s is the triangle wave t=(s+j)%510, v = t<255 ? t : 510-t,
    value (v-128)*257 clamped at -32768 (the encoder's header clamp)."""
    cols = []
    for j in (0, 3, 6):
        t = f"(s + {j}) % 510"
        v = f"(CASE WHEN {t} < 255 THEN {t} ELSE 510 - {t} END)"
        val = f"greatest(-32768, ({v} - 128) * 257)"
        cols.append(
            f"CAST(CASE WHEN {j} < n THEN {val} ELSE -32768 END AS INTEGER)"
            f" AS s{j}"
        )
    body = ",\n  ".join(cols)
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 100 AS n, doc_id % 256 AS s
  FROM documents
)
SELECT media_id,
  CAST(n AS INTEGER) AS n_frames,
  {body}
FROM pre
"""


def _sql_multimodal_wav() -> str:
    px = ",\n  ".join(
        f"CAST(CASE WHEN {j} < n THEN (s + {j}) % 256 ELSE 0 END AS INTEGER)"
        f" AS px{j}"
        for j in range(multimodal.FEATURE_DIM)
    )
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 100 AS n, doc_id % 256 AS s
  FROM documents
)
SELECT media_id,
  CAST(44 + n AS BIGINT) AS n_bytes,
  CAST(n AS INTEGER) AS n_frames,
  {px}
FROM pre
"""


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-delta audio fingerprint over REAL 8-bit-PCM WAV decode: 8
    equal-share band sums, cross-multiplied energy-rise bits; the
    oracle recomputes every band from the synthetic sample function
    (s+i)%256."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_wav_from_documents(docs)
    return multimodal.audio_fingerprint(media)


def _sql_audio_fingerprint() -> str:
    return """
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 100 AS n, doc_id % 256 AS s
  FROM documents
),
smp AS (
  SELECT media_id, n, (u.i * 8) // n AS band, (s + u.i) % 256 AS v
  FROM pre, unnest(range(0, n)) AS u(i)
),
bands AS (
  SELECT media_id, n, band, CAST(SUM(v) AS BIGINT) AS bsum,
         COUNT(*) AS bcnt
  FROM smp GROUP BY 1, 2, 3
),
d AS (
  SELECT media_id, n, band, bsum, bcnt,
         lag(bsum) OVER w AS psum, lag(bcnt) OVER w AS pcnt
  FROM bands WINDOW w AS (PARTITION BY media_id ORDER BY band)
)
SELECT media_id,
  CAST(MAX(n) AS BIGINT) AS n_samples,
  CAST(SUM(bsum) AS BIGINT) AS s_total,
  CAST(COALESCE(SUM(CASE WHEN psum IS NOT NULL
    AND bsum * pcnt > psum * bcnt THEN (1 << (band - 1)) END), 0)
    AS INTEGER) AS fp
FROM d GROUP BY media_id
"""


def q_audio_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed mean-square loudness over the REAL 8-bit-PCM WAV decode:
    32-sample frames, integer sum-of-squares DIV count, earliest
    loudest frame wins; oracle replays the synthetic sample function."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_wav_from_documents(docs)
    return multimodal.audio_loudness(media)


def _sql_audio_loudness() -> str:
    return """
WITH pre AS (
  SELECT doc_id AS media_id, 1 + doc_id % 100 AS n, doc_id % 256 AS s
  FROM documents
),
smp AS (
  SELECT media_id, n, u.i // 32 AS f,
         ((s + u.i) % 256) * ((s + u.i) % 256) AS v2
  FROM pre, unnest(range(0, n)) AS u(i)
),
fr AS (
  SELECT media_id, MAX(n) AS n, f,
         CAST(SUM(v2) AS BIGINT) AS ssq, COUNT(*) AS cnt
  FROM smp GROUP BY 1, 3
)
SELECT media_id,
  CAST(MAX(n) AS BIGINT) AS n_samples,
  CAST(SUM(ssq) AS BIGINT) AS ssq_total,
  CAST(COUNT(*) AS BIGINT) AS n_frames,
  CAST(-(max({'m': ssq // cnt, 'nf': -f})).nf AS BIGINT) AS peak_frame,
  CAST((max({'m': ssq // cnt, 'nf': -f})).m AS BIGINT) AS peak_ms
FROM fr GROUP BY media_id
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize end-to-end: the nearest-neighbor kernel reads actual BMP
    pixel rows and re-emits a valid BMP at half dimensions; the oracle
    recomputes the output header arithmetic from doc_id."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_bmp_from_documents(docs)
    resized = multimodal.resize_images(media, target_w=None, target_h=None)
    return resized.select("media_id", "width", "height", "n_bytes")


SQL_MULTIMODAL_RESIZE = """
WITH pre AS (
  SELECT doc_id AS media_id,
         greatest(1, (1 + doc_id % 64) // 2) AS w,
         greatest(1, (1 + doc_id % 48) // 2) AS h
  FROM documents
)
SELECT media_id,
  CAST(w AS INTEGER) AS width,
  CAST(h AS INTEGER) AS height,
  CAST(54 + ((w*3 + 3)//4)*4 * h AS BIGINT) AS n_bytes
FROM pre
"""


def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(
        multimodal.media_from_documents(docs), every_n=10, fake=True
    )
    return frames.select("media_id", "frame_idx", "frame_sha")


def _sql_frame_samples() -> str:
    """The stub video decode is deterministic (sha256-derived), so the
    frame stream is SQL-reproducible: n_frames from byte 4 of the payload
    sha, frame hashes over payload || ascii(frame_idx)."""
    b = _byte_from_sha_sql
    return f"""
WITH pre AS (
  SELECT doc_id AS media_id, text, sha256(text) AS content_sha
  FROM documents WHERE doc_id % 3 = 2
),
nf AS (SELECT media_id, text, 1 + {b('content_sha', 4)} % 120 AS n_frames FROM pre)
SELECT media_id, CAST(idx AS INTEGER) AS frame_idx,
       sha256(text || CAST(idx AS VARCHAR)) AS frame_sha
FROM nf, unnest(range(0, n_frames, 10)) AS u(idx)
"""


# ------------------------------------------------------------- link graph

#: anchor-word pool for the planted outlink markup (shared with the SQL
#: twin — change together).
_LINK_WORDS = ("spark", "crawl", "index", "rank", "graph", "merge", "shard")


def _lw(expr):
    return F.element_at(
        F.array(*[F.lit(w) for w in _LINK_WORDS]),
        (expr % len(_LINK_WORDS) + 1).cast("int"),
    )


def _link_planted(docs: DataFrame) -> DataFrame:
    """Deterministic outlink markup appended to every doc (twin:
    _LINKDOCS_CTE): two <a href> links whose targets/anchors derive from
    doc_id arithmetic, plus a 'home' link to the hub src0.example on
    every 4th doc — a heavy-tailed in-link distribution so PageRank has
    real skew to rank and the extractor does real regex work."""
    d = F.col("doc_id")
    a1 = F.concat(
        F.lit(' <a href="https://src'),
        ((d * 7) % 20).cast("string"),
        F.lit(".example/page"),
        (d % 50).cast("string"),
        F.lit('">'),
        _lw(d),
        F.lit(" "),
        _lw(d + 3),
        F.lit("</a>"),
    )
    a2 = F.concat(
        F.lit(' <a href="https://src'),
        ((d * 13 + 5) % 20).cast("string"),
        F.lit(".example/page"),
        ((d * 3) % 50).cast("string"),
        F.lit('">'),
        _lw(d + 1),
        F.lit(" guide</a>"),
    )
    hub = F.when(
        d % 4 == 0, F.lit(' <a href="https://src0.example/">home</a>')
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id", "source", F.concat(F.col("text"), a1, a2, hub).alias("text")
    )


def _sql_lw(e: str) -> str:
    cases = " ".join(f"WHEN {i} THEN '{w}'" for i, w in enumerate(_LINK_WORDS))
    return f"CASE CAST(({e}) % {len(_LINK_WORDS)} AS INTEGER) {cases} END"


def _links_cte() -> str:
    """linkdocs (planted markup) -> links (extracted) -> edges (domain
    graph) — the shared prefix of every link-graph oracle."""
    return f"""
linkdocs AS (
  SELECT doc_id, source,
    text
    || ' <a href="https://src' || CAST((doc_id * 7) % 20 AS VARCHAR)
    || '.example/page' || CAST(doc_id % 50 AS VARCHAR) || '">'
    || {_sql_lw("doc_id")} || ' ' || {_sql_lw("doc_id + 3")} || '</a>'
    || ' <a href="https://src' || CAST((doc_id * 13 + 5) % 20 AS VARCHAR)
    || '.example/page' || CAST((doc_id * 3) % 50 AS VARCHAR) || '">'
    || {_sql_lw("doc_id + 1")} || ' guide</a>'
    || CASE WHEN doc_id % 4 = 0
            THEN ' <a href="https://src0.example/">home</a>' ELSE '' END AS text
  FROM documents
),
links AS (
  SELECT doc_id, source || '.example' AS src_host,
         unnest(regexp_extract_all(text, '{graph.LINK_RE}', 1)) AS dst_host,
         unnest(regexp_extract_all(text, '{graph.LINK_RE}', 2)) AS anchor
  FROM linkdocs
),
edges AS (
  SELECT src_host, dst_host, COUNT(*) AS n_links FROM links GROUP BY 1, 2
)"""


def q_outlink_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-grain weighted link graph from extracted page outlinks."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.link_graph(graph.extract_links(docs))


def _sql_outlink_graph() -> str:
    return f"""
WITH {_links_cte()}
SELECT src_host, dst_host, n_links FROM edges
"""


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank over the planted domain graph —
    the iterative-algorithm exemplar: checkpointed iterate, pure
    integer updates, bit-identical to the oracle's unrolled recursion."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.pagerank(graph.link_graph(graph.extract_links(docs)))


def _sql_domain_pagerank(
    iters: int = graph.PR_ITERS,
    scale: int = graph.PR_SCALE,
    d: int = graph.PR_DAMPING_PCT,
) -> str:
    # the Spark loop unrolled as pr0..pr{iters} CTEs: `//` (floor) and
    # Spark's `div` (truncation) agree because every operand is >= 0
    base = (100 - d) * scale // 100
    prs = []
    for i in range(iters):
        prs.append(
            f""",
pr{i + 1} AS (
  SELECT n.host, CAST({base} + COALESCE(c.s, 0) AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst_host AS host,
           CAST(SUM((p.rank * e.n_links * {d}) // (o.n_out * 100)) AS BIGINT) AS s
    FROM pr{i} p JOIN edges e ON e.src_host = p.host
                 JOIN outdeg o ON o.host = e.src_host
    GROUP BY 1
  ) c ON c.host = n.host
)"""
        )
    return f"""
WITH {_links_cte()},
nodes AS (
  SELECT src_host AS host FROM edges UNION SELECT dst_host FROM edges
),
outdeg AS (
  SELECT src_host AS host, CAST(SUM(n_links) AS BIGINT) AS n_out
  FROM edges GROUP BY 1
),
pr0 AS (SELECT host, CAST({scale} AS BIGINT) AS rank FROM nodes){"".join(prs)}
SELECT p.host, CAST(COALESCE(o.n_out, 0) AS BIGINT) AS n_out,
       p.rank AS rank_scaled
FROM pr{iters} p LEFT JOIN outdeg o ON o.host = p.host
"""


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords: integer PageRank over the adjacent-word
    co-occurrence graph (filtered lowercase-alpha >= 3 chars, hapax
    edges dropped), top-30 by (rank desc, word)."""
    return graph.textrank_keywords(_read(spark, sf_dir, "documents"))


def _sql_textrank_keywords(
    k: int = 30,
    iters: int = graph.PR_ITERS,
    scale: int = graph.PR_SCALE,
    d: int = graph.PR_DAMPING_PCT,
) -> str:
    # word-graph edges + the _sql_domain_pagerank unrolled-CTE pattern
    base = (100 - d) * scale // 100
    prs = []
    for i in range(iters):
        prs.append(
            f""",
pr{i + 1} AS (
  SELECT n.host, CAST({base} + COALESCE(c.s, 0) AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst_host AS host,
           CAST(SUM((p.rank * e.n_links * {d}) // (o.n_out * 100)) AS BIGINT) AS s
    FROM pr{i} p JOIN edges e ON e.src_host = p.host
                 JOIN outdeg o ON o.host = e.src_host
    GROUP BY 1
  ) c ON c.host = n.host
)"""
        )
    return f"""
WITH filt AS (
  SELECT list_filter({_TOKS}, x -> regexp_full_match(x, '[a-z]{{3,}}'))
           AS f
  FROM documents WHERE text IS NOT NULL
),
pr_pairs AS (
  SELECT LEAST(f[i], f[i + 1]) AS a, GREATEST(f[i], f[i + 1]) AS b
  FROM (SELECT f, unnest(generate_series(1, len(f) - 1)) AS i
        FROM filt WHERE len(f) >= 2)
  WHERE f[i] <> f[i + 1]
),
ec AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_links
  FROM pr_pairs GROUP BY 1, 2 HAVING COUNT(*) >= {graph.TEXTRANK_MIN_COOC}
),
edges AS (
  SELECT a AS src_host, b AS dst_host, n_links FROM ec
  UNION ALL SELECT b, a, n_links FROM ec
),
nodes AS (
  SELECT src_host AS host FROM edges UNION SELECT dst_host FROM edges
),
outdeg AS (
  SELECT src_host AS host, CAST(SUM(n_links) AS BIGINT) AS n_out
  FROM edges GROUP BY 1
),
pr0 AS (SELECT host, CAST({scale} AS BIGINT) AS rank FROM nodes){"".join(prs)},
ranked AS (
  SELECT p.host, CAST(COALESCE(o.n_out, 0) AS BIGINT) AS n_out,
         p.rank AS rank_scaled,
         ROW_NUMBER() OVER (ORDER BY p.rank DESC, p.host ASC) AS rank
  FROM pr{iters} p LEFT JOIN outdeg o ON o.host = p.host
)
SELECT CAST(rank AS BIGINT) AS rank, host AS word, n_out, rank_scaled
FROM ranked WHERE rank <= {k}
"""


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the planted domain graph:
    hub-capped wedge join, integer aa_micro = sum 1e12 DIV
    floor(ln(deg)*1e6), non-adjacent pairs with >= 2 common
    neighbors."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.link_prediction(
        graph.link_graph(graph.extract_links(docs))
    )


def _sql_link_prediction(
    deg_cap: int = graph.LP_DEG_CAP, min_common: int = graph.LP_MIN_COMMON
) -> str:
    return f"""
WITH {_links_cte()},
e0 AS (SELECT src_host, dst_host FROM edges
       WHERE src_host <> dst_host),
sym AS (
  SELECT DISTINCT src_host AS s, dst_host AS t FROM e0
  UNION SELECT DISTINCT dst_host, src_host FROM e0
),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
mid AS (
  SELECT sym.s AS w, sym.t AS u,
         1000000000000 // CAST(floor(ln(CAST(d.deg AS DOUBLE)) * 1000000)
                              AS BIGINT) AS term
  FROM sym JOIN deg d ON d.s = sym.s
  WHERE d.deg <= {deg_cap} AND d.deg >= 2
),
wedges AS (
  SELECT a.u AS host_a, b.u AS host_b, a.term
  FROM mid a JOIN mid b ON a.w = b.w AND a.u < b.u
),
scored AS (
  SELECT host_a, host_b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(term) AS BIGINT) AS aa_micro
  FROM wedges GROUP BY 1, 2
)
SELECT sc.* FROM scored sc
LEFT JOIN sym ON sym.s = sc.host_a AND sym.t = sc.host_b
WHERE sym.s IS NULL AND sc.n_common >= {min_common}
"""


def q_domain_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer TrustRank over the planted domain graph:
    PageRank propagation with teleport restricted to a deterministic
    md5-ordered seed set — the crawl spam-mass signal (high PageRank,
    low TrustRank = spam suspect)."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.trustrank(graph.link_graph(graph.extract_links(docs)))


def _sql_domain_trustrank(
    n_seeds: int = graph.TRUST_SEEDS,
    iters: int = graph.PR_ITERS,
    scale: int = graph.PR_SCALE,
    d: int = graph.PR_DAMPING_PCT,
) -> str:
    # the Spark loop unrolled as tr0..tr{iters} CTEs (the
    # _sql_domain_pagerank pattern); the seed indicator gates both the
    # initial mass and the per-round teleport term
    base = (100 - d) * scale // 100
    trs = []
    for i in range(iters):
        trs.append(
            f""",
tr{i + 1} AS (
  SELECT n.host,
         CAST(n.is_seed * {base} + COALESCE(c.s, 0) AS BIGINT) AS rank
  FROM nodes2 n LEFT JOIN (
    SELECT e.dst_host AS host,
           CAST(SUM((p.rank * e.n_links * {d}) // (o.n_out * 100)) AS BIGINT) AS s
    FROM tr{i} p JOIN edges e ON e.src_host = p.host
                 JOIN outdeg o ON o.host = e.src_host
    GROUP BY 1
  ) c ON c.host = n.host
)"""
        )
    return f"""
WITH {_links_cte()},
nodes AS (
  SELECT src_host AS host FROM edges UNION SELECT dst_host FROM edges
),
seeds AS (SELECT host FROM nodes ORDER BY md5(host) LIMIT {n_seeds}),
nodes2 AS (
  SELECT host,
         CAST(host IN (SELECT host FROM seeds) AS INTEGER) AS is_seed
  FROM nodes
),
outdeg AS (
  SELECT src_host AS host, CAST(SUM(n_links) AS BIGINT) AS n_out
  FROM edges GROUP BY 1
),
tr0 AS (
  SELECT host, CAST(is_seed * {scale} AS BIGINT) AS rank FROM nodes2
){"".join(trs)}
SELECT p.host, n.is_seed,
       CAST(COALESCE(o.n_out, 0) AS BIGINT) AS n_out,
       p.rank AS rank_scaled
FROM tr{iters} p
JOIN nodes2 n ON n.host = p.host
LEFT JOIN outdeg o ON o.host = p.host
"""


def q_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-seed prioritization — the composition a crawler uses to rank
    which hosts deserve recrawl budget: per-domain PageRank authority
    joined with the domain's model-based quality keep-rate, priority =
    rank_scaled * n_keep div n_docs (integer; authority weighted by the
    fraction of the host's docs the classifier keeps). The link graph
    runs over the planted markup; quality over the RAW text, so markup
    never leaks into the quality signal. Docs the classifier cannot
    score (no tokens) count as not-keep on both engines."""
    raw = _read(spark, sf_dir, "documents")
    docs = _link_planted(raw)
    pr = graph.pagerank(graph.link_graph(graph.extract_links(docs)))
    scored = textstats.quality_classifier(raw, textstats.classifier_weights(spark))
    host_docs = raw.select(
        F.concat(F.col("source"), F.lit(".example")).alias("host"), "doc_id"
    )
    stats = (
        host_docs.join(scored.select("doc_id", "label"), "doc_id", "left")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_if(F.col("label") == "keep").cast("long").alias("n_keep"),
        )
    )
    return (
        pr.select("host", "rank_scaled")
        .join(stats, "host", "left")
        .select(
            "host",
            "rank_scaled",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("n_keep", F.lit(0)).cast("long").alias("n_keep"),
            F.expr(
                "rank_scaled * coalesce(n_keep, 0)"
                " div greatest(coalesce(n_docs, 0), 1)"
            ).cast("long").alias("priority"),
        )
    )


def _sql_domain_quality() -> str:
    return f"""
WITH pr AS (
  {_sql_domain_pagerank()}
),
toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
),
bucketed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 4)) AS BIGINT)
           % {textstats.CLS_BUCKETS} AS bucket
  FROM toks WHERE token <> ''
),
w AS (
  SELECT CAST(b AS BIGINT) AS bucket,
         (b * {textstats._CLS_MULT}) % 4294967296 % {textstats.CLS_W_MOD}
           - 1000 AS weight
  FROM (SELECT unnest(range({textstats.CLS_BUCKETS})) AS b)
),
sc AS (
  SELECT doc_id, CAST(SUM(weight) AS BIGINT) AS score
  FROM bucketed JOIN w USING (bucket) GROUP BY doc_id
),
hd AS (SELECT source || '.example' AS host, doc_id FROM documents),
st AS (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(CASE WHEN sc.score >= 0 THEN 1 END) AS BIGINT) AS n_keep
  FROM hd LEFT JOIN sc USING (doc_id) GROUP BY host
)
SELECT p.host, p.rank_scaled,
  CAST(COALESCE(st.n_docs, 0) AS BIGINT) AS n_docs,
  CAST(COALESCE(st.n_keep, 0) AS BIGINT) AS n_keep,
  CAST(p.rank_scaled * COALESCE(st.n_keep, 0)
       // GREATEST(COALESCE(st.n_docs, 0), 1) AS BIGINT) AS priority
FROM pr p LEFT JOIN st ON st.host = p.host
"""


def q_domain_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer HITS hubs/authorities over the planted domain graph."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.hits(graph.link_graph(graph.extract_links(docs)))


def _sql_domain_hits(
    iters: int = graph.HITS_ITERS, scale: int = graph.HITS_SCALE
) -> str:
    # the Spark loop unrolled: a{i}/h{i} CTE pairs; divide-first integer
    # normalization (r // greatest(1, max_raw // scale)) matches `div`
    # exactly because every operand is >= 0.
    #
    # NORMALIZATION VIA MAX() OVER (), NOT A SCALAR SUBQUERY: DuckDB
    # inlines CTEs, so `(SELECT MAX(raw) FROM a{i}raw)` would make each
    # unrolled level reference the previous one TWICE — 2^(2*iters)
    # copies of the link-extraction scan (measured: 17 MINUTES at
    # sf0.01). With the window form every CTE is referenced exactly
    # once and the inlined plan stays linear (<1 s). The window max
    # ranges over the nodes-left-join (coalesced zeros included), which
    # equals the Spark side's max over raw rows because every raw >= 0;
    # on an empty raw side both engines fall back to divisor 1.
    steps = []
    prev_h = "h0"
    for i in range(1, iters + 1):
        steps.append(f""",
a{i}raw AS (
  SELECT e.dst_host AS host, CAST(SUM(s.r * e.n_links) AS BIGINT) AS raw
  FROM {prev_h} s JOIN edges e ON e.src_host = s.host GROUP BY 1
),
a{i} AS (
  SELECT host,
         CAST(raw // greatest(1, MAX(raw) OVER () // {scale}) AS BIGINT) AS r
  FROM (
    SELECT n.host, CAST(COALESCE(raw, 0) AS BIGINT) AS raw
    FROM nodes n LEFT JOIN a{i}raw USING (host)
  )
),
h{i}raw AS (
  SELECT e.src_host AS host, CAST(SUM(s.r * e.n_links) AS BIGINT) AS raw
  FROM a{i} s JOIN edges e ON e.dst_host = s.host GROUP BY 1
),
h{i} AS (
  SELECT host,
         CAST(raw // greatest(1, MAX(raw) OVER () // {scale}) AS BIGINT) AS r
  FROM (
    SELECT n.host, CAST(COALESCE(raw, 0) AS BIGINT) AS raw
    FROM nodes n LEFT JOIN h{i}raw USING (host)
  )
)""")
        prev_h = f"h{i}"
    return f"""
WITH {_links_cte()},
nodes AS (
  SELECT src_host AS host FROM edges UNION SELECT dst_host FROM edges
),
h0 AS (SELECT host, CAST({scale} AS BIGINT) AS r FROM nodes){"".join(steps)}
SELECT a.host, a.r AS auth_scaled, h.r AS hub_scaled
FROM a{iters} a JOIN h{iters} h USING (host)
"""


def q_anchor_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top inbound anchor-text tokens per target domain."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.anchor_topk(graph.extract_links(docs), k=3)


def _sql_anchor_text_topk(k: int = 3) -> str:
    return f"""
WITH {_links_cte()},
atoks AS (
  SELECT dst_host,
         unnest(regexp_split_to_array(
           trim(translate(anchor, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                          'abcdefghijklmnopqrstuvwxyz'), ' '),
           '{_SQL_WS}')) AS token
  FROM links
),
c AS (
  SELECT dst_host, token, COUNT(*) AS n_occurrences
  FROM atoks WHERE token <> '' GROUP BY 1, 2
)
SELECT * FROM (
  SELECT dst_host,
         CAST(row_number() OVER (
           PARTITION BY dst_host ORDER BY n_occurrences DESC, token ASC
         ) AS INTEGER) AS rank,
         token, n_occurrences
  FROM c
) WHERE rank <= {k}
"""


# -------------------------------------------------- lexical index / PMI


def _sql_posting_lists(k: int = 3, min_df: int = 2) -> str:
    # the NAIVE per-token window — proving the Spark side's group-limited
    # rank computes exactly the single-window result
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
  WHERE trim(text, ' ') <> ''
),
tf AS (
  SELECT token, doc_id, COUNT(*) AS tf
  FROM tok WHERE token <> '' GROUP BY 1, 2
),
dfq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
  HAVING COUNT(*) >= {min_df}
)
SELECT token, df, rank, doc_id, tf FROM (
  SELECT t.token, d.df, t.doc_id, t.tf,
         CAST(row_number() OVER (
           PARTITION BY t.token ORDER BY t.tf DESC, t.doc_id ASC
         ) AS INTEGER) AS rank
  FROM tf t JOIN dfq d USING (token)
) WHERE rank <= {k}
"""


def _sql_pmi_collocations(k: int = 50, min_count: int = 5) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
unif AS (
  SELECT unnest(words) AS token FROM w
),
uni AS (SELECT token FROM unif WHERE token <> ''),
s AS (
  SELECT unnest(list_transform(range(1, len(words)), i -> words[i])) AS w1,
         unnest(list_transform(range(1, len(words)), i -> words[i+1])) AS w2
  FROM w WHERE len(words) >= 2
),
cu AS (SELECT token, COUNT(*) AS c_tok FROM uni GROUP BY 1),
nu AS (SELECT COUNT(*) AS n_uni FROM uni),
cb AS (
  SELECT w1, w2, COUNT(*) AS c_bigram FROM s GROUP BY 1, 2
  HAVING COUNT(*) >= {min_count}
),
nb AS (SELECT COUNT(*) AS n_bg FROM s),
scored AS (
  SELECT cb.w1, cb.w2, cb.c_bigram,
         CAST(floor((ln(CAST(c_bigram AS DOUBLE))
                     + 2.0 * ln(CAST(n_uni AS DOUBLE))
                     - ln(CAST(n_bg AS DOUBLE))
                     - ln(CAST(c1.c_tok AS DOUBLE))
                     - ln(CAST(c2.c_tok AS DOUBLE))) * 1000000.0)
              AS BIGINT) AS pmi_micro
  FROM cb JOIN cu c1 ON c1.token = cb.w1
          JOIN cu c2 ON c2.token = cb.w2
          CROSS JOIN nu CROSS JOIN nb
)
SELECT CAST(row_number() OVER (
         ORDER BY pmi_micro DESC, w1 ASC, w2 ASC) AS INTEGER) AS rank,
       w1, w2, c_bigram, pmi_micro
FROM scored ORDER BY pmi_micro DESC, w1 ASC, w2 ASC LIMIT {k}
"""


def _sql_llr_collocations(k: int = 50, min_count: int = 5) -> str:
    def xlx(c):
        return (
            f"(CASE WHEN {c} > 0 THEN {c} * CAST(floor(ln(CAST({c} AS"
            f" DOUBLE)) * 1000000.0) AS BIGINT) ELSE 0 END)"
        )

    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
s AS (
  SELECT unnest(list_transform(range(1, len(words)), i -> words[i])) AS w1,
         unnest(list_transform(range(1, len(words)), i -> words[i+1])) AS w2
  FROM w WHERE len(words) >= 2
),
cb AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bigram FROM s GROUP BY 1, 2
  HAVING COUNT(*) >= {min_count}
),
cl AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_left FROM s GROUP BY 1),
cr AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c_right FROM s GROUP BY 1),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bg FROM s),
cells AS (
  SELECT cb.w1, cb.w2, cb.c_bigram,
         cb.c_bigram AS k11,
         cl.c_left - cb.c_bigram AS k12,
         cr.c_right - cb.c_bigram AS k21,
         nb.n_bg - cl.c_left - cr.c_right + cb.c_bigram AS k22,
         cl.c_left AS r1, nb.n_bg - cl.c_left AS r2,
         cr.c_right AS c1, nb.n_bg - cr.c_right AS c2,
         nb.n_bg
  FROM cb JOIN cl ON cl.w1 = cb.w1
          JOIN cr ON cr.w2 = cb.w2
          CROSS JOIN nb
),
scored AS (
  SELECT w1, w2, c_bigram,
         CAST(2 * ({xlx('k11')} + {xlx('k12')} + {xlx('k21')}
                   + {xlx('k22')} + {xlx('n_bg')} - {xlx('r1')}
                   - {xlx('r2')} - {xlx('c1')} - {xlx('c2')})
              AS BIGINT) AS llr_micro
  FROM cells
)
SELECT CAST(row_number() OVER (
         ORDER BY llr_micro DESC, w1 ASC, w2 ASC) AS INTEGER) AS rank,
       w1, w2, c_bigram, llr_micro
FROM scored ORDER BY llr_micro DESC, w1 ASC, w2 ASC LIMIT {k}
"""


def _sql_skipgram_counts(
    window: int = 3, k: int = 50, min_count: int = 5
) -> str:
    streams = []
    for o in range(1, window + 1):
        streams.append(f"""
  SELECT least(p.a, p.b) AS a, greatest(p.a, p.b) AS b FROM (
    SELECT unnest(list_transform(range(1, len(words) + 1 - {o}),
                  i -> {{'a': words[i], 'b': words[i+{o}]}})) AS p
    FROM w WHERE len(words) >= {o + 1}
  )""")
    body = "\n  UNION ALL\n".join(streams)
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
bg AS (
{body}
),
cnt AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_cooc
  FROM bg WHERE a <> '' AND b <> ''
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_count}
)
SELECT CAST(row_number() OVER (ORDER BY n_cooc DESC, a ASC, b ASC)
       AS INTEGER) AS rank,
       a AS w_a, b AS w_b, n_cooc
FROM cnt ORDER BY n_cooc DESC, a ASC, b ASC LIMIT {k}
"""


def _sql_ngram_novelty(max_n: int = 3) -> str:
    parts = []
    for n in range(1, max_n + 1):
        slots = " || ' ' || ".join(
            f"words[i+{j}]" for j in range(n)
        )
        parts.append(f"""
SELECT {n} AS n, t.n_test_grams, u.n_unseen,
       u.n_unseen * 10000 // greatest(t.n_test_grams, 1)
         AS novelty_bp
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test_grams
  FROM (
    SELECT unnest(list_transform(range(1, len(words) + 2 - {n}),
                  i -> {slots})) AS gram
    FROM w WHERE NOT train AND len(words) >= {n}
  ) WHERE gram <> ''
) t CROSS JOIN (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_unseen
  FROM (
    SELECT unnest(list_transform(range(1, len(words) + 2 - {n}),
                  i -> {slots})) AS gram
    FROM w WHERE NOT train AND len(words) >= {n}
  ) te
  WHERE gram <> '' AND NOT EXISTS (
    SELECT 1 FROM (
      SELECT DISTINCT unnest(list_transform(
               range(1, len(words) + 2 - {n}), i -> {slots})) AS gram
      FROM w WHERE train AND len(words) >= {n}
    ) tr WHERE tr.gram = te.gram
  )
) u""")
    body = "\nUNION ALL\n".join(parts)
    return f"""
WITH w AS (
  SELECT doc_id % 2 = 0 AS train, {_TOKS} AS words
  FROM documents WHERE trim(text, ' ') <> ''
)
{body}
"""


def _sql_nb_lang_holdout() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, lang, {_TOKS} AS words
  FROM documents WHERE trim(text, ' ') <> ''
),
unif AS (
  SELECT doc_id, lang, doc_id % 2 = 0 AS train,
         unnest(words) AS token
  FROM w
),
toks AS (SELECT * FROM unif WHERE token <> ''),
tr AS (SELECT * FROM toks WHERE train),
clt AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tr GROUP BY 1, 2
),
cl AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS c_lang FROM tr GROUP BY 1
),
vocab AS (SELECT DISTINCT token FROM tr),
vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
grid AS (
  SELECT vo.token, cl.lang,
         CAST(floor(ln(CAST(COALESCE(clt.c, 0) + 1 AS DOUBLE)
                       / CAST(cl.c_lang + vs.v AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS ll_micro
  FROM vocab vo CROSS JOIN cl
  LEFT JOIN clt ON clt.lang = cl.lang AND clt.token = vo.token
  CROSS JOIN vs
),
nd AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
),
nt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM nd),
prior AS (
  SELECT lang,
         CAST(floor(ln(CAST(nd.n AS DOUBLE) / CAST(nt.nt AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS prior_micro
  FROM nd CROSS JOIN nt
),
te AS (
  SELECT doc_id, lang AS true_lang, token FROM toks WHERE NOT train
),
sc AS (
  SELECT te.doc_id, te.true_lang, g.lang AS cand_lang,
         CAST(SUM(g.ll_micro) AS BIGINT) + ANY_VALUE(p.prior_micro)
           AS score
  FROM te JOIN grid g ON g.token = te.token
  JOIN prior p ON p.lang = g.lang
  GROUP BY 1, 2, 3
),
pr AS (
  SELECT doc_id, true_lang,
         (max({{'s': score, 'p': cand_lang}})).p AS pred
  FROM sc GROUP BY 1, 2
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(CASE WHEN pred = true_lang THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits
  FROM pr
),
ntest AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test
  FROM documents WHERE doc_id % 2 <> 0
)
SELECT nt.nt AS n_train, ntest.n_test, agg.n_scored, agg.n_hits,
       agg.n_hits * 10000 // greatest(agg.n_scored, 1) AS acc_bp
FROM agg CROSS JOIN ntest CROSS JOIN nt
"""


def q_stump_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-information-gain length split predicting the C4 pass bit:
    bucket histogram + cumulative candidate sweep, integer xlx
    entropy, smallest winning threshold."""
    docs = _read(spark, sf_dir, "documents")
    labeled = textstats.c4_quality_flags(
        _c4_planted(docs), badwords=C4_PROBE
    ).join(
        docs.select(
            "doc_id",
            F.length(F.coalesce(F.col("text"), F.lit(""))).alias(
                "value"
            ),
        ),
        "doc_id",
    ).select("doc_id", "value", F.col("pass").alias("label"))
    return textstats.stump_finder(labeled)


def _sql_stump_finder(bucket: int = 64) -> str:
    def xlx(c):
        return (
            f"(CASE WHEN {c} > 0 THEN {c} * CAST(floor(ln(CAST({c} AS"
            f" DOUBLE)) * 1000000.0) AS BIGINT) ELSE 0 END)"
        )

    return f"""
WITH lab AS (
  SELECT c4.doc_id, length(COALESCE(d.text, '')) AS value, c4."pass"
    AS label
  FROM ({_sql_c4_quality()}) c4 JOIN documents d USING (doc_id)
),
hist AS (
  SELECT CAST(value AS BIGINT) // {bucket} AS b,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos
  FROM lab GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(n_pos) AS BIGINT)
    AS tp
  FROM hist
),
cum AS (
  SELECT b + 1 AS split_bucket,
         CAST(SUM(n) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS ln_,
         CAST(SUM(n_pos) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS lp
  FROM hist
),
cand AS (
  SELECT c.split_bucket, c.ln_ AS n_left, c.lp AS n_left_pos,
         t.tn - c.ln_ AS n_right, t.tp - c.lp AS n_right_pos
  FROM cum c CROSS JOIN tot t
  WHERE c.ln_ < t.tn
),
scored AS (
  SELECT *,
         {xlx('n_left_pos')} + {xlx('(n_left - n_left_pos)')}
           - {xlx('n_left')}
           + {xlx('n_right_pos')} + {xlx('(n_right - n_right_pos)')}
           - {xlx('n_right')} AS score_micro
  FROM cand
),
win AS (
  SELECT min({{'ns': -score_micro, 'sb': split_bucket, 'nl': n_left,
               'nlp': n_left_pos, 'nr': n_right, 'nrp': n_right_pos}})
           AS w
  FROM scored
)
SELECT CAST((w).sb AS BIGINT) AS split_bucket,
       CAST((w).nl AS BIGINT) AS n_left,
       CAST((w).nlp AS BIGINT) AS n_left_pos,
       CAST((w).nr AS BIGINT) AS n_right,
       CAST((w).nrp AS BIGINT) AS n_right_pos,
       CAST(-(w).ns AS BIGINT) AS score_micro
FROM win
"""


def _sql_prefix_completions(plen: int = 3, min_count: int = 5) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
unif AS (SELECT unnest(words) AS token FROM w),
uni AS (SELECT token FROM unif WHERE length(token) >= {plen}),
cu AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY 1),
pp AS (
  SELECT substr(token, 1, {plen}) AS prefix,
         max({{'n': n, 't': token}}) AS top,
         CAST(SUM(n) AS BIGINT) AS tot
  FROM cu GROUP BY 1
)
SELECT prefix, (top).t AS top_token, CAST((top).n AS BIGINT) AS top_n,
       tot AS n_prefix_tokens,
       (top).n * 10000 // tot AS dominance_bp
FROM pp WHERE tot >= {min_count}
"""


def _sql_bigram_holdout() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
s AS (
  SELECT doc_id % 2 = 0 AS train,
         unnest(list_transform(range(1, len(words)), i -> words[i])) AS w1,
         unnest(list_transform(range(1, len(words)), i -> words[i+1])) AS w2
  FROM w WHERE len(words) >= 2
),
tr AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE train GROUP BY 1, 2
),
pred AS (
  SELECT w1, (max({{'n': n, 'p': w2}})).p AS pred FROM tr GROUP BY 1
),
te AS (SELECT w1, w2 FROM s WHERE NOT train),
sc AS (
  SELECT te.w2, p.pred FROM te LEFT JOIN pred p ON p.w1 = te.w1
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_covered,
         CAST(SUM(CASE WHEN pred IS NOT NULL AND pred = w2
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM sc
)
SELECT n_pairs, n_covered, n_hits,
       n_covered * 10000 // greatest(n_pairs, 1) AS coverage_bp,
       n_hits * 10000 // greatest(n_covered, 1) AS acc_bp
FROM agg
"""


def _sql_token_burstiness(k: int = 64) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
unif AS (SELECT doc_id, unnest(words) AS token FROM w),
uni AS (SELECT doc_id, token FROM unif WHERE token <> ''),
pd AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM uni GROUP BY 1, 2
),
mom AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM pd GROUP BY 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT token, df, s1,
         (n_docs * s2 - s1 * s1) * 10000 // (n_docs * s1) AS fano_bp
  FROM mom CROSS JOIN n
)
SELECT CAST(row_number() OVER (ORDER BY s1 DESC, token ASC)
       AS INTEGER) AS rank,
       token, df, s1, fano_bp
FROM scored ORDER BY s1 DESC, token ASC LIMIT {k}
"""


def _sql_good_turing(max_r: int = 10) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
unif AS (SELECT unnest(words) AS token FROM w),
uni AS (SELECT token FROM unif WHERE token <> ''),
cu AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
nr AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_types FROM cu GROUP BY 1),
cur AS (SELECT c, n_types FROM nr ORDER BY c ASC LIMIT {max_r})
SELECT cur.c AS r, cur.n_types,
       CAST(COALESCE(nxt.n_types, 0) AS BIGINT) AS n_types_next,
       ((cur.c + 1) * COALESCE(nxt.n_types, 0) * 1000000) // cur.n_types
         AS r_star_ppm
FROM cur LEFT JOIN nr nxt ON nxt.c = cur.c + 1
"""


def _sql_zipf_fit(k: int = 256) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
unif AS (SELECT unnest(words) AS token FROM w),
uni AS (SELECT token FROM unif WHERE token <> ''),
cu AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_tok FROM uni GROUP BY 1),
head AS (
  SELECT c_tok,
         CAST(row_number() OVER (ORDER BY c_tok DESC, token ASC)
              AS BIGINT) AS rank
  FROM cu ORDER BY c_tok DESC, token ASC LIMIT {k}
),
xy AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000.0) AS BIGINT) AS x,
         CAST(floor(ln(CAST(c_tok AS DOUBLE)) * 1000.0) AS BIGINT) AS y,
         c_tok
  FROM head
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(MAX(c_tok) AS BIGINT) AS c_top
  FROM xy
),
m2 AS (
  SELECT n AS n_terms, c_top, sx, sy, n,
         n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
  FROM mom
),
sl AS (
  SELECT n_terms, c_top, sx, sy, n,
         CASE WHEN num < 0 THEN -((abs(num) * 1000) // den)
              ELSE (num * 1000) // den END AS slope_milli
  FROM m2
)
SELECT n_terms, c_top, slope_milli,
       CASE WHEN sy * 1000 - slope_milli * sx < 0
            THEN -(abs(sy * 1000 - slope_milli * sx) // (n * 1000))
            ELSE (sy * 1000 - slope_milli * sx) // (n * 1000) END
         AS intercept_milli
FROM sl
"""


def _sql_continuation_counts(min_count: int = 5) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents WHERE trim(text, ' ') <> ''
),
unif AS (SELECT unnest(words) AS token FROM w),
uni AS (SELECT token FROM unif WHERE token <> ''),
s AS (
  SELECT unnest(list_transform(range(1, len(words)), i -> words[i])) AS w1,
         unnest(list_transform(range(1, len(words)), i -> words[i+1])) AS w2
  FROM w WHERE len(words) >= 2
),
cu AS (
  SELECT token, COUNT(*) AS c_unigram FROM uni GROUP BY 1
  HAVING COUNT(*) >= {min_count}
),
p AS (SELECT w2 AS token, COUNT(DISTINCT w1) AS n_prec_types FROM s GROUP BY 1),
q AS (SELECT w1 AS token, COUNT(DISTINCT w2) AS n_succ_types FROM s GROUP BY 1)
SELECT cu.token, cu.c_unigram,
       CAST(COALESCE(p.n_prec_types, 0) AS BIGINT) AS n_prec_types,
       CAST(COALESCE(q.n_succ_types, 0) AS BIGINT) AS n_succ_types
FROM cu LEFT JOIN p USING (token) LEFT JOIN q USING (token)
"""


def q_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-shape pricing summary over lineitem: per-row floored cents,
    one map-side-combined aggregate, data-derived shipdate cut."""
    from weblog_pipeline.ops.relational import pricing_rollup

    return pricing_rollup(_read(spark, sf_dir, "lineitem"))


SQL_PRICING_ROLLUP = """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(epoch(date_trunc('day', l_shipdate)) AS BIGINT) // 86400
           AS sday,
         CAST(floor(l_quantity * 100) AS BIGINT) AS q_c,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS base_c,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS disc_c,
         CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                    * 100) AS BIGINT) AS charge_c,
         CAST(floor(l_discount * 10000) AS BIGINT) AS disc_bp
  FROM lineitem
),
mx AS (SELECT MAX(sday) AS dmax FROM li),
agg AS (
  SELECT l_returnflag, l_linestatus,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(q_c) AS BIGINT) AS sum_qty_c,
         CAST(SUM(base_c) AS BIGINT) AS sum_base_c,
         CAST(SUM(disc_c) AS BIGINT) AS sum_disc_c,
         CAST(SUM(charge_c) AS BIGINT) AS sum_charge_c,
         CAST(SUM(disc_bp) AS BIGINT) AS s_disc_bp
  FROM li CROSS JOIN mx
  WHERE sday <= dmax - 7
  GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, n_rows, sum_qty_c, sum_base_c,
       sum_disc_c, sum_charge_c,
       sum_qty_c // n_rows AS avg_qty_c,
       sum_base_c // n_rows AS avg_price_c,
       s_disc_bp // n_rows AS avg_disc_bp
FROM agg
"""


def q_shipping_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shape unshipped-revenue top-10: broadcast segment dim,
    orderkey-shuffled fact join, epoch-day midpoint pivot."""
    from weblog_pipeline.ops.relational import shipping_topk

    return shipping_topk(
        _read(spark, sf_dir, "customer"),
        _read(spark, sf_dir, "orders"),
        _read(spark, sf_dir, "lineitem"),
    )


SQL_SHIPPING_TOPK = """
WITH od AS (
  SELECT o_orderkey, o_custkey,
         CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) // 86400
           AS oday
  FROM orders
),
pvt AS (SELECT (MIN(oday) + MAX(oday)) // 2 AS mid FROM od),
o AS (
  SELECT od.o_orderkey, od.oday AS order_day, p.mid
  FROM od CROSS JOIN pvt p
  JOIN customer c ON c.c_custkey = od.o_custkey
  WHERE od.oday < p.mid AND c.c_mktsegment = 'BUILDING'
),
li AS (
  SELECT l_orderkey,
         CAST(epoch(date_trunc('day', l_shipdate)) AS BIGINT) // 86400
           AS sday,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS rev_c
  FROM lineitem
),
rev AS (
  SELECT li.l_orderkey, o.order_day,
         CAST(SUM(li.rev_c) AS BIGINT) AS revenue_c
  FROM o JOIN li ON li.l_orderkey = o.o_orderkey
  WHERE li.sday > o.mid
  GROUP BY 1, 2
)
SELECT l_orderkey, order_day, revenue_c
FROM (
  SELECT *, row_number() OVER (ORDER BY revenue_c DESC, l_orderkey ASC)
            AS r
  FROM rev
)
WHERE r <= 10
"""


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script census per source (literal BMP ranges — no
    engine-versioned \\p{Script} tables) + mixed-script doc counts."""
    return textstats.script_mix(_read(spark, sf_dir, "documents"))


def _sql_script_mix() -> str:
    from weblog_pipeline.ops.textstats import SCRIPT_RANGES

    cols = ",\n         ".join(
        f"CAST(len(regexp_extract_all(text, '[{rng}]')) AS BIGINT)"
        f" AS n_{name}"
        for name, rng in SCRIPT_RANGES
    )
    sums = ",\n       ".join(
        f"CAST(SUM(n_{name}) AS BIGINT) AS n_{name}"
        for name, _ in SCRIPT_RANGES
    )
    return f"""
WITH per AS (
  SELECT source,
         {cols}
  FROM documents WHERE text IS NOT NULL
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       {sums},
       CAST(COUNT(*) FILTER (WHERE n_latin > 0
                             AND n_cyrillic + n_greek + n_cjk > 0)
            AS BIGINT) AS n_mixed
FROM per GROUP BY 1
"""


def q_segment_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim enrichment rollup: events broadcast-joined to the
    customer dimension on user key, per (segment, type) counts +
    floored cents."""
    from weblog_pipeline.ops.relational import segment_activity

    return segment_activity(
        _read(spark, sf_dir, "events"), _read(spark, sf_dir, "customer")
    )


SQL_SEGMENT_ACTIVITY = """
SELECT c.c_mktsegment, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
         AS sum_value_c
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
"""


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shape star join: region->nation->customer folded into one
    broadcast dim BEFORE touching facts; the only shuffle is
    orders ⋈ lineitem."""
    from weblog_pipeline.ops.relational import regional_revenue

    return regional_revenue(
        _read(spark, sf_dir, "region"),
        _read(spark, sf_dir, "nation"),
        _read(spark, sf_dir, "customer"),
        _read(spark, sf_dir, "orders"),
        _read(spark, sf_dir, "lineitem"),
    )


SQL_REGIONAL_REVENUE = """
SELECT r.r_name, n.n_name,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_c
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
"""


def q_order_fulfilment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shape EXISTS census: per order priority, orders with any
    lineitem shipped >= 30 days after the order date — one orderkey
    equi-join + distinct, never a per-order subquery."""
    from weblog_pipeline.ops.relational import order_fulfilment

    return order_fulfilment(
        _read(spark, sf_dir, "orders"), _read(spark, sf_dir, "lineitem")
    )


SQL_ORDER_FULFILMENT = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) // 86400
           AS oday
  FROM orders
),
li AS (
  SELECT l_orderkey,
         CAST(epoch(date_trunc('day', l_shipdate)) AS BIGINT) // 86400
           AS sday
  FROM lineitem
),
late AS (
  SELECT o.o_orderpriority,
         CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_late
  FROM o JOIN li ON li.l_orderkey = o.o_orderkey
  WHERE li.sday >= o.oday + 30
  GROUP BY 1
),
total AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM o GROUP BY 1
)
SELECT t.o_orderpriority, t.n_orders,
       CAST(COALESCE(l.n_late, 0) AS BIGINT) AS n_late
FROM total t LEFT JOIN late l USING (o_orderpriority)
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shape correlated scalar: revenue from lineitems below 1/5 of
    their part's average quantity — per-part stats broadcast back onto
    the brand-filtered fact, exact integer cross-multiply cut."""
    from weblog_pipeline.ops.relational import small_qty_revenue

    return small_qty_revenue(
        _read(spark, sf_dir, "part"), _read(spark, sf_dir, "lineitem")
    )


SQL_SMALL_QTY_REVENUE = """
WITH li AS (
  SELECT p.p_brand, l.l_partkey,
         CAST(floor(l.l_quantity * 100) AS BIGINT) AS q_c,
         CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS base_c
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand IN ('Brand#4', 'Brand#2')
),
st AS (
  SELECT l_partkey, CAST(SUM(q_c) AS BIGINT) AS sum_q,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM li GROUP BY 1
)
SELECT li.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_small,
       CAST(SUM(li.base_c) AS BIGINT) AS revenue_c
FROM li JOIN st ON st.l_partkey = li.l_partkey
WHERE li.q_c * 5 * st.n < st.sum_q
GROUP BY 1
"""


def q_supplier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-shape anti-join census: distinct suppliers per (brand, size)
    for small parts, excluding negative-balance suppliers via a
    broadcast ANTI join."""
    from weblog_pipeline.ops.relational import supplier_census

    return supplier_census(
        _read(spark, sf_dir, "part"),
        _read(spark, sf_dir, "supplier"),
        _read(spark, sf_dir, "lineitem"),
    )


SQL_SUPPLIER_CENSUS = """
SELECT p.p_brand, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size <= 10
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2
"""


def q_heavy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shape HAVING join-back: orders whose total quantity exceeds
    3x the average order quantity (data-derived broadcast scalar),
    joined back to orders + the customer dimension."""
    from weblog_pipeline.ops.relational import heavy_orders

    return heavy_orders(
        _read(spark, sf_dir, "customer"),
        _read(spark, sf_dir, "orders"),
        _read(spark, sf_dir, "lineitem"),
    )


SQL_HEAVY_ORDERS = """
WITH s AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS sum_qty_c
  FROM lineitem GROUP BY 1
),
thr AS (SELECT 3 * (SUM(sum_qty_c) // COUNT(*)) AS t FROM s)
SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment,
       CAST(epoch(date_trunc('day', o.o_orderdate)) AS BIGINT) // 86400
         AS order_day,
       CAST(floor(o.o_totalprice * 100) AS BIGINT) AS total_c,
       s.sum_qty_c
FROM s CROSS JOIN thr
JOIN orders o ON o.o_orderkey = s.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE s.sum_qty_c > thr.t
"""


def q_posting_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-gap varint index-size audit per term (df >= 16): segmented
    gap windows (in-segment + segment-summary boundary pass), LEB128
    boolean byte ladder, ratio vs raw 8-byte ids."""
    return textstats.posting_compression(_read(spark, sf_dir, "documents"))


def _sql_posting_compression(
    min_df: int = 16, seg: int = 1024
) -> str:
    def vb(g):
        return (
            f"(1 + CAST({g} >= 128 AS BIGINT)"
            f" + CAST({g} >= 16384 AS BIGINT)"
            f" + CAST({g} >= 2097152 AS BIGINT)"
            f" + CAST({g} >= 268435456 AS BIGINT))"
        )

    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
),
p AS (
  SELECT DISTINCT token, doc_id, doc_id // {seg} AS sg
  FROM tok WHERE token <> ''
),
g AS (
  SELECT token, sg, doc_id,
         doc_id - lag(doc_id) OVER (PARTITION BY token, sg
                                    ORDER BY doc_id) AS gap
  FROM p
),
ss AS (
  SELECT token, sg, COUNT(*) AS n, MIN(doc_id) AS mn, MAX(doc_id) AS mx,
         COALESCE(SUM(CASE WHEN gap IS NOT NULL THEN {vb('gap')} END), 0)
           AS b_in
  FROM g GROUP BY 1, 2
),
bd AS (
  SELECT token, n, b_in,
         COALESCE(mn - lag(mx) OVER (PARTITION BY token ORDER BY sg),
                  mn + 1) AS bgap
  FROM ss
),
agg AS (
  SELECT token, CAST(SUM(n) AS BIGINT) AS df,
         CAST(SUM(b_in) + SUM({vb('bgap')}) AS BIGINT) AS bytes_varint
  FROM bd GROUP BY 1
)
SELECT token, df, bytes_varint, df * 8 AS bytes_raw,
       bytes_varint * 10000 // (df * 8) AS ratio_bp
FROM agg WHERE df >= {min_df}
"""


#: standing percolator queries (fixture vocabulary is DB-themed text —
#: the bm25 probe-term rationale): (id, must, should, min_should)
PERCOLATE_QUERIES = (
    ("q_join_hash", ("join", "hash"), (), 0),
    ("q_spark_ctx", ("spark",), ("query", "index", "data"), 1),
    ("q_any_two", (), ("hash", "join", "spark", "index"), 2),
)


def q_query_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolator: 3 standing boolean queries (must + min-should set
    algebra on the distinct token set) matched against every doc in the
    scan stage — zero shuffles."""
    return textstats.query_matches(
        _read(spark, sf_dir, "documents"), PERCOLATE_QUERIES
    )


def _sql_query_matches() -> str:
    def lst(terms):
        if not terms:
            return "CAST([] AS VARCHAR[])"
        return "[" + ", ".join(f"'{t}'" for t in terms) + "]"

    selects = []
    for qid, must, should, min_should in PERCOLATE_QUERIES:
        selects.append(
            f"""SELECT '{qid}' AS query_id, doc_id,
       CAST(len(list_intersect({lst(should)}, t)) AS BIGINT)
         AS n_should_hit
FROM tokset
WHERE list_has_all(t, {lst(must)})
  AND len(list_intersect({lst(should)}, t)) >= {min_should}"""
        )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH tokset AS (
  SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents
)
{body}
"""


def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM over the corpus: integer
    fixed-point (D=0.75), one floor per division, ppm probabilities for
    bigrams seen >= 3 times."""
    return textstats.kneser_ney_bigram(_read(spark, sf_dir, "documents"))


def _sql_kneser_ney_bigram(min_bigram: int = textstats.KN_MIN_BIGRAM) -> str:
    d, s = textstats.KN_DISCOUNT_X100, textstats.KN_SCALE
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents
  WHERE trim(text, ' ') <> ''
),
bg AS (
  SELECT unnest(list_transform(range(1, len(words)), i -> words[i])) AS w1,
         unnest(list_transform(range(1, len(words)), i -> words[i+1])) AS w2
  FROM w WHERE len(words) >= 2
),
cbg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bigram FROM bg GROUP BY 1, 2
),
cw1 AS (SELECT w1, CAST(SUM(c_bigram) AS BIGINT) AS c_left
        FROM cbg GROUP BY 1),
succ AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n_succ
         FROM cbg GROUP BY 1),
prec AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_prec
         FROM cbg GROUP BY 1),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM cbg)
SELECT cbg.w1, cbg.w2, cbg.c_bigram,
       greatest(100 * c_bigram - {d}, 0) * {s} // (100 * c_left)
         AS term1_ppm,
       n_prec * {s} // n_types AS pcont_ppm,
       greatest(100 * c_bigram - {d}, 0) * {s} // (100 * c_left)
       + ({d} * n_succ * {s} // (100 * c_left))
         * (n_prec * {s} // n_types) // {s} AS p_ppm
FROM cbg JOIN cw1 USING (w1) JOIN succ USING (w1) JOIN prec USING (w2)
CROSS JOIN nt
WHERE c_bigram >= {min_bigram}
"""


#: catalog probe list: the published Gopher set plus 'a' — the synthetic
#: corpus vocabulary contains only {'the', 'a'} of common English
#: stopwords, so the published 8 alone would fail EVERY fixture doc and
#: the rule bit would carry no signal (op default stays the published set)
GOPHER_PROBE = ("the", "a", "be", "to", "of", "and", "that", "with")


def _sql_gopher_quality() -> str:
    stop = ", ".join(f"'{w}'" for w in GOPHER_PROBE)
    return f"""
WITH pre AS (
  SELECT doc_id,
    CAST(CASE WHEN trim(text, ' ') = '' THEN 0 ELSE len({_TOKS}) END
         AS BIGINT) AS n_words,
    CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines,
    CAST(CASE WHEN trim(text, ' ') = '' THEN 0
         ELSE list_sum(list_transform({_TOKS}, t -> length(t))) END
         AS BIGINT) AS sum_word_len,
    CAST((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) // 3
         AS BIGINT) AS n_symbols,
    CAST(len(list_filter(str_split(text, chr(10)),
         l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet_lines,
    CAST(len(list_filter(str_split(text, chr(10)),
         l -> l LIKE '%...')) AS BIGINT) AS n_ellipsis_lines,
    CAST(len(list_filter({_TOKS}, t -> regexp_matches(t, '[a-z]')))
         AS BIGINT) AS n_alpha_words,
    CAST(len(list_intersect({_TOKS}, [{stop}])) AS BIGINT) AS n_stop_types
  FROM documents
),
f AS (
  SELECT pre.*,
    CAST(
      (CASE WHEN n_words >= {textstats.GOPHER_MIN_WORDS}
             AND n_words <= {textstats.GOPHER_MAX_WORDS} THEN 1 ELSE 0 END)
    + (CASE WHEN n_words > 0 AND 3 * n_words <= sum_word_len
             AND sum_word_len <= 10 * n_words THEN 2 ELSE 0 END)
    + (CASE WHEN 10 * n_symbols <= n_words THEN 4 ELSE 0 END)
    + (CASE WHEN 10 * n_bullet_lines <= 9 * n_lines THEN 8 ELSE 0 END)
    + (CASE WHEN 10 * n_ellipsis_lines <= 3 * n_lines THEN 16 ELSE 0 END)
    + (CASE WHEN n_words > 0 AND 5 * n_alpha_words >= 4 * n_words
       THEN 32 ELSE 0 END)
    + (CASE WHEN n_stop_types >= {textstats.GOPHER_MIN_STOP}
       THEN 64 ELSE 0 END)
    AS BIGINT) AS flags
  FROM pre
)
SELECT f.*, flags = 127 AS "pass" FROM f
"""



# -- C4 cleaning rules (Raffel et al. 2020) --------------------------------

#: badword probe for the C4 blocklist bit: 'spark' is real fixture vocab
#: (bit exercises FALSE), 'xqzzy' never occurs (bit exercises TRUE).
C4_PROBE = ("spark", "xqzzy")


def _c4_planted(docs: DataFrame) -> DataFrame:
    """Deterministic line markup appended to every doc (twin: the c4docs
    CTE in _sql_c4_quality): the raw fixture has no newlines, braces,
    terminal punctuation, or boilerplate phrases, so every C4 rule would
    be a constant bit. The planted lines exercise each rule both ways —
    a kept sentence line (terminal mark rotates ./!/none by doc_id%3), a
    multi-sentence line on even ids, an always-dropped short line, a
    javascript line (%4), a policy-phrase line (%11), a lorem-ipsum tail
    (%7) and a curly-brace tail (%5)."""
    d = F.col("doc_id")
    term = (
        F.when(d % 3 == 0, F.lit("."))
        .when(d % 3 == 1, F.lit("!"))
        .otherwise(F.lit(""))
    )
    parts = [
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("\nPlanted mix one two three four five"),
        term,
        F.when(
            d % 2 == 0, F.lit("\nNo. Go. So. Run on sentences here today.")
        ).otherwise(F.lit("")),
        F.lit("\ntiny."),
        F.when(
            d % 4 == 0,
            F.lit("\nthis line mentions javascript inside it today."),
        ).otherwise(F.lit("")),
        F.when(
            d % 11 == 0,
            F.lit("\nOur privacy policy applies to everything here."),
        ).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("\nsome Lorem Ipsum filler")).otherwise(
            F.lit("")
        ),
        F.when(d % 5 == 0, F.lit("\ncurly { brace")).otherwise(F.lit("")),
    ]
    return docs.select("doc_id", F.concat(*parts).alias("text"))


def q_c4_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-rule line/document filter over the planted-line corpus."""
    docs = _c4_planted(_read(spark, sf_dir, "documents"))
    return textstats.c4_quality_flags(docs, badwords=C4_PROBE)


def _sql_c4_quality(
    min_line_words: int = textstats.C4_MIN_LINE_WORDS,
    min_sentences: int = textstats.C4_MIN_SENTENCES,
) -> str:
    bad = ", ".join(f"'{w}'" for w in C4_PROBE)
    lt = "trim(l, ' ')"
    low_lt = (
        f"translate({lt}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
        " 'abcdefghijklmnopqrstuvwxyz')"
    )
    drop_phrases = " AND ".join(
        f"NOT contains({low_lt}, '{p}')"
        for p in ("javascript",) + textstats.C4_POLICY_PHRASES
    )
    return f"""
WITH c4docs AS (
  SELECT doc_id,
    COALESCE(text, '')
    || chr(10) || 'Planted mix one two three four five'
    || (CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN '.' WHEN 1 THEN '!' ELSE '' END)
    || (CASE WHEN doc_id % 2 = 0
        THEN chr(10) || 'No. Go. So. Run on sentences here today.' ELSE '' END)
    || chr(10) || 'tiny.'
    || (CASE WHEN doc_id % 4 = 0
        THEN chr(10) || 'this line mentions javascript inside it today.' ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0
        THEN chr(10) || 'Our privacy policy applies to everything here.' ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0
        THEN chr(10) || 'some Lorem Ipsum filler' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0
        THEN chr(10) || 'curly {{ brace' ELSE '' END)
    AS text
  FROM documents
),
k AS (
  SELECT doc_id, text,
    str_split(text, chr(10)) AS lines,
    list_filter(str_split(text, chr(10)), l ->
      right({lt}, 1) IN ('.', '!', '?', '"')
      AND {lt} <> ''
      AND len(regexp_split_to_array({lt}, '{_SQL_WS}')) >= {min_line_words}
      AND {drop_phrases}
    ) AS kept
  FROM c4docs
),
c AS (
  SELECT doc_id,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(kept) AS BIGINT) AS n_kept_lines,
    CAST(COALESCE(list_sum(list_transform(kept, l ->
      3 * length(l) - length(replace(l, '.', ''))
      - length(replace(l, '!', '')) - length(replace(l, '?', ''))
    )), 0) AS BIGINT) AS n_sentences,
    (NOT contains({_SQL_LOWER_TEXT}, 'lorem ipsum')) AS b0,
    (NOT contains(text, '{{')) AS b1,
    (len(list_intersect({_TOKS}, [{bad}])) = 0) AS b3
  FROM k
),
f AS (
  SELECT doc_id, n_lines, n_kept_lines, n_sentences,
    CAST((CASE WHEN b0 THEN 1 ELSE 0 END)
       + (CASE WHEN b1 THEN 2 ELSE 0 END)
       + (CASE WHEN n_sentences >= {min_sentences} THEN 4 ELSE 0 END)
       + (CASE WHEN b3 THEN 8 ELSE 0 END) AS BIGINT) AS flags
  FROM c
)
SELECT f.*, flags = 15 AS "pass" FROM f
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token heavy hitters audited against exact counts."""
    return textstats.cms_heavy_hitters(_read(spark, sf_dir, "documents"))


def _sql_heavy_hitters(
    k: int = 20,
    depth: int = textstats.CMS_DEPTH,
    width: int = textstats.CMS_WIDTH,
) -> str:
    js = ", ".join(str(j) for j in range(depth))
    bucket = (
        "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {t}), 1, 4))"
        f" AS BIGINT) % {width}"
    )
    return f"""
WITH tok AS (
  SELECT t.token FROM (
    SELECT unnest({_TOKS}) AS token FROM documents WHERE trim(text, ' ') <> ''
  ) t WHERE t.token <> ''
),
cells AS (
  SELECT j.j AS rix, {bucket.format(j="j.j", t="token")} AS bucket,
         COUNT(*) AS cnt
  FROM tok, (SELECT unnest([{js}]) AS j) j
  GROUP BY 1, 2
),
exact AS (SELECT token, COUNT(*) AS exact_n FROM tok GROUP BY 1),
top AS (
  SELECT CAST(row_number() OVER (ORDER BY exact_n DESC, token ASC) AS INTEGER) AS rank,
         token, exact_n
  FROM exact ORDER BY exact_n DESC, token ASC LIMIT {k}
),
est AS (
  SELECT t.rank, t.token, t.exact_n, MIN(c.cnt) AS cms_est
  FROM top t, (SELECT unnest([{js}]) AS j) j
  JOIN cells c
    ON c.rix = j.j AND c.bucket = {bucket.format(j="j.j", t="t.token")}
  GROUP BY 1, 2, 3
),
tot AS (SELECT COUNT(*) AS n_total FROM tok)
SELECT rank, token, exact_n, cms_est,
       cms_est - exact_n AS overest,
       (cms_est - exact_n) * {width} <= 3 * tot.n_total AS within_bound
FROM est, tot
"""


# -- Bloom-filter ingest pre-filter ----------------------------------------

#: small grid on the fixture (vs the 4x8192 production default) so the
#: driver rows exercise BOTH bloom outcomes: ~333 existing hashes in a
#: 1024-cell/2-hash grid set ~48% of cells -> genuine false positives
#: alongside clean misses, while every true member still hits (no false
#: negatives by construction).
BLOOM_Q_DEPTH = 2
BLOOM_Q_WIDTH = 1024


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership pre-filter on the ingest_increment split: the
    increment mixes genuinely-new docs (doc_id % 3 = 0) with re-keyed
    copies of existing content (% 3 = 1, +1M ids — must ALL bloom_hit
    with present=true); per-doc is_fp tracks the false-positive rate."""
    docs = _read(spark, sf_dir, "documents")
    existing = docs.where(F.col("doc_id") % 3 != 0)
    incoming = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text"
    ).unionByName(
        docs.where(F.col("doc_id") % 3 == 1).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    return corpus.bloom_prefilter(
        existing, incoming, depth=BLOOM_Q_DEPTH, width=BLOOM_Q_WIDTH
    )


def _sql_bloom_prefilter(
    depth: int = BLOOM_Q_DEPTH, width: int = BLOOM_Q_WIDTH
) -> str:
    js = ", ".join(str(j) for j in range(depth))
    cell = (
        "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {h}), 1, 4))"
        f" AS BIGINT) % {width}"
    )
    return f"""
WITH h AS (
  SELECT doc_id, md5({_SQL_NORM_TEXT}) AS content_hash FROM documents
),
existing AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % 3 <> 0),
incoming AS (
  SELECT doc_id, content_hash FROM h WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, content_hash FROM h WHERE doc_id % 3 = 1
),
bits AS (
  SELECT DISTINCT j.j, {cell.format(j="j.j", h="e.content_hash")} AS cell
  FROM existing e, (SELECT unnest([{js}]) AS j) j
),
probes AS (
  SELECT i.doc_id, i.content_hash, j.j AS j,
         {cell.format(j="j.j", h="i.content_hash")} AS cell
  FROM incoming i, (SELECT unnest([{js}]) AS j) j
),
hit AS (
  SELECT p.doc_id, p.content_hash, COUNT(b.j) = {depth} AS bloom_hit
  FROM probes p
  LEFT JOIN bits b ON b.j = p.j AND b.cell = p.cell
  GROUP BY 1, 2
)
SELECT t.doc_id, t.bloom_hit,
       e.content_hash IS NOT NULL AS present,
       (t.bloom_hit AND e.content_hash IS NULL) AS is_fp
FROM hit t LEFT JOIN existing e ON e.content_hash = t.content_hash
"""


# -- BPE tokenizer training -------------------------------------------------


def _sql_bpe_train(n_merges: int = 6) -> str:
    """Unrolled twin of textstats.bpe_train: each merge round is a
    MATERIALIZED CTE pair (pick max pair / apply it), so DuckDB's CTE
    inlining stays linear in rounds instead of 2^rounds (the same
    guard as the HITS oracle). Empty p{k} CTEs (pair supply dry)
    contribute no rows and leave w{k} = w{k-1} via the LEFT JOIN."""
    return _sql_bpe_merge_chain(
        "regexp_extract_all(t.word, '.')",
        f"regexp_matches(t.word, '{textstats.BPE_WORD_RE}')",
        n_merges,
    )


def _sql_bpe_train_bytes(n_merges: int = 6) -> str:
    """Unrolled twin of textstats.bpe_train_bytes: identical merge-round
    CTE chain, but w0 symbols are the hex-encoded UTF-8 bytes of every
    non-empty whitespace token — no word gate, zero OOV."""
    return _sql_bpe_merge_chain(
        "regexp_extract_all(hex(encode(t.word)), '..')",
        "t.word <> ''",
        n_merges,
    )


def _sql_bpe_merge_chain(sym_list: str, word_gate: str, n_merges: int) -> str:
    sep = "chr(31)"
    b = f"({sep} || {sep})"
    ctes = [
        f"""w0 AS MATERIALIZED (
  SELECT {b} || array_to_string({sym_list}, {b}) || {b} AS syms,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOKS}) AS word FROM documents) t
  WHERE {word_gate}
  GROUP BY 1
)"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT lhs, rhs, s FROM (
    SELECT a[i] AS lhs, a[i+1] AS rhs, CAST(SUM(cnt) AS BIGINT) AS s
    FROM (SELECT list_filter(str_split(syms, {b}), x -> x <> '') AS a, cnt
          FROM w{k - 1}) t,
         LATERAL (SELECT unnest(range(1, len(a))) AS i) ix
    GROUP BY 1, 2)
  ORDER BY s DESC, lhs ASC, rhs ASC LIMIT 1
)"""
        )
        ctes.append(
            f"""w{k} AS MATERIALIZED (
  SELECT CASE WHEN p.lhs IS NULL THEN w.syms
         ELSE replace(w.syms, {sep} || p.lhs || {b} || p.rhs || {sep},
                      {sep} || p.lhs || p.rhs || {sep}) END AS syms, w.cnt
  FROM w{k - 1} w LEFT JOIN p{k} p ON TRUE
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS step, lhs, rhs, s AS pair_count FROM p{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


#: fixed merge table for the bpe_apply catalog query — common-English
#: merges so the chain fires on any fixture (and harmlessly no-ops on
#: vocab it misses); applied in order, exactly as bpe_train emits them.
BPE_APPLY_MERGES = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"), ("o", "n")
)


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: pieces-per-word and
    chars-per-piece in basis points over the fixed bpe_apply merge
    table — integer DIV on language-grain sums."""
    return textstats.token_fertility(
        _read(spark, sf_dir, "documents"), BPE_APPLY_MERGES
    )


def _sql_token_fertility() -> str:
    return f"""
WITH enc AS ({_sql_bpe_apply()}),
j AS (
  SELECT e.doc_id, e.n_words, e.n_chars, e.n_pieces, d.lang
  FROM enc e JOIN documents d USING (doc_id)
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       CAST(SUM(n_pieces) AS BIGINT) * 10000
         // greatest(CAST(SUM(n_words) AS BIGINT), 1) AS fertility_bp,
       CAST(SUM(n_chars) AS BIGINT) * 10000
         // greatest(CAST(SUM(n_pieces) AS BIGINT), 1) AS chars_per_piece_bp
FROM j GROUP BY 1
"""


def _sql_bpe_apply(merges: tuple = BPE_APPLY_MERGES) -> str:
    sep = "chr(31)"
    b = f"({sep} || {sep})"
    enc = f"{b} || array_to_string(regexp_extract_all(x, '.'), {b}) || {b}"
    chain = enc
    for lhs, rhs in merges:
        chain = (
            f"replace({chain}, {sep} || '{lhs}' || {b} || '{rhs}' || {sep},"
            f" {sep} || '{lhs}{rhs}' || {sep})"
        )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter({_TOKS}, x -> regexp_matches(x, '{textstats.BPE_WORD_RE}')) AS w
  FROM documents
),
s AS (SELECT doc_id, w, list_transform(w, x -> {chain}) AS sf FROM w)
SELECT doc_id,
  CAST(len(w) AS BIGINT) AS n_words,
  CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS n_chars,
  CAST(COALESCE(list_sum(list_transform(sf, x ->
    len(list_filter(str_split(x, {b}), y -> y <> '')))), 0) AS BIGINT) AS n_pieces
FROM s
"""


def _sql_vocab_growth(n_buckets: int = textstats.VOCAB_GROWTH_BUCKETS) -> str:
    return f"""
WITH m AS (SELECT MAX(doc_id) + 1 AS m, COUNT(*) AS n FROM documents),
tok AS (
  SELECT d.doc_id, t.token
  FROM documents d, LATERAL (SELECT unnest({_TOKS}) AS token) t
  WHERE t.token <> ''
),
fs AS (
  SELECT token, MIN((doc_id * {n_buckets}) // m.m) AS first_bucket
  FROM tok, m GROUP BY 1
),
nb AS (SELECT first_bucket AS b, CAST(COUNT(*) AS BIGINT) AS new_tokens FROM fs GROUP BY 1),
db AS (
  SELECT (doc_id * {n_buckets}) // m.m AS b, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents, m GROUP BY 1
)
SELECT CAST(db.b + 1 AS BIGINT) AS bucket,
  CAST(SUM(db.n_docs) OVER (ORDER BY db.b) AS BIGINT) AS n_docs_cum,
  CAST(SUM(COALESCE(nb.new_tokens, 0)) OVER (ORDER BY db.b) AS BIGINT) AS vocab_cum,
  CAST(COALESCE(nb.new_tokens, 0) AS BIGINT) AS new_tokens
FROM db LEFT JOIN nb ON nb.b = db.b
"""


def q_daily_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily quota verdicts over the events stream (k=3): the
    batch twin of streaming.keyed_quota_stateful — seq/allowed must agree
    between the two (pinned by tests/test_streaming.py) AND with the SQL
    oracle here."""
    from weblog_pipeline.aggregate import keyed_quota

    return keyed_quota(_read(spark, sf_dir, "events"), k=3)


SQL_DAILY_QUOTA = """
SELECT event_id, user_id, win_start, seq, seq <= 3 AS allowed
FROM (
  SELECT event_id, user_id,
    CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS win_start,
    CAST(row_number() OVER (
      PARTITION BY user_id, date_trunc('day', ts)
      ORDER BY ts, event_id
    ) AS INTEGER) AS seq
  FROM events
) t
"""


MIXTURE_BUDGET = 1000

SQL_MIXTURE_SAMPLE = f"""
WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
s AS (SELECT source, n_docs,
        CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT) AS s_kilo
      FROM c),
t AS (SELECT CAST(SUM(s_kilo) AS BIGINT) AS total_s FROM s),
q AS (SELECT source, n_docs, ({MIXTURE_BUDGET} * s_kilo) // total_s AS quota FROM s, t)
SELECT d.doc_id, d.source,
  CAST(q.quota // q.n_docs
   + CASE WHEN CAST(('0x' || substr(md5('mx:' || CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
              % q.n_docs < q.quota % q.n_docs
     THEN 1 ELSE 0 END AS BIGINT) AS n_copies
FROM documents d JOIN q USING (source)
"""


def q_domain_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS depth over the planted domain graph — the
    shortest-path member of the graph family."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.bfs_depth(graph.link_graph(graph.extract_links(docs)))


def _sql_domain_reach(
    seeds_k: int = graph.BFS_SEEDS, iters: int = graph.BFS_ITERS
) -> str:
    """Unrolled twin of graph.bfs_depth: one MATERIALIZED CTE pair per
    hop (new frontier / accumulated visited) so CTE inlining stays
    linear; NOT EXISTS (not NOT IN) for the null-robust anti-join."""
    steps = []
    for d in range(1, iters + 1):
        steps.append(
            f""",
n{d} AS MATERIALIZED (
  SELECT DISTINCT e.dst_host AS host
  FROM edges e JOIN f{d - 1} f ON e.src_host = f.host
  WHERE NOT EXISTS (SELECT 1 FROM v{d - 1} v WHERE v.host = e.dst_host)
),
v{d} AS MATERIALIZED (
  SELECT host, depth FROM v{d - 1}
  UNION ALL SELECT host, CAST({d} AS BIGINT) AS depth FROM n{d}
),
f{d} AS (SELECT host FROM n{d})"""
        )
    return f"""
WITH {_links_cte()},
seeds AS MATERIALIZED (
  SELECT src_host AS host FROM (
    SELECT src_host, CAST(SUM(n_links) AS BIGINT) AS w
    FROM edges GROUP BY 1
    ORDER BY w DESC, src_host ASC LIMIT {seeds_k}) t
),
v0 AS MATERIALIZED (SELECT host, CAST(0 AS BIGINT) AS depth FROM seeds),
f0 AS (SELECT host FROM v0){"".join(steps)}
SELECT host, depth FROM v{iters}
"""


def q_cheapest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop integer min-plus cheapest paths over the planted
    domain graph (edge cost 1e6 DIV (1+n_links), bfs_depth's seeds)."""
    docs = _link_planted(_read(spark, sf_dir, "documents"))
    return graph.cheapest_paths(
        graph.link_graph(graph.extract_links(docs))
    )


def _sql_cheapest_paths(
    seeds_k: int = graph.BFS_SEEDS, iters: int = graph.CP_ITERS
) -> str:
    """Unrolled twin of graph.cheapest_paths: one MATERIALIZED distance
    CTE per relaxation round (the trustrank/domain_reach pattern)."""
    steps = []
    for r in range(1, iters + 1):
        steps.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT host, CAST(MIN(dm) AS BIGINT) AS dm FROM (
    SELECT host, dm FROM d{r - 1}
    UNION ALL
    SELECT e.dst_host AS host, d.dm + e.w AS dm
    FROM d{r - 1} d JOIN we e ON e.src_host = d.host
  ) GROUP BY 1
)"""
        )
    return f"""
WITH {_links_cte()},
we AS MATERIALIZED (
  SELECT src_host, dst_host,
         {graph.CP_COST_SCALE} // (1 + n_links) AS w
  FROM edges
),
seeds AS MATERIALIZED (
  SELECT src_host AS host FROM (
    SELECT src_host, CAST(SUM(n_links) AS BIGINT) AS w
    FROM edges GROUP BY 1
    ORDER BY w DESC, src_host ASC LIMIT {seeds_k}) t
),
d0 AS MATERIALIZED (
  SELECT host, CAST(0 AS BIGINT) AS dm FROM seeds
){"".join(steps)}
SELECT host, dm AS dist_micro FROM d{iters}
"""


SQL_HASHED_TF = f"""
SELECT doc_id,
  CAST(('0x' || substr(md5(t.token), 1, 4)) AS BIGINT) % {textstats.HASHTF_BUCKETS} AS bucket,
  CAST(COUNT(*) AS BIGINT) AS tf
FROM (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents WHERE trim(text, ' ') <> ''
) t
WHERE t.token <> ''
GROUP BY 1, 2
"""


def queries() -> dict:
    """name -> callable(spark, sf_dir) -> DataFrame."""
    docs = lambda fn: (lambda spark, sf_dir: fn(_read(spark, sf_dir, "documents")))  # noqa: E731

    def _emb_double(spark, sf_dir):
        # double-cast once: the cosine re-rank must fold in double on both
        # engines (float*float stays float in Spark otherwise)
        return _read(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )

    def ann_bf(spark, sf_dir):
        emb = _emb_double(spark, sf_dir)
        q = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return similarity.brute_force_topk(emb, q, k=5)

    def ann_lsh(spark, sf_dir):
        emb = _emb_double(spark, sf_dir)
        q = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return similarity.lsh_topk(emb, q, k=5, probe_bits=1)

    def ann_ivf(spark, sf_dir):
        emb = _emb_double(spark, sf_dir)
        q = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return similarity.ivf_topk(emb, q, k=5)

    def ann_ivf_refined(spark, sf_dir):
        emb = _emb_double(spark, sf_dir)
        q = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return similarity.ivf_topk_refined(emb, q, k=5, n_iter=1)

    def ann_recall(spark, sf_dir):
        """recall@5 of the approximate ANN variants against brute force —
        the tracked metric that turns a silent bucket/centroid regression
        into a red CORRECTNESS row. Integer counts only (recall in basis
        points via integer division) so the cross-engine hash is exact.

        Both the ground truth and the approximate methods run on the
        1-in-ANN_AUDIT_CORPUS_MOD audit slice (plus the query vectors):
        recall on a uniform sub-corpus estimates full-corpus recall, and
        the brute-force side never scans the full corpus at scale."""
        emb = _emb_double(spark, sf_dir).where(
            (F.col("vec_id") % ANN_AUDIT_CORPUS_MOD == 0)
            | (F.col("vec_id") % 50 == 0)
        )
        q = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        # materialize brute force ONCE: it is the most expensive result set
        # and appears in every method's semi-join + the shared n_true —
        # without this the unioned plan re-executes it per reference
        bf = materialize(
            similarity.brute_force_topk(emb, q, k=5)
            .select("query_id", "neighbor_id")
        )
        n_true = bf.agg(F.count(F.lit(1)).alias("n_true"))
        out = None
        for name, ap_df in (
            ("ivf", similarity.ivf_topk(emb, q, k=5)),
            ("ivf_r", similarity.ivf_topk_refined(emb, q, k=5, n_iter=1)),
            ("lsh", similarity.lsh_topk(emb, q, k=5, probe_bits=1)),
            ("pq", similarity.pq_adc_topk(emb, q, k=5)),
            ("pq_r", similarity.pq_adc_topk(emb, q, k=5, rerank=PQ_RERANK)),
            ("hamming", similarity.hamming_topk_queries(emb, q, k=5)),
        ):
            ap = ap_df.select("query_id", "neighbor_id")
            n_hits = bf.join(ap, ["query_id", "neighbor_id"], "left_semi").agg(
                F.count(F.lit(1)).alias("n_hits")
            )
            row = (
                n_true.crossJoin(n_hits)
                .select(
                    F.lit(name).alias("method"),
                    "n_true",
                    "n_hits",
                    F.expr("n_hits * 10000 div n_true").alias("recall_bp"),
                )
            )
            out = row if out is None else out.unionByName(row)
        return out

    def neardup_emb(spark, sf_dir):
        emb = _read(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        # 0.4 keeps the result non-empty at every driver SF (the candidate
        # pairs are LSH band collisions; the exact filter runs on those only)
        return similarity.cosine_near_dup_pairs(emb, threshold=0.4)

    def q_semantic_dedup(spark, sf_dir):
        return similarity.semantic_dedup(
            _emb_double(spark, sf_dir), threshold=SEMDEDUP_THRESHOLD
        )

    # NOTE on ordering: the driver's correctness gate checks the FIRST 50
    # entries in dict order. Round-6 window = oldest-official-row first:
    #   1. the single-semantic portability canaries (permanent residents:
    #      one driver bit per divergence class, fixture-independent),
    #   2. hashed_tf — added late r5, the ONLY catalog query with no
    #      official row ever,
    #   3. the 30 queries whose newest official row is r3 (everything
    #      else is r4/r5-green; r3/r4 proved local-pass != driver-pass,
    #      so stale rows rotate back in before anything fresh),
    #   4. the oldest r4 greens fill the remaining slots; any query
    #      ADDED in r6 displaces from the END of that fill block so it
    #      gets a first official row without evicting a stale one.
    # After r6: no catalog query's newest official row predates r4.
    return {
        # -- 1. portability canaries (permanent) --
        **_CANARY_QUERIES,
        # -- 2. no official row ever (added late r5) --
        "hashed_tf": docs(textstats.hashed_tf),
        # -- 3. newest official row r3 --
        "span_sessions": q_span_sessions,
        "domain_route_counts": q_domain_route_counts,
        "ingest_increment": q_ingest_increment,
        "bigram_logprob": docs(textstats.bigram_logprob),
        "vocab_topk": docs(lambda d: textstats.vocab_topk(d, k=100)),
        # planted twin ahead of dedup_exact in value: the base fixture
        # has no exact duplicates at sf0.01, so the bare query's row
        # hashes a near-empty result — the twin proves the operator
        "dedup_exact_planted": docs(
            lambda d: dedup.exact_duplicates(_planted_docs(d))
        ),
        "minhash_signatures": docs(dedup.minhash_signatures),
        "filter_include_names": q_filter_include_names,
        "grouped_emission": q_grouped_emission,
        "windowed_sink_counts": q_windowed_sink_counts,
        "parse_quarantine": q_parse_quarantine,
        "sitemap_coverage": q_sitemap_coverage,
        "polite_crawl": q_polite_crawl,
        "cdc_dup_stats": q_cdc_dup_stats,
        "length_histogram": q_length_histogram,
        "url_components": q_url_components,
        "span_rollup": q_span_rollup,
        "lang_length_stats": q_lang_length_stats,
        "label_centroids": q_label_centroids,
        "prototype_confusion": q_prototype_confusion,
        "token_counts": docs(textstats.token_counts),
        "quality_stats": docs(textstats.quality_stats),
        "lang_id": docs(textstats.lang_id),
        "fingerprint": docs(textstats.fingerprint),
        "winnow_fingerprints": docs(textstats.winnow_fingerprints),
        "bpe_pair_counts": docs(lambda d: textstats.bpe_pair_counts(d, k=50)),
        "dedup_stats": q_dedup_stats,
        "lsh_candidate_pairs": docs(dedup.lsh_candidate_pairs),
        "dedup_exact": docs(dedup.exact_duplicates),
        "dedup_pipeline_planted": docs(
            lambda d: dedup.dedup_pipeline(_planted_docs(d))
        ),
        # -- 4. oldest r4 greens / new-in-r6 fill (window ends after these) --
        "e2e_sink_counts": q_e2e_sink_counts,
        "e2e_records": q_e2e_records,
        # new in r6 (first official row this round):
        "semantic_dedup": q_semantic_dedup,
        "bpe_train_bytes": docs(textstats.bpe_train_bytes),
        "multimodal_png_decode": q_multimodal_png_decode,
        "multimodal_gif_decode": q_multimodal_gif_decode,
        "multimodal_jpeg_decode": q_multimodal_jpeg_decode,
        "multimodal_wav_decode": q_multimodal_wav_decode,
        "multimodal_dib_depths_decode": q_multimodal_dib_depths_decode,
        # ---- end of the driver's 50-query window ----
        # -- out-of-window remainder, oldest official row first (r7 queue) --
        # added late r6 (no official row yet): everything from
        # freq_spectrum through daily_anomalies below — FORTY-TWO queries
        # plus the two parity_ canary-grade guards and the 5-method
        # ann_recall refresh. The r7 window is 10 canaries + 2 parity +
        # 38 of these (oldest-added first: freq_spectrum..query_likelihood
        # land, trimmed_mean..hamming_topk and later additions roll to
        # the r8 window). Session-5 additions (cusum_alerts, zone_maps,
        # zorder_bins, km_hazard, rfm_segments, textrank_keywords,
        # shot_boundaries, link_prediction, prf_expansion,
        # kneser_ney_bigram, matryoshka_recall, ...) queue after those
        # for r8/r9, followed by the session-6 additions
        # (order_fulfilment, small_qty_revenue, supplier_census,
        # heavy_orders, llr_collocations, zipf_fit, trending_items,
        # item_similarity, score_calibration, scd2_lookup,
        # disorder_audit, good_turing, benford_audit, kmv_audit,
        # cheapest_paths, media_phash, conversion_latency,
        # lexical_richness, apdex_score, merge_upsert, landing_exit,
        # source_skyline, data_quality_checks, table_profile,
        # snapshot_diff, activity_histogram, schema_drift,
        # token_burstiness, bigram_holdout, audio_loudness,
        # markov_stationary, dedup_savings, burst_census,
        # prefix_completions, stump_finder, nb_lang_holdout,
        # ngram_novelty, hourly_profile, deseasonalized_anomalies,
        # serp_diversity).
        # update test_canaries_lead_the_correctness_window when rotating:
        "freq_spectrum": docs(textstats.freq_spectrum),
        "sentence_stats": docs(textstats.sentence_stats),
        "unicode_nfc": q_unicode_nfc,
        "importance_sample": q_importance_sample,
        "decontaminate_fuzzy": q_decontaminate_fuzzy,
        "char_entropy": docs(textstats.char_entropy),
        "data_split": docs(corpus.data_split),
        "domain_quality": q_domain_quality,
        "funnel_stages": q_funnel_stages,
        "cohort_retention": q_cohort_retention,
        "attribution_last_touch": q_attribution_last_touch,
        "event_transitions": q_event_transitions,
        "value_percentiles": q_value_percentiles,
        "log_templates": q_log_templates,
        "bm25_topk": q_bm25_topk,
        "pq_codes": q_pq_codes,
        "pq_adc_topk": q_pq_adc_topk,
        "pq_adc_refined": q_pq_adc_refined,
        "domain_trustrank": q_domain_trustrank,
        "readability": docs(textstats.readability),
        "drift_psi": q_drift_psi,
        "bot_gap_stats": q_bot_gap_stats,
        "anomaly_days": q_anomaly_days,
        "dau_wau": q_dau_wau,
        "session_paths": q_session_paths,
        "ab_metrics": q_ab_metrics,
        "rrf_fusion": q_rrf_fusion,
        "domain_communities": q_domain_communities,
        "domain_components": q_domain_components,
        "split_leakage": q_split_leakage,
        "hard_negatives": q_hard_negatives,
        "matryoshka_recall": q_matryoshka_recall,
        "knn_label_eval": q_knn_label_eval,
        "token_fertility": q_token_fertility,
        "query_likelihood": q_query_likelihood,
        "trimmed_mean": q_trimmed_mean,
        "passage_fingerprints": q_passage_fingerprints,
        "phrase_search": q_phrase_search,
        "containment_pairs": q_containment_pairs,
        "vocab_js_drift": q_vocab_js_drift,
        "domain_kcore": q_domain_kcore,
        "domain_triangles": q_domain_triangles,
        "item_covisitation": q_item_covisitation,
        "trending_items": q_trending_items,
        "item_similarity": q_item_similarity,
        "score_calibration": q_score_calibration,
        "scd2_lookup": q_scd2_lookup,
        "disorder_audit": q_disorder_audit,
        "benford_audit": q_benford_audit,
        "kmv_audit": q_kmv_audit,
        "cheapest_paths": q_cheapest_paths,
        "conversion_latency": q_conversion_latency,
        "lexical_richness": q_lexical_richness,
        "apdex_score": q_apdex_score,
        "merge_upsert": q_merge_upsert,
        "landing_exit": q_landing_exit,
        "source_skyline": q_source_skyline,
        "data_quality_checks": q_data_quality_checks,
        "table_profile": q_table_profile,
        "snapshot_diff": q_snapshot_diff,
        "activity_histogram": q_activity_histogram,
        "schema_drift": q_schema_drift,
        "markov_stationary": q_markov_stationary,
        "dedup_savings": q_dedup_savings,
        "burst_census": q_burst_census,
        "streak_census": q_streak_census,
        "attribution_linear": q_attribution_linear,
        "error_budget_burn": q_error_budget_burn,
        "srm_check": q_srm_check,
        "hill_tail": q_hill_tail,
        "heaping_audit": q_heaping_audit,
        "user_p95_distribution": q_user_p95_distribution,
        "new_vs_returning": q_new_vs_returning,
        "forecast_baselines": q_forecast_baselines,
        "daily_percentiles": q_daily_percentiles,
        "vocab_coverage": docs(textstats.vocab_coverage),
        "daily_anomalies": q_daily_anomalies,
        "media_ahash": q_media_ahash,
        "media_phash": q_media_phash,
        "audio_loudness": q_audio_loudness,
        "audio_fingerprint": q_audio_fingerprint,
        "encoding_damage": q_encoding_damage,
        "pca_power": q_pca_power,
        "pca_project": q_pca_project,
        "lang_confusion": q_lang_confusion,
        "domain_assortativity": q_domain_assortativity,
        "quota_sample": q_quota_sample,
        "weekday_profile": q_weekday_profile,
        "hamming_topk": q_hamming_topk,
        "traffic_rollup": q_traffic_rollup,
        "shard_assignment": q_shard_assignment,
        "setsim_join": q_setsim_join,
        "typosquat_pairs": q_typosquat_pairs,
        "props_schema_census": q_props_schema_census,
        "cusum_alerts": q_cusum_alerts,
        "engagement_gini": q_engagement_gini,
        "user_entropy": q_user_entropy,
        "bootstrap_ci": q_bootstrap_ci,
        "reciprocity": q_reciprocity,
        "zone_maps": q_zone_maps,
        "zorder_bins": q_zorder_bins,
        "km_hazard": q_km_hazard,
        "rfm_segments": q_rfm_segments,
        "textrank_keywords": q_textrank_keywords,
        "link_prediction": q_link_prediction,
        "prf_expansion": q_prf_expansion,
        "kneser_ney_bigram": q_kneser_ney_bigram,
        "query_matches": q_query_matches,
        "pricing_rollup": q_pricing_rollup,
        "posting_compression": q_posting_compression,
        "segment_activity": q_segment_activity,
        "script_mix": q_script_mix,
        "shipping_topk": q_shipping_topk,
        "regional_revenue": q_regional_revenue,
        "order_fulfilment": q_order_fulfilment,
        "small_qty_revenue": q_small_qty_revenue,
        "supplier_census": q_supplier_census,
        "heavy_orders": q_heavy_orders,
        # fixture-independent parity guards (canary-grade literal
        # oracles; promote right after the canaries in the r7 window):
        "parity_ln_floor": q_parity_ln_floor,
        "parity_epoch_us": q_parity_epoch_us,
        "enrich_kitchen_sink": _events_q(CFG_KITCHEN),
        "decontaminate": q_decontaminate,
        "dedup_lsh_recall": q_dedup_lsh_recall,
        "multimodal_mulaw_decode": q_multimodal_mulaw_decode,
        "multimodal_avi_decode": q_multimodal_avi_decode,
        "avi_frame_samples": q_avi_frame_samples,
        "shot_boundaries": q_shot_boundaries,
        "media_colorstats": q_media_colorstats,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "dedup_lines": q_dedup_lines,
        "tfidf_topk": docs(lambda d: textstats.tfidf_topk(d, k=3)),
        "curate_corpus": q_curate_corpus,
        "perplexity_buckets": q_perplexity_buckets,
        "ann_ivf_refined_topk": ann_ivf_refined,
        "ann_recall": ann_recall,
        "ngram_jaccard": lambda spark, sf_dir: dedup.jaccard_verify(
            _read(spark, sf_dir, "documents"),
            dedup.lsh_candidate_pairs(_read(spark, sf_dir, "documents")),
        ),
        "simhash": docs(lambda d: dedup.simhash(d, bits=32)),
        "dedup_pipeline": docs(dedup.dedup_pipeline),
        "dup_clusters": docs(dedup.duplicate_clusters),
        "latest_per_source": docs(corpus.latest_per_source),
        "stratified_sample": docs(
            lambda d: corpus.stratified_sample(
                d, SAMPLE_RATES, default_rate=SAMPLE_DEFAULT_RATE
            )
        ),
        "clean_corpus": docs(corpus.clean_corpus),
        "dup_ngram_stats": docs(corpus.dup_ngram_stats),
        "ann_cosine_topk": ann_bf,
        "ann_lsh_topk": ann_lsh,
        "ann_ivf_topk": ann_ivf,
        "embedding_neardup": neardup_emb,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_bmp_decode": q_multimodal_bmp_decode,
        "multimodal_resize": q_multimodal_resize,
        "frame_samples": q_frame_samples,
        "enrich_route_default": _events_q(CFG_DEFAULT),
        "attr_mappings_full": _events_q(CFG_MAPPINGS),
        "severity_attribute_parse": _events_q(CFG_SEVATTR),
        "severity_by_event_name_longest": _events_q(CFG_BYNAME),
        "no_span_context": _events_q(CFG_NOCTX),
        "route_counts": q_route_counts,
        "parse_roundtrip": q_parse_roundtrip,
        "warc_roundtrip": q_warc_roundtrip,
        "otlp_roundtrip": q_otlp_roundtrip,
        "charclass_census": q_charclass_census,
        "quality_classifier": q_quality_classifier,
        "pack_sequences": q_pack_sequences,
        "export_manifest": q_export_manifest,
        "cdc_chunks": q_cdc_chunks,
        "otlp_proto_roundtrip": q_otlp_proto_roundtrip,
        "multimodal_alaw_decode": q_multimodal_alaw_decode,
        "multimodal_adpcm_decode": q_multimodal_adpcm_decode,
        "multimodal_dib_avi_decode": q_multimodal_dib_avi_decode,
        "length_quantiles": q_length_quantiles,
        "mixture_weights": q_mixture_weights,
        "token_windows": q_token_windows,
        "cardinality_audit": q_cardinality_audit,
        "cross_neardup": q_cross_neardup,
        "embedding_dim_stats": q_embedding_dim_stats,
        "source_boilerplate": q_source_boilerplate,
        "source_overlap": q_source_overlap,
        "embedding_covariance": q_embedding_covariance,
        "embedding_outliers": q_embedding_outliers,
        "event_key_skew": q_event_key_skew,
        "posting_lists": docs(lambda d: textstats.posting_lists(d, k=3)),
        "pmi_collocations": docs(lambda d: textstats.pmi_collocations(d, k=50)),
        "llr_collocations": docs(
            lambda d: textstats.llr_collocations(d, k=50)
        ),
        "zipf_fit": docs(textstats.zipf_fit),
        "good_turing": docs(textstats.good_turing),
        "token_burstiness": docs(textstats.token_burstiness),
        "bigram_holdout": docs(textstats.bigram_holdout),
        "prefix_completions": docs(textstats.prefix_completions),
        "stump_finder": q_stump_finder,
        "nb_lang_holdout": docs(textstats.nb_lang_holdout),
        "ngram_novelty": docs(textstats.ngram_novelty),
        "skipgram_counts": docs(textstats.skipgram_counts),
        "hourly_profile": q_hourly_profile,
        "deseasonalized_anomalies": q_deseasonalized_anomalies,
        "serp_diversity": q_serp_diversity,
        "continuation_counts": docs(textstats.continuation_counts),
        "outlink_graph": q_outlink_graph,
        "domain_pagerank": q_domain_pagerank,
        "domain_hits": q_domain_hits,
        "anchor_text_topk": q_anchor_text_topk,
        "gopher_quality_flags": docs(
            lambda d: textstats.gopher_quality_flags(d, stopwords=GOPHER_PROBE)
        ),
        "c4_quality_flags": q_c4_quality_flags,
        "heavy_hitters": q_heavy_hitters,
        "bloom_prefilter": q_bloom_prefilter,
        "bpe_train": docs(textstats.bpe_train),
        "bpe_apply": docs(
            lambda d: textstats.bpe_apply(d, BPE_APPLY_MERGES)
        ),
        "vocab_growth": docs(textstats.vocab_growth),
        "daily_quota": q_daily_quota,
        "mixture_sample": docs(
            lambda d: corpus.mixture_sample(d, budget=MIXTURE_BUDGET)
        ),
        "domain_reach": q_domain_reach,
        "html_meta": q_html_meta,
        "robots_decisions": q_robots_decisions,
        "url_normalize": q_url_normalize,
    }


def oracle_sql() -> dict:
    return {
        **_SQL_CANARIES,
        "charclass_census": _sql_charclass_census(),
        "decontaminate": _sql_decontaminate(),
        "dedup_lsh_recall": _sql_dedup_lsh_recall(),
        "semantic_dedup": _sql_semantic_dedup(),
        "enrich_route_default": _events_records_sql(CFG_DEFAULT),
        "enrich_kitchen_sink": _events_records_sql(CFG_KITCHEN),
        "attr_mappings_full": _events_records_sql(CFG_MAPPINGS),
        "severity_attribute_parse": _events_records_sql(CFG_SEVATTR),
        "severity_by_event_name_longest": _events_records_sql(CFG_BYNAME),
        "no_span_context": _events_records_sql(CFG_NOCTX),
        "route_counts": SQL_ROUTE_COUNTS,
        "filter_include_names": SQL_FILTER_INCLUDE,
        "grouped_emission": SQL_GROUPED_EMISSION,
        "windowed_sink_counts": SQL_WINDOWED_SINK_COUNTS,
        "span_sessions": _sql_span_sessions(),
        "parse_roundtrip": SQL_PARSE_ROUNDTRIP,
        "warc_roundtrip": SQL_PARSE_ROUNDTRIP,
        "e2e_sink_counts": _sql_e2e_sink_counts(),
        "e2e_records": _sql_e2e_records(),
        "domain_route_counts": _sql_domain_route_counts(),
        "otlp_roundtrip": _sql_otlp_roundtrip(),
        "otlp_proto_roundtrip": _sql_otlp_roundtrip(),
        "html_meta": _sql_html_meta(),
        "quality_classifier": _sql_quality_classifier(),
        "pack_sequences": _sql_pack_sequences(),
        "export_manifest": _sql_export_manifest(),
        "parse_quarantine": _sql_parse_quarantine(),
        "robots_decisions": _sql_robots_decisions(),
        "url_normalize": _sql_url_normalize(),
        "sitemap_coverage": _sql_sitemap_coverage(),
        "ingest_increment": SQL_INGEST_INCREMENT,
        "bloom_prefilter": _sql_bloom_prefilter(),
        "bpe_train": _sql_bpe_train(),
        "bpe_train_bytes": _sql_bpe_train_bytes(),
        "bpe_apply": _sql_bpe_apply(),
        "vocab_growth": _sql_vocab_growth(),
        "daily_quota": SQL_DAILY_QUOTA,
        "mixture_sample": SQL_MIXTURE_SAMPLE,
        "domain_reach": _sql_domain_reach(),
        "hashed_tf": SQL_HASHED_TF,
        "polite_crawl": _sql_polite_crawl(),
        "cdc_chunks": _sql_cdc_chunks(),
        "cdc_dup_stats": _sql_cdc_dup_stats(),
        "length_histogram": SQL_LENGTH_HISTOGRAM,
        "url_components": _sql_url_components(),
        "span_rollup": SQL_SPAN_ROLLUP,
        "lang_length_stats": SQL_LANG_LENGTH_STATS,
        "label_centroids": _sql_label_centroids(),
        "prototype_confusion": _sql_prototype_confusion(),
        "token_counts": SQL_TOKEN_COUNTS,
        "quality_stats": SQL_QUALITY_STATS,
        "lang_id": _sql_lang_id(),
        "fingerprint": SQL_FINGERPRINT,
        "vocab_topk": _sql_vocab_topk(),
        "freq_spectrum": _sql_freq_spectrum(),
        "sentence_stats": _sql_sentence_stats(),
        "unicode_nfc": SQL_UNICODE_NFC,
        "importance_sample": _sql_importance_sample(),
        "decontaminate_fuzzy": _sql_decontaminate_fuzzy(),
        "char_entropy": SQL_CHAR_ENTROPY,
        "data_split": SQL_DATA_SPLIT,
        "domain_quality": _sql_domain_quality(),
        "funnel_stages": SQL_FUNNEL_STAGES,
        "cohort_retention": SQL_COHORT_RETENTION,
        "attribution_last_touch": SQL_ATTRIBUTION_LAST_TOUCH,
        "event_transitions": SQL_EVENT_TRANSITIONS,
        "value_percentiles": SQL_VALUE_PERCENTILES,
        "log_templates": SQL_LOG_TEMPLATES,
        "bm25_topk": _sql_bm25_topk(),
        "pq_codes": _sql_pq_codes(),
        "pq_adc_topk": _sql_pq_adc_topk(),
        "pq_adc_refined": _sql_pq_adc_topk(rerank=PQ_RERANK),
        "domain_trustrank": _sql_domain_trustrank(),
        "readability": _sql_readability(),
        "drift_psi": SQL_DRIFT_PSI,
        "bot_gap_stats": SQL_BOT_GAP_STATS,
        "anomaly_days": SQL_ANOMALY_DAYS,
        "dau_wau": SQL_DAU_WAU,
        "session_paths": SQL_SESSION_PATHS,
        "ab_metrics": SQL_AB_METRICS,
        "rrf_fusion": _sql_rrf_fusion(),
        "domain_communities": _sql_domain_communities(),
        "domain_components": _sql_domain_components(),
        "split_leakage": _sql_split_leakage(),
        "hard_negatives": SQL_HARD_NEGATIVES,
        "matryoshka_recall": _sql_matryoshka_recall(),
        "knn_label_eval": SQL_KNN_LABEL_EVAL,
        "token_fertility": _sql_token_fertility(),
        "query_likelihood": _sql_query_likelihood(),
        "trimmed_mean": SQL_TRIMMED_MEAN,
        "passage_fingerprints": SQL_PASSAGE_FINGERPRINTS,
        "phrase_search": _sql_phrase_search(),
        "containment_pairs": _sql_containment_pairs(),
        "vocab_js_drift": _sql_vocab_js_drift(),
        "domain_kcore": _sql_domain_kcore(),
        "domain_triangles": _sql_domain_triangles(),
        "item_covisitation": SQL_ITEM_COVISITATION,
        "trending_items": SQL_TRENDING_ITEMS,
        "item_similarity": SQL_ITEM_SIMILARITY,
        "score_calibration": _sql_score_calibration(),
        "scd2_lookup": SQL_SCD2_LOOKUP,
        "disorder_audit": SQL_DISORDER_AUDIT,
        "benford_audit": _sql_benford_audit(),
        "kmv_audit": _sql_kmv_audit(),
        "cheapest_paths": _sql_cheapest_paths(),
        "conversion_latency": _sql_conversion_latency(),
        "lexical_richness": _sql_lexical_richness(),
        "apdex_score": SQL_APDEX_SCORE,
        "merge_upsert": SQL_MERGE_UPSERT,
        "landing_exit": SQL_LANDING_EXIT,
        "source_skyline": SQL_SOURCE_SKYLINE,
        "data_quality_checks": SQL_DATA_QUALITY_CHECKS,
        "table_profile": _sql_table_profile(),
        "snapshot_diff": SQL_SNAPSHOT_DIFF,
        "activity_histogram": SQL_ACTIVITY_HISTOGRAM,
        "schema_drift": SQL_SCHEMA_DRIFT,
        "markov_stationary": _sql_markov_stationary(),
        "dedup_savings": _sql_dedup_savings(),
        "burst_census": SQL_BURST_CENSUS,
        "streak_census": _sql_streak_census(),
        "attribution_linear": SQL_ATTRIBUTION_LINEAR,
        "error_budget_burn": SQL_ERROR_BUDGET_BURN,
        "srm_check": SQL_SRM_CHECK,
        "hill_tail": _sql_hill_tail(),
        "heaping_audit": SQL_HEAPING_AUDIT,
        "user_p95_distribution": SQL_USER_P95_DISTRIBUTION,
        "new_vs_returning": SQL_NEW_VS_RETURNING,
        "forecast_baselines": SQL_FORECAST_BASELINES,
        "daily_percentiles": SQL_DAILY_PERCENTILES,
        "vocab_coverage": _sql_vocab_coverage(),
        "daily_anomalies": SQL_DAILY_ANOMALIES,
        "media_ahash": _sql_media_ahash(),
        "media_phash": _sql_media_phash(),
        "audio_loudness": _sql_audio_loudness(),
        "audio_fingerprint": _sql_audio_fingerprint(),
        "encoding_damage": _sql_encoding_damage(),
        "pca_power": _sql_pca_power(),
        "pca_project": _sql_pca_project(),
        "lang_confusion": _sql_lang_confusion(),
        "domain_assortativity": _sql_domain_assortativity(),
        "quota_sample": _sql_quota_sample(),
        "weekday_profile": SQL_WEEKDAY_PROFILE,
        "hamming_topk": _sql_hamming_topk(),
        "traffic_rollup": SQL_TRAFFIC_ROLLUP,
        "shard_assignment": _sql_shard_assignment(),
        "setsim_join": _sql_setsim_join(),
        "typosquat_pairs": _sql_typosquat_pairs(),
        "props_schema_census": SQL_PROPS_SCHEMA_CENSUS,
        "cusum_alerts": SQL_CUSUM_ALERTS,
        "engagement_gini": SQL_ENGAGEMENT_GINI,
        "user_entropy": SQL_USER_ENTROPY,
        "bootstrap_ci": _sql_bootstrap_ci(),
        "reciprocity": _sql_reciprocity(),
        "zone_maps": SQL_ZONE_MAPS,
        "zorder_bins": _sql_zorder_bins(),
        "km_hazard": SQL_KM_HAZARD,
        "rfm_segments": SQL_RFM_SEGMENTS,
        "textrank_keywords": _sql_textrank_keywords(),
        "link_prediction": _sql_link_prediction(),
        "prf_expansion": _sql_prf_expansion(),
        "kneser_ney_bigram": _sql_kneser_ney_bigram(),
        "query_matches": _sql_query_matches(),
        "pricing_rollup": SQL_PRICING_ROLLUP,
        "posting_compression": _sql_posting_compression(),
        "segment_activity": SQL_SEGMENT_ACTIVITY,
        "script_mix": _sql_script_mix(),
        "shipping_topk": SQL_SHIPPING_TOPK,
        "regional_revenue": SQL_REGIONAL_REVENUE,
        "order_fulfilment": SQL_ORDER_FULFILMENT,
        "small_qty_revenue": SQL_SMALL_QTY_REVENUE,
        "supplier_census": SQL_SUPPLIER_CENSUS,
        "heavy_orders": SQL_HEAVY_ORDERS,
        "parity_ln_floor": SQL_PARITY_LN_FLOOR,
        "parity_epoch_us": _sql_parity_epoch_us(),
        "winnow_fingerprints": _sql_winnow_fingerprints(),
        "bigram_logprob": _sql_bigram_logprob(),
        "bpe_pair_counts": _sql_bpe_pair_counts(),
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_exact_planted": SQL_DEDUP_EXACT_PLANTED,
        "dedup_pipeline_planted": _sql_dedup_pipeline_planted(),
        "dedup_stats": SQL_DEDUP_STATS,
        "minhash_signatures": SQL_MINHASH,
        "lsh_candidate_pairs": SQL_LSH_PAIRS,
        "ngram_jaccard": SQL_JACCARD,
        "simhash": SQL_SIMHASH,
        "dedup_pipeline": _sql_dedup_pipeline(),
        "dup_clusters": _sql_dup_clusters(),
        "latest_per_source": SQL_LATEST_PER_SOURCE,
        "stratified_sample": _sql_stratified_sample(),
        "clean_corpus": _sql_clean_corpus(),
        "dup_ngram_stats": _sql_dup_ngram_stats(),
        "pii_scrub": _sql_pii_scrub(),
        "repetition_stats": _sql_repetition_stats(),
        "dedup_lines": _sql_dedup_lines(),
        "tfidf_topk": _sql_tfidf_topk(),
        "length_quantiles": _sql_length_quantiles(),
        "mixture_weights": SQL_MIXTURE_WEIGHTS,
        "token_windows": SQL_TOKEN_WINDOWS,
        "cardinality_audit": SQL_CARDINALITY_AUDIT,
        "cross_neardup": _sql_cross_neardup(),
        "embedding_dim_stats": _sql_embedding_dim_stats(),
        "source_boilerplate": _sql_source_boilerplate(),
        "source_overlap": _sql_source_overlap(),
        "embedding_covariance": _sql_embedding_covariance(),
        "embedding_outliers": _sql_embedding_outliers(),
        "event_key_skew": _sql_event_key_skew(),
        "posting_lists": _sql_posting_lists(),
        "pmi_collocations": _sql_pmi_collocations(),
        "llr_collocations": _sql_llr_collocations(),
        "zipf_fit": _sql_zipf_fit(),
        "good_turing": _sql_good_turing(),
        "token_burstiness": _sql_token_burstiness(),
        "bigram_holdout": _sql_bigram_holdout(),
        "prefix_completions": _sql_prefix_completions(),
        "stump_finder": _sql_stump_finder(),
        "nb_lang_holdout": _sql_nb_lang_holdout(),
        "ngram_novelty": _sql_ngram_novelty(),
        "skipgram_counts": _sql_skipgram_counts(),
        "hourly_profile": SQL_HOURLY_PROFILE,
        "deseasonalized_anomalies": SQL_DESEASONALIZED_ANOMALIES,
        "serp_diversity": _sql_serp_diversity(),
        "continuation_counts": _sql_continuation_counts(),
        "outlink_graph": _sql_outlink_graph(),
        "domain_pagerank": _sql_domain_pagerank(),
        "domain_hits": _sql_domain_hits(),
        "anchor_text_topk": _sql_anchor_text_topk(),
        "gopher_quality_flags": _sql_gopher_quality(),
        "c4_quality_flags": _sql_c4_quality(),
        "heavy_hitters": _sql_heavy_hitters(),
        "perplexity_buckets": _sql_perplexity_buckets(),
        "curate_corpus": _sql_curate_corpus(),
        "ann_cosine_topk": SQL_ANN_TOPK,
        "ann_lsh_topk": _sql_ann_lsh_topk(),
        "ann_ivf_topk": _sql_ann_ivf_topk(),
        "ann_ivf_refined_topk": _sql_ann_ivf_refined_topk(),
        "ann_recall": _sql_ann_recall(),
        "embedding_neardup": _sql_neardup_emb(threshold=0.4),
        "multimodal_meta": _sql_multimodal_meta(),
        "multimodal_bmp_decode": SQL_MULTIMODAL_BMP,
        "multimodal_png_decode": _sql_multimodal_png(),
        "multimodal_gif_decode": _sql_multimodal_gif(),
        "multimodal_jpeg_decode": SQL_MULTIMODAL_JPEG,
        "multimodal_avi_decode": SQL_MULTIMODAL_AVI,
        "multimodal_dib_avi_decode": _sql_multimodal_dib_avi(),
        "multimodal_dib_depths_decode": _sql_multimodal_dib_depths(),
        "avi_frame_samples": SQL_AVI_FRAME_SAMPLES,
        "shot_boundaries": _sql_shot_boundaries(),
        "media_colorstats": SQL_MEDIA_COLORSTATS,
        "multimodal_wav_decode": _sql_multimodal_wav(),
        "multimodal_mulaw_decode": _sql_multimodal_mulaw(),
        "multimodal_alaw_decode": _sql_multimodal_alaw(),
        "multimodal_adpcm_decode": _sql_multimodal_adpcm(),
        "multimodal_resize": SQL_MULTIMODAL_RESIZE,
        "frame_samples": _sql_frame_samples(),
    }
