"""Vectorized parse stage: webpages -> flattened span-event rows.

This is the engine's replacement for the reference's 4-deep nested-loop
flatten (connector.go:203-216), re-expressed as a `mapInArrow` UDF:
pages arrive as Arrow record batches, a precompiled byte-level regex
extracts every embedded telemetry marker plus the visible page text, and
one output row is emitted per span event (page-grain context denormalized
onto each row).

Scale notes (100 TB design):
  * The UDF is the ONLY Python stage in the pipeline; everything downstream
    is Catalyst-codegen'd Column expressions.
  * `html` is large — keep Arrow batches small (session.py caps
    maxRecordsPerBatch) so a batch of pages fits executor memory.
  * Catalyst cannot push predicates through the UDF, so callers must put
    cheap scan-level prunes (partition filters on warc_ts/lang,
    html IS NOT NULL) *before* this stage; the event-name filter runs
    *after* it as a codegen'd InSet.
  * Pages with zero events emit one sentinel row (event_idx = -1) so the
    byte-identical text invariant stays checkable in the same single scan
    of html — no second pass over the input.
  * Corrupt markers (invalid UTF-8 / JSON, an int outside int64) don't
    fail the task: the page is quarantined via parse_error and contributes
    no event rows.
  * The hot loop builds Arrow arrays directly (mapInArrow, not
    mapInPandas): page-grain passthrough columns (url/warc_ts/lang) are
    re-emitted with a `take` over the input batch — no Python objects —
    and the four map columns are assembled as flat key/value buffers +
    offsets (MapArray.from_arrays), never per-row dicts through pandas
    object columns. Attr payload bytes are memoized per batch (span/
    resource attrs repeat per span), so most rows skip json entirely.
"""

from __future__ import annotations

import json
import sys
import zipimport
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from .markers import _MARKER_RE, _TEXT_RE, int64

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame

#: Flattened event-row schema. One row per span event, plus one sentinel
#: row (event_idx=-1, event_name NULL) per zero-event page.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("page_text", T.StringType()),
        T.StructField("n_page_events", T.IntegerType()),
        T.StructField("parse_error", T.StringType()),
        T.StructField("event_idx", T.IntegerType()),
        T.StructField("event_name", T.StringType()),
        T.StructField("ts_ns", T.LongType()),
        T.StructField("trace_id", T.StringType()),
        T.StructField("span_id", T.StringType()),
        T.StructField("span_name", T.StringType()),
        T.StructField("span_kind", T.StringType()),
        T.StructField("trace_state", T.StringType()),
        T.StructField("event_attrs_s", T.MapType(T.StringType(), T.StringType())),
        T.StructField("event_attrs_i", T.MapType(T.StringType(), T.LongType())),
        T.StructField("span_attrs", T.MapType(T.StringType(), T.StringType())),
        T.StructField("res_attrs", T.MapType(T.StringType(), T.StringType())),
    ]
)


_FIELD_NAMES = [f.name for f in EVENT_SCHEMA.fields]


def _split_flat(raw: bytes) -> tuple[list, list, list, list]:
    """Decode an event-attrs JSON payload and partition by value type
    (Str vs Int), mirroring the pcommon Value type-switch the reference
    performs (connector.go:275,284,301,350) — flat (str_keys, str_vals,
    int_keys, int_vals) lists ready for MapArray assembly. JSON bools
    render as strings; key order (JSON document order) is preserved."""
    d = json.loads(raw.decode("utf-8", "strict"))
    sk: list = []
    sv: list = []
    ik: list = []
    iv: list = []
    for k, v in d.items():
        if isinstance(v, bool):
            sk.append(k)
            sv.append("true" if v else "false")
        elif isinstance(v, int):
            ik.append(k)
            iv.append(int64(v))
        else:
            sk.append(k)
            sv.append(str(v))
    return sk, sv, ik, iv


def _str_flat(raw: bytes) -> tuple[list, list]:
    """All-values-as-strings rendering for span/resource attr payloads:
    the reference copies these regardless of type
    (connector.go:233,382-385); ints render in canonical string form
    (oracle._render_value twin)."""
    d = json.loads(raw.decode("utf-8", "strict"))
    ks: list = []
    vs: list = []
    for k, v in d.items():
        if isinstance(v, bool):
            ks.append(k)
            vs.append("true" if v else "false")
        else:
            ks.append(k)
            vs.append(str(v))
    return ks, vs


def _trim_importers() -> None:
    """Keep the worker's per-task import bookkeeping to one directory read
    per archive. pyspark's worker calls importlib.invalidate_caches() at
    the start of every task, and on CPython 3.11 each cached zipimporter
    then re-reads its archive's whole central directory: one per imported
    package of pyspark.zip, and the spark-core jar Spark puts on the worker
    path (thousands of entries, no Python). sys.path_importer_cache is a
    pure cache: a dropped package importer is rebuilt from
    zipimport._zip_directory_cache on the next import; the archive roots
    on sys.path stay."""
    sys.path[:] = [p for p in sys.path if not p.endswith(".jar")]
    roots = set(sys.path)
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and key not in roots:
            del sys.path_importer_cache[key]


class _MapCol:
    """Flat builder for one Arrow map column: contiguous key/value
    buffers plus per-row offsets (None offset = NULL map entry)."""

    __slots__ = ("ks", "vs", "offs", "cur")

    def __init__(self) -> None:
        self.ks: list = []
        self.vs: list = []
        self.offs: list = []
        self.cur = 0

    def build(self, pa_mod, value_type) -> "pa.MapArray":
        self.offs.append(self.cur)
        return pa_mod.MapArray.from_arrays(
            pa_mod.array(self.offs, pa_mod.int32()),
            pa_mod.array(self.ks, pa_mod.string()),
            pa_mod.array(self.vs, value_type),
        )


def _parse_arrow_batches(
    batches: Iterator["pa.RecordBatch"],
) -> Iterator["pa.RecordBatch"]:
    """Hot path: inline marker scan + direct Arrow column assembly.

    Page-grain passthrough columns re-emit input Arrow values via `take`
    (no Python round trip); attr payload bytes memoize to their flat
    key/value split per batch. Quarantine semantics match the classic
    path exactly: text extraction first, then markers in order, field
    decode order within a marker fixed, first failure wins and the page
    contributes one sentinel row with parse_error set."""
    import pyarrow as pa

    _trim_importers()

    str_t = pa.string()
    int_t = pa.int64()
    mfind = _MARKER_RE.finditer
    tfindall = _TEXT_RE.findall

    for rb in batches:
        if rb.num_rows == 0:
            continue
        sch = rb.schema
        htmls = rb.column(sch.get_field_index("html")).to_pylist()

        idx: list = []
        page_text: list = []
        n_page_events: list = []
        parse_error: list = []
        event_idx: list = []
        event_name: list = []
        ts_ns: list = []
        trace_id: list = []
        span_id: list = []
        span_name: list = []
        span_kind: list = []
        trace_state: list = []
        m_es = _MapCol()
        m_ei = _MapCol()
        m_sp = _MapCol()
        m_rs = _MapCol()
        memo_a: dict = {}
        memo_s: dict = {}

        # bound-method locals: the loop body runs per event row and
        # attribute lookups dominate at this grain
        es_ext = m_es.ks.extend; es_vext = m_es.vs.extend; es_off = m_es.offs.append
        ei_ext = m_ei.ks.extend; ei_vext = m_ei.vs.extend; ei_off = m_ei.offs.append
        sp_ext = m_sp.ks.extend; sp_vext = m_sp.vs.extend; sp_off = m_sp.offs.append
        rs_ext = m_rs.ks.extend; rs_vext = m_rs.vs.extend; rs_off = m_rs.offs.append
        es_cur = ei_cur = sp_cur = rs_cur = 0

        for i, blob in enumerate(htmls):
            if blob is None:
                blob = b""
            try:
                # join the <p> byte blocks, decode ONCE (newline is
                # ASCII, UTF-8 self-synchronizing — identical text)
                text = b"\n".join(tfindall(blob)).decode("utf-8", "strict")
                evs = []
                for m in mfind(blob):
                    g = m.groups()
                    a = memo_a.get(g[6])
                    sp = memo_s.get(g[7])
                    rs = memo_s.get(g[8])
                    ev = (
                        g[0].decode("utf-8", "strict"),
                        g[1].decode("utf-8", "strict"),
                        g[2].decode("utf-8", "strict"),
                        g[3].decode("utf-8", "strict"),
                        int64(int(g[4])),
                        g[5].decode("utf-8", "strict"),
                        a if a is not None else memo_a.setdefault(g[6], _split_flat(g[6])),
                        sp if sp is not None else memo_s.setdefault(g[7], _str_flat(g[7])),
                        rs if rs is not None else memo_s.setdefault(g[8], _str_flat(g[8])),
                    )
                    evs.append(ev)
                err = None
            except Exception as exc:  # corrupt marker -> quarantine page
                text, evs, err = None, [], f"{type(exc).__name__}: {exc}"

            if not evs:
                idx.append(i)
                page_text.append(text)
                n_page_events.append(0)
                parse_error.append(err)
                event_idx.append(-1)
                event_name.append(None)
                ts_ns.append(None)
                trace_id.append(None)
                span_id.append(None)
                span_name.append(None)
                span_kind.append(None)
                trace_state.append(None)
                es_off(None)
                ei_off(None)
                sp_off(None)
                rs_off(None)
                continue
            n = len(evs)
            for j, (tid, sid, snm, skd, ts, nm, a, sp, rs) in enumerate(evs):
                idx.append(i)
                # page_text rides only the first row per page (see above)
                page_text.append(text if j == 0 else None)
                n_page_events.append(n)
                parse_error.append(None)
                event_idx.append(j)
                event_name.append(nm)
                ts_ns.append(ts)
                trace_id.append(tid)
                span_id.append(sid)
                span_name.append(snm)
                span_kind.append(skd)
                trace_state.append("")
                ak = a[0]
                es_ext(ak); es_vext(a[1]); es_off(es_cur); es_cur += len(ak)
                ik = a[2]
                ei_ext(ik); ei_vext(a[3]); ei_off(ei_cur); ei_cur += len(ik)
                sk = sp[0]
                sp_ext(sk); sp_vext(sp[1]); sp_off(sp_cur); sp_cur += len(sk)
                rk = rs[0]
                rs_ext(rk); rs_vext(rs[1]); rs_off(rs_cur); rs_cur += len(rk)

        m_es.cur = es_cur
        m_ei.cur = ei_cur
        m_sp.cur = sp_cur
        m_rs.cur = rs_cur
        take = pa.array(idx, pa.int32())
        arrays = [
            rb.column(sch.get_field_index("url")).take(take),
            rb.column(sch.get_field_index("warc_ts")).take(take),
            rb.column(sch.get_field_index("lang")).take(take),
            pa.array(page_text, str_t),
            pa.array(n_page_events, pa.int32()),
            pa.array(parse_error, str_t),
            pa.array(event_idx, pa.int32()),
            pa.array(event_name, str_t),
            pa.array(ts_ns, int_t),
            pa.array(trace_id, str_t),
            pa.array(span_id, str_t),
            pa.array(span_name, str_t),
            pa.array(span_kind, str_t),
            pa.array(trace_state, str_t),
            m_es.build(pa, str_t),
            m_ei.build(pa, int_t),
            m_sp.build(pa, str_t),
            m_rs.build(pa, str_t),
        ]
        yield pa.RecordBatch.from_arrays(arrays, names=_FIELD_NAMES)


def parse_events(webpages: "DataFrame") -> "DataFrame":
    """webpages(url, warc_ts, html, text, lang) -> flattened event rows.

    Column-prunes to exactly the four columns the UDF consumes so the
    parquet/Iceberg scan never reads the (redundant) input `text` column.
    """
    pruned = webpages.select("url", "warc_ts", "html", "lang")
    return pruned.mapInArrow(_parse_arrow_batches, schema=EVENT_SCHEMA)


def event_rows(parsed: "DataFrame") -> "DataFrame":
    """Only real span-event rows (drops zero-event sentinels)."""
    return parsed.where(parsed.event_idx >= 0)


def page_texts(parsed: "DataFrame") -> "DataFrame":
    """Page-grain (url, page_text, n_page_events, parse_error) view."""
    return parsed.where(parsed.event_idx <= 0).select(
        "url", "warc_ts", "lang", "page_text", "n_page_events", "parse_error"
    )
