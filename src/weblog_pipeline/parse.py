"""Vectorized parse stage: webpages -> flattened span-event rows.

This is the engine's replacement for the reference's 4-deep nested-loop
flatten (connector.go:203-216), re-expressed as a `mapInArrow` UDF:
pages arrive as Arrow record batches, a precompiled byte-level regex
extracts every embedded telemetry marker, a `bytes.find` loop extracts the
visible page text (tested against `markers.extract_text`, the oracle's
spec), and one output row is emitted per span event (page-grain context
denormalized onto each row).

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
  * The hot loop never goes through pandas (mapInArrow): url/warc_ts/lang
    are re-emitted with a `take` over the input batch, and the other
    columns are one Python tuple per output row, transposed once and built
    by pyarrow (maps from the decoded JSON dicts). Attr payload bytes are
    memoized per batch (span/resource attrs repeat per span), so most rows
    skip json entirely.
"""

from __future__ import annotations

import sys
import zipimport
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from .markers import _MARKER_RE, _loads, int64

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


def _split_flat(raw: bytes) -> tuple[dict, dict]:
    """Decode an event-attrs JSON payload and partition by value type
    (Str vs Int), mirroring the pcommon Value type-switch the reference
    performs (connector.go:275,284,301,350). JSON bools render as strings;
    key order (JSON document order) is preserved."""
    d = _loads(raw)
    ints = {k: int64(v) for k, v in d.items() if type(v) is int}
    for k in ints:
        del d[k]
    return _as_str(d), ints


def _str_flat(raw: bytes) -> dict:
    """All-values-as-strings rendering for span/resource attr payloads:
    the reference copies these regardless of type
    (connector.go:233,382-385); ints render in canonical string form
    (oracle._render_value twin)."""
    return _as_str(_loads(raw))


def _as_str(d: dict) -> dict:
    """`d` with every value in its canonical string form, in place. The
    decoded dict itself is the map value pyarrow converts: a dict of
    strings is not tracked by the cycle collector, while (key, value) entry
    tuples are, and collecting them costs more CPU than pyarrow's slower
    walk over dicts saves (scripts/parse_ab.py)."""
    for k, v in d.items():
        if type(v) is not str:
            d[k] = ("true" if v else "false") if isinstance(v, bool) else str(v)
    return d


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


class _Memo(dict):
    """Per-batch {attr payload bytes: decoded map}: span and resource attrs
    repeat per span, so most lookups skip json entirely."""

    def __init__(self, decode) -> None:
        self.decode = decode

    def __missing__(self, raw: bytes):
        self[raw] = entries = self.decode(raw)
        return entries


def _page_text(blob: bytes) -> bytes:
    """The contents of every <p>…</p> block of `blob`, joined by a newline:
    the bytes `markers.extract_text`, the oracle's spec, decodes. Found by
    `bytes.find` in place of its lazy regex (Python's `re` runs `.*?` a
    byte at a time, and most of a text-heavy page sits inside <p> blocks);
    tests/test_property.py checks the two against each other. Each block
    ends at the first </p> after its <p>, as the lazy match does, and a
    <p> with no later </p> ends the scan: no later <p> can match either."""
    find = blob.find
    blocks = []
    i = find(b"<p>")
    while i >= 0:
        j = find(b"</p>", i + 3)
        if j < 0:
            break
        blocks.append(blob[i + 3 : j])
        i = find(b"<p>", j + 4)
    return b"\n".join(blocks)


#: the columns of a zero-event page's sentinel row after event_idx
_NO_EVENT = (None,) * 11


def _events(blob: bytes, memo_a: _Memo, memo_s: _Memo) -> list[tuple]:
    """One row per marker in `blob`, in EVENT_SCHEMA column order from
    page_text (None) on. Fields decode in the oracle's order (trace_id,
    span_id, span_name, span_kind, ts, name, attrs, span_attrs,
    res_attrs), so the first corrupt field names the quarantine class."""
    found = _MARKER_RE.findall(blob)
    n = len(found)
    out = []
    for j, (tid, sid, snm, skd, ts, nm, a, sp, rs) in enumerate(found):
        tid = tid.decode("utf-8", "strict")
        sid = sid.decode("utf-8", "strict")
        snm = snm.decode("utf-8", "strict")
        skd = skd.decode("utf-8", "strict")
        ts = int64(int(ts))
        nm = nm.decode("utf-8", "strict")
        a_s, a_i = memo_a[a]
        out.append((None, n, None, j, nm, ts, tid, sid, snm, skd, "", a_s, a_i, memo_s[sp], memo_s[rs]))
    return out


def _parse_arrow_batches(
    batches: Iterator["pa.RecordBatch"],
) -> Iterator["pa.RecordBatch"]:
    """Hot path: inline marker scan, one row tuple per output row.

    Page-grain passthrough columns re-emit input Arrow values via `take`
    (no Python round trip); every other column is one `pa.array` over the
    transposed rows. Quarantine semantics match the oracle exactly: text
    extraction first, then markers in order, first failure wins and the
    page contributes one sentinel row with parse_error set."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    _trim_importers()
    types = [to_arrow_type(f.dataType) for f in EVENT_SCHEMA.fields[3:]]

    for rb in batches:
        if rb.num_rows == 0:
            continue
        memo_a, memo_s = _Memo(_split_flat), _Memo(_str_flat)
        idx, rows = [], []
        for i, blob in enumerate(rb.column("html").to_pylist()):
            blob = blob or b""
            try:
                # decode the joined blocks ONCE (newline is ASCII, UTF-8
                # self-synchronizing — identical text)
                text = _page_text(blob).decode("utf-8", "strict")
                evs, err = _events(blob, memo_a, memo_s), None
            except Exception as exc:  # corrupt marker -> quarantine page
                text, evs, err = None, [], f"{type(exc).__name__}: {exc}"
            if evs:
                # page_text rides only the first row per page (see above)
                evs[0] = (text,) + evs[0][1:]
                idx += [i] * len(evs)
                rows += evs
            else:
                idx.append(i)
                rows.append((text, 0, err, -1) + _NO_EVENT)

        take = pa.array(idx, pa.int32())
        arrays = [rb.column(c).take(take) for c in ("url", "warc_ts", "lang")]
        arrays += [pa.array(col, t) for col, t in zip(zip(*rows), types)]
        yield pa.RecordBatch.from_arrays(arrays, names=EVENT_SCHEMA.names)


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
    """Page-grain (url, warc_ts, lang, page_text, n_page_events,
    parse_error) view."""
    return parsed.where(parsed.event_idx <= 0).select(
        "url", "warc_ts", "lang", "page_text", "n_page_events", "parse_error"
    )
