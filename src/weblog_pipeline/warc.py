"""WARC (ISO 28500) source + sink — the container format web crawls
actually ship in (Common Crawl distributes gzipped WARC response records).

Record grammar (public spec): a version line ``WARC/1.1``, CRLF header
lines, an empty line, ``Content-Length`` payload bytes, then CRLF CRLF.
Payloads here are the raw html bytes, optionally zlib/gzip-compressed
per record (the common crawl layout); WARC-Date carries microseconds via
the WARC 1.1 fractional-second form.

Spark shape: encode and decode are per-row kernels mapped by the
package's row stage (`rows.map_rows`): one record per page on encode,
0..n pages per blob on decode. The record walker is pure byte arithmetic
driven by Content-Length (never a delimiter split, which a payload could
spoof), and a whole .warc file is one input row, so files parallelize
across executors while records inside a file stay together, mirroring how
a production crawl reader assigns WARC files to tasks.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from datetime import datetime, timezone
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .rows import map_rows

if TYPE_CHECKING:
    import pyarrow as pa

WARC_VERSION = b"WARC/1.1"

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("record", T.BinaryType()),
    ]
)

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
    ]
)


def _format_ts(ts) -> bytes:
    if ts is None:
        raise ValueError("a WARC record needs a WARC-Date")
    # WARC 1.1 permits fractional seconds; microseconds survive roundtrip
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ").encode()


def _parse_ts(raw: bytes) -> datetime:
    """WARC-Date -> naive UTC datetime (an explicit offset is converted)."""
    ts = datetime.fromisoformat(raw.decode().rstrip("Z"))
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts


def build_record(url: str, ts, html: bytes, compress: bool = False) -> bytes:
    """One WARC response record. `compress` gzips the payload (Common
    Crawl's per-record layout) and marks it with Content-Encoding."""
    payload = zlib.compress(html, 6) if compress else html
    headers = [
        WARC_VERSION,
        b"WARC-Type: response",
        b"WARC-Target-URI: " + url.encode(),
        b"WARC-Date: " + _format_ts(ts),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    if compress:
        headers.append(b"Content-Encoding: deflate")
    return b"\r\n".join(headers) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def walk_records(blob: bytes) -> Iterator[tuple[str, object, bytes]]:
    """Content-Length-driven record walker (never delimiter splitting — a
    payload containing 'WARC/1.1' must not desynchronize the stream).
    Yields (url, warc_ts, html) for RESPONSE-shaped records; records
    without a WARC-Target-URI (warcinfo, request, metadata — real crawl
    files lead with these) are SKIPPED while still honoring their
    Content-Length framing. Raises ValueError on malformed framing,
    including corrupt per-record deflate."""
    pos = 0
    n = len(blob)
    while pos < n:
        head_end = blob.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("truncated WARC header block")
        head = blob[pos:head_end]
        lines = head.split(b"\r\n")
        if not lines[0].startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line: {lines[0][:40]!r}")
        fields = {}
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            fields[k.strip().lower()] = v.strip()
        if b"content-length" not in fields:
            raise ValueError("WARC record missing Content-Length")
        try:
            length = int(fields[b"content-length"])
        except ValueError as exc:
            raise ValueError("non-integer WARC Content-Length") from exc
        if length < 0:
            raise ValueError("negative WARC Content-Length")
        start = head_end + 4
        payload = blob[start:start + length]
        if len(payload) != length:
            raise ValueError("truncated WARC payload")
        if blob[start + length:start + length + 4] != b"\r\n\r\n":
            raise ValueError("missing record terminator")
        pos = start + length + 4
        uri = fields.get(b"warc-target-uri")
        if uri is None:
            continue  # warcinfo/request/metadata record — framing only
        if fields.get(b"content-encoding") == b"deflate":
            try:
                payload = zlib.decompress(payload)
            except zlib.error as exc:
                raise ValueError(f"corrupt WARC deflate payload: {exc}") from exc
        try:
            ts = _parse_ts(fields[b"warc-date"])
        except (KeyError, ValueError) as exc:
            raise ValueError(f"bad or missing WARC-Date: {exc}") from exc
        yield (uri.decode(), ts, payload)


def encode_warc(pages: DataFrame, compress: bool = False) -> DataFrame:
    """(url, warc_ts, html) -> one WARC record (binary) per page."""
    return map_rows(
        pages,
        ["url", "warc_ts", "html"],
        RECORD_SCHEMA,
        lambda u, t, h: [{"url": u, "warc_ts": t, "record": build_record(u, t, h, compress)}],
    )


def decode_warc_records(records: DataFrame, col: str = "record") -> DataFrame:
    """Binary WARC records (one or MANY concatenated per row) -> pages."""
    return map_rows(
        records,
        [col],
        PAGE_SCHEMA,
        lambda blob: (
            {"url": u, "warc_ts": t, "html": h} for u, t, h in walk_records(blob)
        ),
    )


def write_warc_files(pages: DataFrame, path: str, compress: bool = True) -> None:
    """Materialize pages as .warc files, one per partition (records
    concatenated) — parquet carrier keeps the write Spark-native here;
    a production sink would stream to .warc.gz objects the same way."""

    def concat(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        blob = b"".join(b for rb in batches for b in rb.column(0).to_pylist())
        yield pa.RecordBatch.from_pydict({"warc": [blob]})

    encode_warc(pages, compress=compress).select("record").mapInArrow(
        concat, schema="warc binary"
    ).write.mode("overwrite").parquet(path)


def read_warc_files(spark, path: str) -> DataFrame:
    """Read .warc blobs (parquet carrier, one blob per row) into pages —
    files parallelize across tasks, records within a blob stay together."""
    return decode_warc_records(spark.read.parquet(path), col="warc")
