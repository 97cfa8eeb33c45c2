"""The one Python row stage: every per-row kernel outside the parse UDF
(media codecs, WARC, OTLP protobuf, robots, sitemap, url and Unicode
normalization, synthetic pages) is mapped over a DataFrame by
`map_rows`. The stage owns column pruning, Arrow batch assembly and the
`on_error` quarantine contract; a kernel only turns one input row into
0..n output dicts.

The core job (pipeline, parse, enrich, route, aggregate) does not import
this module: its parse UDF keeps its own batch builder.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame
    from pyspark.sql import types as T

#: the corrupt-input error classes: decoders raise ValueError for
#: everything they can anticipate; struct/Index errors from an UNTRUSTED
#: blob are the same corrupt-input condition. NotImplementedError (a
#: missing codec) is a configuration problem and always propagates.
_QUARANTINED = (ValueError, struct.error, IndexError)


def map_rows(
    df: "DataFrame",
    cols: list[str],
    schema: "T.StructType",
    fn: Callable[..., Iterable[dict]],
    on_error: str = "raise",
) -> "DataFrame":
    """The one row stage: prune `df` to `cols`, then `mapInArrow`,
    calling `fn(*row)` once per input row. `fn` returns (or yields) 0..n
    output rows as dicts keyed by `schema`'s field names: extra keys are
    ignored, absent ones are null. Each output batch is one
    `pa.RecordBatch.from_pylist` against `schema`'s Arrow types.

    on_error: 'raise' (default — a corrupt payload fails the job loudly,
    the oracle-checked semantics) or 'skip' (quarantine: when `fn` raises
    one of _QUARANTINED, every output row of that input row is dropped,
    mirroring the parse stage's corrupt-page handling — the right mode
    for a real crawl where a few truncated blobs must not kill a 100 TB
    job). Checked here, when the plan is built.

    Every datetime `fn` returns must be naive UTC or UTC-aware:
    `from_pylist` reads an aware datetime's wall clock as UTC, so an
    offset of +02:00 would land two hours late. No kernel returns another
    offset (`warc._parse_ts` converts to naive UTC)."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        for rb in batches:
            out: list[dict] = []
            for row in zip(*(rb.column(c).to_pylist() for c in cols)):
                try:
                    rows = list(fn(*row))
                except _QUARANTINED:
                    if on_error == "raise":
                        raise
                    continue
                out += rows
            if out:
                yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return df.select(*cols).mapInArrow(run, schema)
