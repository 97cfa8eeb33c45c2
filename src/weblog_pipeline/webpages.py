"""Materialize the webpages input table as a Spark DataFrame.

Two deterministic sources (generate.py), each a per-row kernel mapped by
the package's row stage (`rows.map_rows`): index-derived synthetic pages
(spark.range -> one page per id, fully partition-parallel — used by unit
tests and the benchmark) and pages derived from the driver-testdata
``documents`` table (used by the SQL-checked parse round-trip / flagship
query, because a SQL oracle can re-derive the same facts from
``documents`` with integer arithmetic).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import types as T

from .generate import Page, gen_page, page_from_doc
from .rows import map_rows

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

WEBPAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _row(p: Page) -> list[dict]:
    # an int is the raw value of Arrow's timestamp[us]: no datetime built
    return [{**vars(p), "warc_ts": p.warc_ts_us}]


def generate_webpages(
    spark: "SparkSession", n_pages: int, partitions: int | None = None
) -> "DataFrame":
    """n_pages index-derived synthetic pages, generated in parallel."""
    rng = spark.range(n_pages, numPartitions=partitions)
    return map_rows(rng, ["id"], WEBPAGES_SCHEMA, lambda i: _row(gen_page(i)))


def webpages_from_documents(documents: "DataFrame") -> "DataFrame":
    """Derive one webpage per ``documents`` row (doc_id -> url/events)."""
    return map_rows(
        documents,
        ["doc_id", "text", "lang"],
        WEBPAGES_SCHEMA,
        lambda d, t, lg: _row(page_from_doc(d, t, lg)),
    )
