"""End-to-end job: parse -> enrich -> route -> aggregate (+ sinks, metrics).

One single scan of the input feeds everything: the parse UDF is the only
Python stage; enrichment and routing are codegen'd projections fused into
the same stage as the UDF output; only the final aggregations shuffle.
"""

from __future__ import annotations

import hashlib
import re
import time
import uuid
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import cached_property

from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .aggregate import domain_counts, sink_counts
from .config import DEFAULT_ROUTES, DEFAULT_SINK, PipelineConfig, SinkRoute
from .enrich import log_record_columns
from .parse import event_rows, page_texts, parse_events

#: run_metrics is the run ledger: one row per committed chunk
LEDGER_SCHEMA = (
    "run_id string, chunk int, chunk_files int, input_digest string, "
    "observed_ts_us long, pages_in long, records map<string, long>"
)


def compile_records(
    cfg: PipelineConfig,
    routes: tuple[SinkRoute, ...],
    default_sink: str,
    observed_ts_us: int,
) -> Callable[[DataFrame], DataFrame]:
    """Fold the config once: event rows -> routed log records. The
    returned function reuses the filter and select list it holds, so
    planning another input folds nothing again."""
    # O3 predicate filter: empty list = pass-all (connector.go:103-109,220-224)
    names = list(cfg.include_event_names)
    keep = F.col("event_name").isin(names) if names else None
    columns = log_record_columns(cfg, routes, default_sink, observed_ts_us)

    def records(events: DataFrame) -> DataFrame:
        return (events if keep is None else events.where(keep)).select(*columns)

    return records


def record_plan(
    pages: DataFrame,
    records: Callable[[DataFrame], DataFrame],
    pages_in: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """pages -> (parse output, routed log records), with `records` from
    `compile_records`: the plan batch chunks and streaming runs share.
    `pages_in` counts the pages that reach the parse."""
    # cheap prunes BEFORE the opaque UDF (Catalyst can't push through it);
    # the pages that reach the parse are counted above the pushed-down prune
    pages = pages.where(F.col("html").isNotNull())
    if pages_in is not None:
        pages = pages.observe(pages_in, F.count(F.lit(1)).alias("pages"))
    parsed = parse_events(pages)
    return parsed, records(event_rows(parsed))


@dataclass
class PipelineResult:
    """A job's inputs, with its plans derived on read: the config is
    folded, and the input planned, the first time `parsed` or `logs` is
    read, and once. `run_to_sinks` plans its chunks from the same inputs
    and reads none of them."""

    webpages: DataFrame
    cfg: PipelineConfig
    routes: tuple[SinkRoute, ...]
    default_sink: str
    observed_ts_us: int
    metrics: dict = field(default_factory=dict)

    @cached_property
    def _plan(self) -> tuple[DataFrame, DataFrame]:
        return record_plan(self.webpages, compile_records(
            self.cfg, self.routes, self.default_sink, self.observed_ts_us))

    @property
    def parsed(self) -> DataFrame:
        """The parse output both logs and texts read."""
        return self._plan[0]

    @property
    def logs(self) -> DataFrame:
        return self._plan[1]

    @property
    def texts(self) -> DataFrame:
        return page_texts(self.parsed)

    @property
    def per_sink(self) -> DataFrame:
        return sink_counts(self.logs)

    @property
    def per_domain(self) -> DataFrame:
        return domain_counts(self.logs)


def build_pipeline(
    webpages: DataFrame,
    cfg: PipelineConfig,
    routes: tuple[SinkRoute, ...] = DEFAULT_ROUTES,
    default_sink: str = DEFAULT_SINK,
    observed_ts_us: int | None = None,
) -> PipelineResult:
    """The job over `webpages`, with its clock fixed (now, unless given).
    Nothing is planned here: see PipelineResult."""
    if observed_ts_us is None:
        observed_ts_us = int(time.time() * 1_000_000)
    return PipelineResult(webpages, cfg, routes, default_sink, observed_ts_us)


def _chunk_width(spark: SparkSession, webpages: DataFrame, files: list[str]) -> int:
    """Input files per chunk: as many as one scan wave reads (every core
    busy on one spark.sql.files.maxPartitionBytes split), so an input of
    up to one wave is one chunk. An input that cannot be narrowed by file
    (generated or decoded pages carry no _metadata) is always one chunk."""
    if len(files) < 2:
        return 1
    try:
        webpages.select("_metadata.file_path")
    except AnalysisException:
        return len(files)
    wave = (
        spark.sparkContext.defaultParallelism
        * spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()  # noqa: SLF001
    )
    total = webpages._jdf.queryExecution().analyzed().stats().sizeInBytes()  # noqa: SLF001
    return min(len(files), max(1, len(files) * wave // max(int(total), 1)))


def _chunk_input(webpages: DataFrame, files: list[str]) -> DataFrame:
    """The input rows of `files` only; the file listing prunes on the
    _metadata predicate, so a chunk reads only its own files."""
    # inputFiles() spells an empty URI authority "file:///", _metadata as
    # Hadoop's Path does ("file:/")
    paths = [re.sub(r"^([A-Za-z][\w+.-]*):///", r"\1:/", f) for f in files]
    return webpages.where(F.col("_metadata.file_path").isin(paths))


def _ledger(io, run_id: str) -> list:
    if not io.exists("run_metrics"):
        return []
    return io.read("run_metrics").where(F.col("run_id") == run_id).collect()


def _ledger_row(spark: SparkSession, row: Row) -> DataFrame:
    """One run_metrics row as literals over a one-row range: built in the
    JVM, so committing a chunk starts no Python worker (createDataFrame
    would run a Python RDD)."""
    records = F.create_map(*[F.lit(x) for kv in row.records.items() for x in kv])
    return spark.range(0, 1, 1, 1).select(
        *[F.lit(v).alias(k) for k, v in row.asDict().items() if k != "records"],
        records.alias("records"),
    ).to(T.StructType.fromDDL(LEDGER_SCHEMA))


def run_to_sinks(
    spark: SparkSession,
    result: PipelineResult,
    io,
    write_texts: bool = False,
    run_id: str | None = None,
) -> dict[str, int]:
    """The job's only writer, resumable per chunk of input files.

    Each chunk's page_texts and log_records replace exactly their own
    (run_id, chunk) partitions, so a chunk that re-runs after a crash
    overwrites its partial output: no duplicates, no gaps. Then one
    run_metrics row commits the chunk (the ledger). A re-run with the same
    run_id skips committed chunks and reuses the run's observed_ts_us and
    chunk width, so resumed rows equal a clean run's; it refuses an input
    whose file list changed. An input of up to one scan wave is one chunk.
    The config is folded once per run, with the run's clock, and not at
    all when every chunk is committed; each chunk is then planned by one
    `record_plan` call over its own files. Pages in and per-sink counts
    ride the chunk's writes as Observations. When texts are written too,
    the chunk's parse output is cached for its two writes, so each page is
    parsed once. Returns the run's {sink: records}.
    """
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    files = sorted(result.webpages.inputFiles())
    digest = hashlib.md5("\n".join(files).encode()).hexdigest()
    rows = _ledger(io, run_id)
    if rows and rows[0]["input_digest"] != digest:
        raise ValueError(
            f"run {run_id}: input file list changed since the first attempt; "
            "start a new run_id"
        )
    if not rows:
        # an attempt that died before its first ledger row may have planned
        # other chunks: what it wrote cannot be told apart, so drop it all
        for table in ("page_texts", "log_records"):
            io.delete_partitions(table, "run_id", run_id)
    ts = rows[0]["observed_ts_us"] if rows else result.observed_ts_us
    width = rows[0]["chunk_files"] if rows else _chunk_width(spark, result.webpages, files)
    chunks = [files[i : i + width] for i in range(0, len(files), width)] or [files]
    done = {r["chunk"] for r in rows}
    todo = [k for k in range(len(chunks)) if k not in done]
    records = compile_records(result.cfg, result.routes, result.default_sink, ts) if todo else None
    # per-sink counts are algebraic count_if aggregates over the statically
    # known sink set, so they ride the write as an Observation. dedupe: a
    # route reusing default_sink (or two routes sharing a sink) must not
    # double-count
    sinks = dict.fromkeys((*(r.sink for r in result.routes), result.default_sink))
    per_sink = [F.count_if(F.col("sink") == s).alias(s) for s in sinks]

    pages_now = 0
    for k in todo:
        pages = result.webpages if len(chunks) == 1 else _chunk_input(result.webpages, chunks[k])
        pages_in, obs = Observation(), Observation()
        parsed, logs = record_plan(pages, records, pages_in)
        scope = {"run_id": F.lit(run_id), "chunk": F.lit(k)}

        # a chunk is one scan wave, so its cached parse output is bounded
        # by one wave's; it spills to disk when memory runs short
        if write_texts:
            parsed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if write_texts:
                io.overwrite_partitions(
                    page_texts(parsed).withColumns(scope), "page_texts", ["run_id", "chunk"]
                )
            # single pass, partitioned by sink (O20 fan-out without N scans)
            io.overwrite_partitions(
                logs.observe(obs, *per_sink).withColumns(scope),
                "log_records", ["sink", "run_id", "chunk"],
            )
        finally:
            if write_texts:
                parsed.unpersist()
        row = Row(run_id=run_id, chunk=k, chunk_files=width, input_digest=digest,
                  observed_ts_us=ts, pages_in=pages_in.get["pages"], records=obs.get)
        io.append(_ledger_row(spark, row), "run_metrics")
        rows.append(row)
        pages_now += row.pages_in

    totals = Counter()
    for r in rows:
        totals.update(r["records"])
    counts = {s: n for s, n in totals.items() if n > 0}
    result.metrics.update(
        run_id=run_id,
        chunks=len(chunks),
        chunks_skipped=len(done),
        pages_in=sum(r["pages_in"] for r in rows),
        pages_processed=pages_now,
        records=sum(counts.values()),
        per_sink_counts=counts,
    )
    return counts
