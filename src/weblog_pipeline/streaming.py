"""Structured Streaming variant of the pipeline: continuous webpage ingest
-> parse -> enrich -> route -> partitioned sink + windowed per-sink counts.

The reference consumes discrete trace batches statelessly
(ConsumeTraces per batch, no cross-batch state — connector.go:120-144), so
every pipeline stage here is a stateless streaming transform; exactly-once
delivery to the file sink comes from Spark's checkpoint + file-sink
manifest. The windowed aggregate adds the collector-style observability
counters over event time with a watermark for late data.

At scale this runs as readStream over an Iceberg/file source with
maxFilesPerTrigger bounding micro-batch size; the same compiled plan
(identical code path as batch) serves both modes.

The stateful operators (span sessions, the keyed quota, the CMS and HDR
cell counters, last-touch attribution and the four day-close monitors)
are per-key steps mapped by one stateful stage, `_stateful`, the
module's one `applyInPandasWithState` call. It hands a step its key's
state and rows as plain tuples with exact values (None for NULL, an int
for every integral column) and builds the output from the step's tuples,
so no operator touches pandas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import (
    ANOMALY_MIN_BASE_DAYS,
    ANOMALY_Z,
    ATTRIBUTION_CONVERSION_TYPE,
    ATTRIBUTION_TOUCH_TYPES,
    ATTRIBUTION_WINDOW_S,
    ATTRIBUTION_WINDOW_US,
    HDR_BUCKET_WIDTH,
    TRENDING_RECENT_DAYS,
    TRENDING_WINDOW_DAYS,
    epoch_day,
)
from .config import DEFAULT_ROUTES, DEFAULT_SINK, PipelineConfig
from .pipeline import compile_records, record_plan
from .webpages import WEBPAGES_SCHEMA


def streaming_logs(
    spark: SparkSession,
    input_path: str,
    cfg: PipelineConfig,
    observed_ts_us: int,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Streaming DataFrame of routed log records from a file source."""
    stream = (
        spark.readStream.schema(WEBPAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    records = compile_records(cfg, DEFAULT_ROUTES, DEFAULT_SINK, observed_ts_us)
    _, logs = record_plan(stream, records)
    return logs


def start_sink_writer(logs: DataFrame, output_path: str, checkpoint_path: str):
    """Exactly-once partitioned fan-out write (one stream, all sinks) of
    everything available now."""
    return (
        logs.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_sink_counts(logs: DataFrame) -> DataFrame:
    """Per-sink counts over 1-hour event-time windows with a 2-hour
    late-data watermark."""
    return (
        logs.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "sink")
        .agg(F.count(F.lit(1)).alias("records"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sink",
            "records",
        )
    )


def dedup_stream(pages: DataFrame) -> DataFrame:
    """Streaming exact deduplication: keep the first arrival of each
    normalized content hash, dropping any later duplicate whose event time
    falls within the 2-hour watermark horizon
    (dropDuplicatesWithinWatermark — the streaming twin of
    `ops.dedup.exact_duplicates`).

    The watermark is what makes this viable at 100 TB-equivalent rates:
    state holds one (hash, ts) entry per document seen in the horizon and
    Spark evicts entries older than the watermark every batch — unbounded
    `dropDuplicates` state would grow with the full corpus and OOM the
    state store. Crawl revisits cluster in time, so a horizon of hours
    catches the duplicate mass; corpus-wide history dedup remains the
    batch pipeline's job (`dedup_pipeline`).
    """
    from .ops.dedup import content_hash_col

    hashed = pages.withColumn("content_hash", content_hash_col("text"))
    return hashed.withWatermark(
        "warc_ts", "2 hours"
    ).dropDuplicatesWithinWatermark(["content_hash"])


# ---------------------------------------------------------------------------
# the stateful stage: per-key steps over applyInPandasWithState
# ---------------------------------------------------------------------------


def _stateful(df: DataFrame, keys: list[str], step, schema: str,
              state_schema: str, mode: str) -> DataFrame:
    """The one stateful stage: group `df` by `keys` and call
    `step(state, rows) -> (new_state, out_rows)` once per key and
    micro-batch. `state` is the key's stored tuple, or None before its
    first update; `rows` are all of the key's rows in the micro-batch,
    from every Arrow chunk, as tuples of `df`'s columns in select order.
    A returned state of None leaves the stored one as it is; `out_rows`
    are tuples in `schema`'s field order.

    Values cross exactly both ways: NULL is None and every integral
    column is an int. pandas would hand a nullable BIGINT over as
    float64 (NaN for NULL, and 1755000000123456789 beside a NULL reads
    back 21 ns off), so integral columns cross as strings, and the
    output is built from object columns.
    """
    from pyspark.sql.types import IntegralType, StructType

    ints = [isinstance(f.dataType, IntegralType) for f in df.schema]
    names = StructType.fromDDL(schema).fieldNames()
    # the keys keep their types (the state store's key schema); the rows
    # ride beside them as positional copies, integral ones as strings
    wire = df.select(*keys, *(
        (F.col(c).cast("string") if i else F.col(c)).alias(f"_{n}")
        for n, (c, i) in enumerate(zip(df.columns, ints))
    ))

    def apply(_key, chunks, state):
        import pandas as pd

        rows = []
        for pdf in chunks:
            vals = pdf.iloc[:, len(keys):].astype(object)
            vals = vals.where(vals.notna(), None)
            rows.extend(zip(*(
                [None if v is None else int(v) for v in col] if i else col.tolist()
                for (_, col), i in zip(vals.items(), ints)
            )))
        new, out = step(state.getOption, rows)
        if new is not None:
            state.update(new)
        yield pd.DataFrame({
            name: pd.Series([r[j] for r in out], dtype=object)
            for j, name in enumerate(names)
        })

    return wire.groupBy(*keys).applyInPandasWithState(
        apply, outputStructType=schema, stateStructType=state_schema,
        outputMode=mode, timeoutConf="NoTimeout",
    )


def _nulls_last(*values) -> list:
    """Sort key over `values` that orders NULLs after every value, so a
    NULL sort key sorts last instead of raising on None < int."""
    return [(v is None, v) for v in values]


def _close_days(rows, day, n, close, fold=None):
    """The day-close loop of the per-day monitors, over rows of (key,
    day, ...): walk them in (day, ...) order, NULL days skipped (a row
    without a timestamp has no day), and call `close(day, n)` on the open
    day when a later day's first row arrives; `fold(row)`, if given, sees
    each row after any close. Returns the still-open (day, n)."""
    for row in sorted((r for r in rows if r[1] is not None),
                      key=lambda r: _nulls_last(*r[1:])):
        if row[1] != day:
            if day is not None:
                close(day, n)
            day, n = row[1], 0
        n += 1
        if fold:
            fold(row)
    return day, n


def _count_step(state, rows):
    """A sketch cell's running counter over rows of its key: emits the
    new total, which only grows, so the final value is max(cnt)."""
    cnt = (state[0] if state else 0) + len(rows)
    return (cnt,), [(*rows[0], cnt)]


# ---------------------------------------------------------------------------
# stateful operator: span sessionization
# ---------------------------------------------------------------------------

SESSION_SCHEMA = (
    "span_id string, n_events long, first_ts_ns long, last_ts_ns long, "
    "max_severity int"
)
_SESSION_STATE_SCHEMA = "n long, first long, last long, maxsev int"


def span_sessions_stateful(logs: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator: per-span session summaries that
    accumulate across micro-batches in the state store.

    The reference has no cross-batch state (connector.go:120-144 is
    stateless per ConsumeTraces call); this is a north-rule/brief addition:
    a span's events may arrive over many micro-batches, and the session
    row (event count, first/last event time, max severity) must reflect
    ALL of them — exactly the thing a stateless map cannot do. Output mode
    is `update`: every micro-batch emits the current summary for each span
    it touched; the LAST update per span equals the batch groupBy twin
    (`span_sessions`), which is how the equivalence test pins semantics.

    At 100 TB-equivalent stream rates the state is one tiny fixed-width
    row per live span, hash-partitioned by span_id (the groupBy key), and
    Spark's HDFS-backed state store checkpoints it per batch.
    """

    def summarize(state, rows):
        n, first, last, maxsev = state or (0, None, None, None)
        # like the batch twin's MIN/MAX, NULLs are ignored (an all-NULL
        # span stays NULL) and negative (int32-wrap) severities are kept
        ts = [v for v in (first, last, *(r[1] for r in rows)) if v is not None]
        sev = [v for v in (maxsev, *(r[2] for r in rows)) if v is not None]
        new = (n + len(rows), min(ts, default=None), max(ts, default=None),
               max(sev, default=None))
        return new, [(rows[0][0], *new)]

    pruned = logs.select("span_id", "ts_ns", "severity_number")
    return _stateful(pruned, ["span_id"], summarize, SESSION_SCHEMA,
                     _SESSION_STATE_SCHEMA, "update")


def span_sessions(logs: DataFrame) -> DataFrame:
    """Batch twin of span_sessions_stateful: one groupBy, map-side combine,
    shuffle keyed by span_id only — the plan you want at any scale."""
    return logs.groupBy("span_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_ns").alias("first_ts_ns"),
        F.max("ts_ns").alias("last_ts_ns"),
        F.max("severity_number").cast("int").alias("max_severity"),
    )


def streaming_otlp_events(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Continuous OTLP/JSON-lines ingest — span events from the
    reference's own wire format (otlp.py) as an unbounded stream. The
    decode is the SAME from_json + explode plan as batch: stateless, so
    micro-batch output ≡ batch output on identical files.

    This is the streaming twin of the collector's trace receiver: drop
    OTLP export files into a directory and every span event flows through
    enrich/route exactly once (file-source manifest + sink checkpoint).
    """
    from .otlp import decode_otlp

    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .text(input_path)
    )
    return decode_otlp(stream, json_col="value")


def streaming_otlp_logs(
    spark: SparkSession,
    input_path: str,
    cfg: PipelineConfig,
    observed_ts_us: int,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Routed log records from a streaming OTLP/JSON directory: the full
    enrich -> route pipeline over the OTLP source (all stateless)."""
    events = streaming_otlp_events(spark, input_path, max_files_per_trigger)
    # OTLP carries no web-crawl provenance; the page-grain columns the
    # enrich projection expects are NULL for wire-ingested events
    events = (
        events.withColumn("url", F.lit(None).cast("string"))
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
        .withColumn("lang", F.lit(None).cast("string"))
    )
    records = compile_records(cfg, DEFAULT_ROUTES, DEFAULT_SINK, observed_ts_us)
    return records(events)


# ---------------------------------------------------------------------------
# stateful operator: per-key daily quota
# ---------------------------------------------------------------------------

QUOTA_SCHEMA = (
    "event_id long, user_id long, win_start long, seq integer, allowed boolean"
)
_QUOTA_STATE_SCHEMA = "cnt long"


def keyed_quota_stateful(events: DataFrame, k: int = 3) -> DataFrame:
    """Streaming twin of aggregate.keyed_quota: per-(key, event-time day)
    arrival counter in the state store, emitting every event's quota
    verdict as it arrives (output mode `append` — a verdict never
    changes once issued).

    The state KEY is (user_id, win_start), not user_id alone: one long
    per live (key, day), no window ordering assumption across days, and
    day strata expire from the state store independently. Within a
    micro-batch the group is sorted by (ts, event_id) before sequencing,
    so replaying time-ordered files reproduces the batch twin exactly
    (the same ordered-arrival contract the sessionization test uses).

    At 100 TB-equivalent rates the state is ONE counter per active
    (key, day) — fixed width, hash-partitioned by the grouping key.
    """

    def quota(state, rows):
        cnt = state[0] if state else 0
        # one (ts, event_id) order over the whole group: its Arrow chunks
        # arrive in no guaranteed order
        rows = sorted(rows, key=lambda r: _nulls_last(r[2], r[0]))
        out = [(eid, user, win, seq, seq <= k)
               for seq, (eid, user, _, win) in enumerate(rows, cnt + 1)]
        return (cnt + len(rows),), out

    keyed = events.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        (epoch_day() * 86400).alias("win_start"),
    )
    return _stateful(keyed, ["user_id", "win_start"], quota, QUOTA_SCHEMA,
                     _QUOTA_STATE_SCHEMA, "append")


#: emitted per updated CMS cell per micro-batch; counters are monotone so
#: the final grid is max(cnt) per (row, bucket) over the emitted log.
CMS_CELL_SCHEMA = "row int, bucket long, cnt long"
_CMS_STATE_SCHEMA = "cnt long"


def cms_stream(documents: DataFrame, depth: int | None = None,
               width: int | None = None) -> DataFrame:
    """Streaming count-min sketch — the continuous-monitoring twin of
    textstats.cms_heavy_hitters' batch grid: token cell hits derive from
    the SAME cms_cell_rows expression, and each (row, bucket) cell keeps
    one running counter in the state store, emitting its new total every
    micro-batch it is touched (append-safe: each emission is a new,
    strictly larger total — the final grid is max(cnt) per cell).

    The 100 TB story is the STATE BOUND: the store holds at most
    depth*width keys (the sketch geometry) no matter how long the stream
    runs or how large the token vocabulary grows — the property that
    makes CMS the monitoring sketch. Contrast dedup_stream, whose state
    is one key per distinct content hash inside the watermark.
    """
    from .ops.dedup import lower_tokens_col
    from .ops.textstats import CMS_DEPTH, CMS_WIDTH, cms_cell_rows

    toks = documents.select(
        F.explode(lower_tokens_col()).alias("token")
    ).where(F.col("token") != "")
    cells = cms_cell_rows(
        toks,
        depth=CMS_DEPTH if depth is None else depth,
        width=CMS_WIDTH if width is None else width,
    )
    return _stateful(cells.select("row", "bucket"), ["row", "bucket"], _count_step,
                     CMS_CELL_SCHEMA, _CMS_STATE_SCHEMA, "append")


#: streaming HDR histogram cells: running totals are append-safe because
#: each emission is strictly larger; final histogram = max(cnt) per cell.
HDR_CELL_SCHEMA = "event_type string, bucket int, cnt long"
_HDR_STATE_SCHEMA = "cnt long"


def hdr_stream(events: DataFrame) -> DataFrame:
    """Streaming HDR latency histogram — the continuous-monitoring twin
    of aggregate.value_percentiles' batch histogram: bucket assignment is
    the SAME floor(value / HDR_BUCKET_WIDTH) expression, and each
    (event_type, bucket) cell keeps one running counter in the state
    store, emitting its new total every micro-batch it is touched
    (append-safe: each emission is a new, strictly larger total — the
    final histogram is max(cnt) per cell, and percentiles read off its
    cumulative sums).

    The 100 TB story is the STATE BOUND: like cms_stream, the store
    holds at most |event types| x |buckets| keys — the histogram
    geometry — no matter how long the stream runs or how many events
    pass; that is what makes fixed-width histograms THE production
    latency-SLO sketch (HDR/DDSketch shape).
    """
    cells = events.select(
        "event_type",
        F.floor(F.col("value") / F.lit(HDR_BUCKET_WIDTH))
        .cast("int")
        .alias("bucket"),
    )
    return _stateful(cells, ["event_type", "bucket"], _count_step,
                     HDR_CELL_SCHEMA, _HDR_STATE_SCHEMA, "append")


#: emitted once per conversion, as it arrives (append-safe: an
#: attribution verdict never changes once issued under ordered replay).
ATTR_SCHEMA = (
    "conv_id long, user_id long, touch_id long, touch_type string, "
    "delta_us long"
)
_ATTR_STATE_SCHEMA = "touch_us long, touch_id long, touch_type string"


def attribution_stateful(events: DataFrame) -> DataFrame:
    """Streaming twin of aggregate.attribution_last_touch: one
    (touch_us, touch_id, touch_type) triple per live user in the state
    store — the user's latest touch so far — and every conversion emits
    its verdict the moment it arrives (append mode). Within a
    micro-batch the group is sorted by (ts_us, event_id) — the
    keyed_quota discipline — so processing order IS the
    strictly-earlier order: a touch sharing the conversion's timestamp
    with a lower event_id lands in state before the conversion, one
    with a higher id after it, reproducing the batch twin's tie rule
    exactly under ordered replay.

    The 100 TB story: state is ONE fixed-width row per live user
    (contrast the batch side's range-bucket join, which re-derives
    candidates from scratch each run); the lookback window applies at
    emit time, so stale touches cost nothing but their row.
    """
    touches = set(ATTRIBUTION_TOUCH_TYPES)

    def attrib(state, rows):
        cur_us, cur_id, cur_type = state or (None, None, None)
        out = []
        for eid, user, etype, us in sorted(rows, key=lambda r: _nulls_last(r[3], r[0])):
            if etype in touches:
                if cur_us is None or (us, eid) > (cur_us, cur_id):
                    cur_us, cur_id, cur_type = us, eid, etype
            elif etype == ATTRIBUTION_CONVERSION_TYPE:
                if cur_us is not None and us - cur_us <= ATTRIBUTION_WINDOW_US:
                    out.append((eid, user, cur_id, cur_type, us - cur_us))
                else:
                    out.append((eid, user, -1, "none", -1))
        # a user with no touch yet keeps no state row
        return (None if cur_us is None else (cur_us, cur_id, cur_type)), out

    keyed = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return _stateful(keyed, ["user_id"], attrib, ATTR_SCHEMA,
                     _ATTR_STATE_SCHEMA, "append")


ANOM_SCHEMA = (
    "event_type string, day long, n_events long, base_days long, "
    "base_sum long, is_anomaly boolean"
)
_ANOM_STATE_SCHEMA = (
    "hist_days array<long>, hist_counts array<long>, cur_day long, "
    "cur_cnt long"
)


def anomaly_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of aggregate.daily_anomalies: per event type the
    state store holds the trailing <=7 CLOSED days' counts plus the
    open day's running counter — a fixed-width row per key, however
    long the stream runs. A day closes (and emits its verdict, append-
    safe: verdicts never change) when a later day's first event
    arrives for that key; the integer cross-multiplied z-test is the
    batch op's exactly, so ordered replay reproduces the batch output
    verbatim on every closed day (the open day has no verdict yet —
    the batch-twin pytest drops each key's last day before comparing).

    Rows are day-sorted within each micro-batch (the keyed_quota
    discipline); cross-batch disorder is out of scope — production
    would put a watermark-delayed day-close upstream.
    """

    def step(state, rows):
        hd, hc, day, n = state or ([], [], None, 0)
        hd, hc, out = list(hd), list(hc), []

        def close(day, cnt):
            w, s1, s2 = len(hd), sum(hc), sum(c * c for c in hc)
            lhs = w * cnt - s1
            flag = (w >= ANOMALY_MIN_BASE_DAYS
                    and lhs * lhs > ANOMALY_Z * ANOMALY_Z * (w * s2 - s1 * s1))
            out.append((rows[0][0], day, cnt, w, s1, flag))
            hd.append(day)
            hc.append(cnt)
            del hd[:-7], hc[:-7]

        return (hd, hc, *_close_days(rows, day, n, close)), out

    days = events.select("event_type", epoch_day().alias("day"))
    return _stateful(days, ["event_type"], step, ANOM_SCHEMA,
                     _ANOM_STATE_SCHEMA, "append")


def touch_conversion_join(events: DataFrame) -> DataFrame:
    """STREAM-STREAM event-time interval join — the Structured
    Streaming operator family the stateful ops don't exercise: the
    touch stream joins the conversion stream of the SAME source on
    user_id with the as-of range condition

        conv_ts - window <= touch_ts < conv_ts        (strictly earlier)

    with the attribution window (ATTRIBUTION_WINDOW_S, 7 days). Both
    sides carry 1-hour watermarks, so Spark can bound the join state: a
    touch row is dropped from state once the conversion watermark
    passes touch_ts + window (this is THE reason stream-stream joins
    require event-time bounds — unbounded conditions would accumulate
    every touch forever). Emits every in-window (touch, conversion)
    pair (append-safe); the last-touch winner is a downstream
    per-conversion max — attribution_stateful is the fused alternative
    when only the winner matters.

    Output: conv_id, user_id, touch_id, touch_type, delta_us.
    """
    touches = (
        events.where(F.col("event_type").isin(*ATTRIBUTION_TOUCH_TYPES))
        .select(
            F.col("event_id").alias("touch_id"),
            F.col("user_id").alias("t_user"),
            F.col("event_type").alias("touch_type"),
            F.col("ts").alias("t_ts"),
        )
        .withWatermark("t_ts", "1 hour")
    )
    convs = (
        events.where(F.col("event_type") == ATTRIBUTION_CONVERSION_TYPE)
        .select(
            F.col("event_id").alias("conv_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = touches.join(
        convs,
        (F.col("t_user") == F.col("c_user"))
        & (F.col("t_ts") < F.col("c_ts"))
        & (F.col("t_ts") >= F.col("c_ts") - F.expr(
            f"INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS"
        )),
        "inner",
    )
    return joined.select(
        "conv_id",
        F.col("c_user").alias("user_id"),
        "touch_id",
        "touch_type",
        (
            F.unix_micros(F.col("c_ts").cast("timestamp_ltz"))
            - F.unix_micros(F.col("t_ts").cast("timestamp_ltz"))
        ).alias("delta_us"),
    )


CUSUM_SCHEMA = (
    "event_type string, day long, n_events long, cusum long, "
    "is_alarm boolean"
)
_CUSUM_STATE_SCHEMA = "cur_day long, cur_cnt long, s long"


def cusum_stream(events: DataFrame, ref: int = 8,
                 h: int = 32) -> DataFrame:
    """Online CUSUM control chart per event type — the streaming
    counterpart of aggregate.cusum_alerts, in the chart's ONLINE form:
    a FIXED reference count `ref` (the batch op derives its slack from
    the full series, which a stream never has), the textbook recurrence

        S <- max(0, S + (n_day - ref)),  alarm when S > h

    applied each time a day CLOSES (a later day's first event arrives —
    the anomaly_stream day-close discipline). State per key is three
    scalars (open day, its running count, the accumulated S): fixed
    width forever, no history array at all — CUSUM's recurrence IS its
    own sufficient statistic, which is why the chart was built for
    streaming in 1954.

    Emits one append-safe verdict row per closed day; ordered replay
    reproduces the same recurrence a batch pass over closed days
    computes (the batch-twin pytest runs the pure-Python recurrence).
    """

    def step(state, rows):
        day, n, s = state or (None, 0, 0)
        out = []

        def close(day, cnt):
            nonlocal s
            s = max(0, s + (cnt - ref))
            out.append((rows[0][0], day, cnt, s, s > h))

        day, n = _close_days(rows, day, n, close)
        return (day, n, s), out

    days = events.select("event_type", epoch_day().alias("day"))
    return _stateful(days, ["event_type"], step,
                     CUSUM_SCHEMA, _CUSUM_STATE_SCHEMA, "append")


TREND_SCHEMA = (
    "item long, day long, n_events long, w_total long, "
    "w_recent long, trending long"
)
_TREND_STATE_SCHEMA = (
    "days array<long>, counts array<long>, cur_day long, cur_cnt long"
)


def trending_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of aggregate.trending_items: per item the state
    store holds the trailing <= TRENDING_WINDOW_DAYS
    closed (day, count) pairs plus the open day's running counter, a
    fixed-width row per live item forever. A day closes (and emits,
    append-safe) when a later day's first event arrives for that item;
    the emitted masses are the batch op's exact power-of-two shifts
    evaluated at that item's history ending on the closing day, so the
    verdict equals trending_items run over everything the item has
    seen up to that day (the batch-twin pytest). The batch
    `min_events` gate is a presentation filter and deliberately
    omitted here — the stream emits every closed day.

    Day ordering discipline matches anomaly_stream: rows are day-sorted
    within a micro-batch; cross-batch disorder is a watermark's job
    upstream.
    """

    def step(state, rows):
        hd, hc, day, n = state or ([], [], None, 0)
        hd, hc, out = list(hd), list(hc), []

        def close(day, cnt):
            hd.append(day)
            hc.append(cnt)
            del hd[:-TRENDING_WINDOW_DAYS], hc[:-TRENDING_WINDOW_DAYS]
            n_ev = w_tot = w_rec = 0
            for d2, c2 in zip(hd, hc):
                age = day - d2
                if age >= TRENDING_WINDOW_DAYS:
                    continue
                w = c2 << (TRENDING_WINDOW_DAYS - 1 - age)
                n_ev += c2
                w_tot += w
                if age < TRENDING_RECENT_DAYS:
                    w_rec += w
            out.append((rows[0][0], day, n_ev, w_tot, w_rec,
                        1 if 2 * w_rec > w_tot else 0))

        return (hd, hc, *_close_days(rows, day, n, close)), out

    cells = (
        events.where(
            F.col("props").isNotNull()
            & F.get_json_object("props", "$.k").isNotNull()
        )
        .select(
            F.get_json_object("props", "$.k").cast("long").alias("item"),
            epoch_day().alias("day"),
        )
    )
    return _stateful(cells, ["item"], step, TREND_SCHEMA,
                     _TREND_STATE_SCHEMA, "append")


KMV_STREAM_SCHEMA = (
    "event_type string, day long, n_kept long, h_k long, est long"
)
_KMV_STATE_SCHEMA = "hs array<long>, cur_day long"


def kmv_stream(events: DataFrame, k: int = 64) -> DataFrame:
    """Streaming twin of aggregate.kmv_audit, and the reason KMV (not
    HLL) is the audit sketch this engine
    ships: its state is just the k smallest distinct 52-bit hashes, a
    fixed-width sorted array maintained by plain insert, mergeable by
    min. Per event type the state holds that array plus the open day;
    a day close (first event of a later day) emits the sketch over
    everything seen so far — append-safe, day-close discipline of
    anomaly_stream. est = (k-1) * 2^52 DIV h_k once the set is full,
    else n_kept (the sketch IS exact below k — matching the batch op's
    exact-below-k rule absent hash collisions).

    Hashes are computed with Python's md5 in the state function —
    byte-identical to Spark's and DuckDB's md5 of the same string, so
    the emitted rows equal the batch op on the prefix (batch-twin
    pytest). A NULL user adds no hash.
    """
    import bisect
    import hashlib

    two52 = 1 << 52

    def step(state, rows):
        hs, day = state or ([], None)
        hs, out = list(hs), []

        def emit(day, _):
            h_k = hs[-1] if hs else 0
            est = len(hs) if len(hs) < k else (k - 1) * two52 // h_k
            out.append((rows[0][0], day, len(hs), h_k, est))

        def add(row):
            if row[2] is None:
                return
            h = int(hashlib.md5(f"kmv:{row[2]}".encode()).hexdigest()[:13], 16)
            if len(hs) < k or h < hs[-1]:
                i = bisect.bisect_left(hs, h)
                if i >= len(hs) or hs[i] != h:  # distinct-hash set
                    hs.insert(i, h)
                    del hs[k:]

        day, _ = _close_days(rows, day, 0, emit, add)
        return (hs, day), out

    days = events.select("event_type", epoch_day().alias("day"), "user_id")
    return _stateful(days, ["event_type"], step, KMV_STREAM_SCHEMA,
                     _KMV_STATE_SCHEMA, "append")
