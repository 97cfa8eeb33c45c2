"""Streaming pipeline: availableNow micro-batch run equals the batch result;
restart from checkpoint is exactly-once."""

from collections import Counter

from weblog_pipeline.config import PipelineConfig
from weblog_pipeline.driver_queries import OBSERVED_TS_US
from weblog_pipeline.generate import gen_page
from weblog_pipeline.oracle import process_page
from weblog_pipeline.streaming import start_sink_writer, streaming_logs
from weblog_pipeline.webpages import generate_webpages

CFG = PipelineConfig(add_level=True)
N = 90


def _oracle_sink_counts():
    c: Counter = Counter()
    for i in range(N):
        page = gen_page(i)
        _, recs = process_page(CFG, page.url, page.html, OBSERVED_TS_US)
        c.update(r.sink for r in recs)
    return dict(c)


def test_streaming_matches_batch_and_is_exactly_once(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    generate_webpages(spark, N, partitions=3).write.parquet(inp)

    logs = streaming_logs(spark, inp, CFG, OBSERVED_TS_US, max_files_per_trigger=1)
    q = start_sink_writer(logs, out, ckpt)
    q.awaitTermination(120)

    got = {
        r["sink"]: r["n"]
        for r in spark.read.parquet(out).groupBy("sink").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == _oracle_sink_counts()

    # restart with no new input: checkpoint prevents reprocessing
    q2 = start_sink_writer(
        streaming_logs(spark, inp, CFG, OBSERVED_TS_US, max_files_per_trigger=1),
        out, ckpt,
    )
    q2.awaitTermination(120)
    got2 = {
        r["sink"]: r["n"]
        for r in spark.read.parquet(out).groupBy("sink").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got2 == got

def test_stateful_sessions_accumulate_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: the LAST update per span (state carried
    across micro-batches; maxFilesPerTrigger=1 forces several) must equal
    the batch groupBy twin."""
    from weblog_pipeline.streaming import span_sessions, span_sessions_stateful

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    generate_webpages(spark, N, partitions=3).write.parquet(inp)

    logs = streaming_logs(spark, inp, CFG, OBSERVED_TS_US, max_files_per_trigger=1)
    sessions = span_sessions_stateful(logs)

    # update-mode rows land via foreachBatch (file sinks are append-only)
    from pyspark.sql import functions as F

    def sink_batch(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        sessions.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # the final state per span is its update from the latest batch (updates
    # are monotone in n_events, so ordering by n_events is equivalent)
    updates = spark.read.parquet(out)
    final = {
        r["span_id"]: (r["n_events"], r["first_ts_ns"], r["last_ts_ns"], r["max_severity"])
        for r in updates.orderBy("batch_id").collect()  # later overwrites earlier
    }

    from weblog_pipeline.config import DEFAULT_ROUTES, DEFAULT_SINK
    from weblog_pipeline.enrich import log_record_columns
    from weblog_pipeline.parse import event_rows, parse_events

    wp = spark.read.parquet(inp).where("html IS NOT NULL")
    blogs = event_rows(parse_events(wp)).select(
        *log_record_columns(CFG, DEFAULT_ROUTES, DEFAULT_SINK, OBSERVED_TS_US)
    )
    expected = {
        r["span_id"]: (r["n_events"], r["first_ts_ns"], r["last_ts_ns"], r["max_severity"])
        for r in span_sessions(blogs).collect()
    }
    assert final == expected
    # state genuinely crossed micro-batches: some span saw >1 update
    n_updates = updates.count()
    assert n_updates > len(expected)


def test_stateful_sessions_null_and_negative_severity(spark, tmp_path):
    """All-NULL-severity spans must not crash the stateful op (NaN through
    Arrow) and negative (int32-wrap) severities must not be floored at 0 —
    both must match the batch twin's MAX semantics."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from weblog_pipeline.streaming import span_sessions, span_sessions_stateful

    schema = T.StructType(
        [
            T.StructField("span_id", T.StringType()),
            T.StructField("ts_ns", T.LongType()),
            T.StructField("severity_number", T.IntegerType()),
        ]
    )
    rows = [
        Row(span_id="allnull", ts_ns=10, severity_number=None),
        Row(span_id="allnull", ts_ns=20, severity_number=None),
        Row(span_id="negative", ts_ns=5, severity_number=-2),
        Row(span_id="negative", ts_ns=7, severity_number=None),
        Row(span_id="nullts", ts_ns=None, severity_number=9),
        Row(span_id="nullts", ts_ns=None, severity_number=None),
        Row(span_id="bigts", ts_ns=None, severity_number=13),
        Row(span_id="bigts", ts_ns=1755000000123456789, severity_number=None),
    ]
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch_df = spark.createDataFrame(rows, schema)
    batch_df.write.parquet(inp)

    stream = spark.readStream.schema(schema).parquet(inp)
    q = (
        span_sessions_stateful(stream)
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["span_id"]: (r["n_events"], r["first_ts_ns"], r["last_ts_ns"], r["max_severity"])
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        r["span_id"]: (r["n_events"], r["first_ts_ns"], r["last_ts_ns"], r["max_severity"])
        for r in span_sessions(batch_df).collect()
    }
    assert got == expected
    assert got["allnull"] == (2, 10, 20, None)
    assert got["negative"] == (2, 5, 7, -2)


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """Streaming exact dedup must drop duplicates even when the copy
    arrives in a LATER micro-batch (cross-batch state), keeping exactly
    one row per normalized content hash."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from weblog_pipeline.streaming import dedup_stream
    from weblog_pipeline.webpages import WEBPAGES_SCHEMA

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = __import__("datetime").datetime(2025, 7, 4)

    def page(i, text):
        return Row(
            url=f"https://ex.com/{i}",
            warc_ts=base + __import__("datetime").timedelta(seconds=i),
            html=bytearray(f"<p>{text}</p>".encode()),
            text=text,
            lang="en",
        )

    # file 1: docs A, B; file 2: duplicate of A (different url/ts) + C
    spark.createDataFrame(
        [page(0, "alpha beta"), page(1, "gamma")], WEBPAGES_SCHEMA
    ).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(
        [page(2, "Alpha  beta"), page(3, "delta")], WEBPAGES_SCHEMA
    ).coalesce(1).write.parquet(inp + "/f2")

    stream = (
        spark.readStream.schema(WEBPAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
    )
    q = (
        dedup_stream(stream)
        .select("url", "content_hash")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    # "Alpha  beta" normalizes to the same hash as "alpha beta" -> dropped
    hashes = [r["content_hash"] for r in rows]
    assert len(hashes) == len(set(hashes)) == 3
    kept_urls = {r["url"] for r in rows}
    assert "https://ex.com/2" not in kept_urls


def test_streaming_otlp_ingest_equals_batch(spark, tmp_path):
    """OTLP/JSON files streamed through enrich->route produce exactly the
    rows the batch pipeline derives from the same span events."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from weblog_pipeline import otlp
    from weblog_pipeline.config import DEFAULT_ROUTES, DEFAULT_SINK
    from weblog_pipeline.enrich import log_record_columns
    from weblog_pipeline.streaming import streaming_otlp_logs

    events = [
        Row(
            event_name=name,
            ts_ns=1_751_587_200_000_000_000 + i,
            trace_id=f"{i:032x}",
            span_id=f"{i:016x}",
            span_name="s",
            span_kind="Server",
            trace_state="",
            event_attrs_s={"lvl": "info"},
            event_attrs_i={"k": i},
            span_attrs={"http.method": "GET"},
            res_attrs={"service.name": "svc"},
        )
        for i, name in enumerate(
            ["exception", "retry", "backend.db.write", "custom"]
        )
    ]
    df = spark.createDataFrame(events)
    inp = str(tmp_path / "otlp_in")
    otlp.write_otlp_jsonl(df, inp)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    logs = streaming_otlp_logs(spark, inp, CFG, OBSERVED_TS_US, max_files_per_trigger=1)
    (
        logs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out)

    batch_events = (
        otlp.decode_otlp(otlp.encode_otlp(df))
        .withColumn("url", F.lit(None).cast("string"))
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
        .withColumn("lang", F.lit(None).cast("string"))
    )
    want = batch_events.select(
        *log_record_columns(CFG, DEFAULT_ROUTES, DEFAULT_SINK, OBSERVED_TS_US)
    )
    w_rows = {tuple(str(v) for v in r) for r in want.collect()}
    g_rows = {tuple(str(v) for v in r) for r in got.select(*want.columns).collect()}
    assert g_rows == w_rows and len(g_rows) == 4
    sinks = {r["sink"] for r in got.collect()}
    assert "sink_errors" in sinks and "sink_retries" in sinks


def test_keyed_quota_stateful_equals_batch_twin(spark, tmp_path):
    """Cross-batch quota state: a user's day spanning two micro-batches
    must keep counting where the first batch stopped; the final rows
    equal the batch twin exactly (same seq, same allowed verdicts)."""
    import datetime

    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from weblog_pipeline.aggregate import keyed_quota
    from weblog_pipeline.streaming import keyed_quota_stateful

    base = datetime.datetime(2025, 7, 4)
    schema = "event_id long, user_id long, ts timestamp"

    def ev(i, user, secs):
        return Row(event_id=i, user_id=user, ts=base + datetime.timedelta(seconds=secs))

    # user 7: 5 events on day 1 (k=3 -> 2 deferred), split across files
    # 1 and 2; plus a day-2 event (fresh counter). user 8: 2 events.
    f1 = [ev(0, 7, 10), ev(1, 7, 20), ev(2, 8, 30)]
    f2 = [ev(3, 7, 40), ev(4, 7, 50), ev(5, 7, 60), ev(6, 8, 70),
          ev(7, 7, 90000)]  # 90000 s > 1 day -> new window
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(f2, schema).coalesce(1).write.parquet(inp + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
    )
    q = (
        keyed_quota_stateful(stream, k=3)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = keyed_quota(
        spark.createDataFrame(f1 + f2, schema), k=3
    )
    got = {
        r["event_id"]: (r["user_id"], r["win_start"], r["seq"], r["allowed"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["event_id"]: (r["user_id"], r["win_start"], r["seq"], r["allowed"])
        for r in batch.collect()
    }
    assert got == want
    assert [want[i][2] for i in (0, 1, 3, 4, 5)] == [1, 2, 3, 4, 5]
    assert [want[i][3] for i in (0, 1, 3, 4, 5)] == [True, True, True, False, False]
    assert want[7][2] == 1 and want[7][3]  # day-2 counter starts fresh


def test_keyed_quota_stateful_group_spanning_arrow_chunks(spark, tmp_path):
    """One (user, day) group larger than an Arrow batch arrives as
    MULTIPLE pandas chunks in a single micro-batch, in no guaranteed
    order. seq/allowed must come from one global (ts, event_id) sort of
    the whole group, not chunk-local sorts (regression: rows are written
    in DESCENDING ts order, so any chunk-local sequencing diverges)."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import keyed_quota
    from weblog_pipeline.streaming import keyed_quota_stateful

    base = datetime.datetime(2025, 7, 4)
    schema = "event_id long, user_id long, ts timestamp"
    n = 100
    rows = [
        Row(event_id=i, user_id=7,
            ts=base + datetime.timedelta(seconds=10 * (n - i)))
        for i in range(n)  # event_id 99 is EARLIEST; written first-to-last
    ]
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(inp)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        q = (
            keyed_quota_stateful(
                spark.readStream.schema(schema).parquet(inp), k=3
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {
        r["event_id"]: (r["seq"], r["allowed"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["event_id"]: (r["seq"], r["allowed"])
        for r in keyed_quota(spark.createDataFrame(rows, schema), k=3).collect()
    }
    assert got == want
    # earliest ts (highest event_id) holds seq 1 and is allowed
    assert got[n - 1] == (1, True)
    assert got[0] == (n, False)


def test_cms_stream_equals_batch_grid(spark, tmp_path):
    """The streaming CMS counters, replayed over two micro-batches, must
    converge to EXACTLY the batch sketch grid (max emitted total per
    cell == the batch (row, bucket) aggregate), and a cell hit in both
    batches must emit strictly growing totals — cross-batch state, not
    per-batch recount. State is bounded by depth*width by construction."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from weblog_pipeline.ops.dedup import lower_tokens_col
    from weblog_pipeline.ops.textstats import cms_cell_rows
    from weblog_pipeline.streaming import cms_stream

    schema = "doc_id long, text string"
    f1 = [Row(doc_id=0, text="alpha beta alpha"), Row(doc_id=1, text="gamma")]
    f2 = [Row(doc_id=2, text="alpha delta"), Row(doc_id=3, text="beta beta")]
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(f2, schema).coalesce(1).write.parquet(inp + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
    )
    q = (
        cms_stream(stream, depth=3, width=16)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(out)
    final = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in emitted.groupBy("row", "bucket")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }
    batch_docs = spark.createDataFrame(f1 + f2, schema)
    toks = batch_docs.select(F.explode(lower_tokens_col()).alias("token")).where(
        F.col("token") != ""
    )
    grid = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_cell_rows(toks, depth=3, width=16)
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert final == grid
    assert len(final) <= 3 * 16  # the sketch state bound
    # 'alpha' and 'beta' appear in both files: their cells must have
    # emitted two strictly increasing totals
    multi = {
        (r["row"], r["bucket"]): r["n"]
        for r in emitted.groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("cnt").alias("d"))
        .where((F.col("n") >= 2) & (F.col("n") == F.col("d")))
        .collect()
    }
    assert multi, "no cell recorded cross-batch growth"


def test_hdr_stream_equals_batch_histogram(spark, tmp_path):
    """The streaming HDR counters, replayed over two micro-batches, must
    converge to EXACTLY the batch (event_type, bucket) histogram that
    value_percentiles aggregates; a cell hit in both batches emits
    strictly growing totals (cross-batch state, not per-batch recount)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from weblog_pipeline.streaming import hdr_stream

    schema = "event_id long, event_type string, value double"
    f1 = [
        Row(event_id=0, event_type="a", value=3.0),
        Row(event_id=1, event_type="a", value=7.0),
        Row(event_id=2, event_type="b", value=25.0),
    ]
    f2 = [
        Row(event_id=3, event_type="a", value=5.0),
        Row(event_id=4, event_type="a", value=95.0),
    ]
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(f2, schema).coalesce(1).write.parquet(inp + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
    )
    q = (
        hdr_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(out)
    final = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in emitted.groupBy("event_type", "bucket")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }
    assert final == {("a", 0): 3, ("a", 9): 1, ("b", 2): 1}
    # the ("a", 0) cell was hit in BOTH micro-batches: totals must grow
    a0 = sorted(
        r["cnt"]
        for r in emitted.where(
            (F.col("event_type") == "a") & (F.col("bucket") == 0)
        ).collect()
    )
    assert a0 == [2, 3]


def test_attribution_stateful_equals_batch_twin(spark, tmp_path):
    """Streaming last-touch attribution over time-ordered micro-batches
    must equal the batch range-bucket twin exactly — including the
    (ts, event_id) tie rule, the lookback cutoff, the unattributed
    sentinels, and state carried ACROSS micro-batches (a touch in file 1
    attributing a purchase in file 2)."""
    import datetime

    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from weblog_pipeline.aggregate import attribution_last_touch
    from weblog_pipeline.streaming import attribution_stateful

    t0 = datetime.datetime(2025, 7, 4)
    day = 86400

    def ev(i, user, typ, secs):
        return Row(event_id=i, user_id=user, event_type=typ,
                   ts=t0 + datetime.timedelta(seconds=secs))

    f1 = [
        ev(0, 1, "view", 0), ev(1, 1, "click", 50),
        ev(2, 2, "view", 10),                      # cross-batch touch
        ev(3, 3, "view", 0),                       # 8 days before its conv
        ev(4, 4, "purchase", 5),                   # no touch at all
    ]
    f2 = [
        ev(5, 1, "purchase", 100),                 # click 1 wins
        ev(6, 2, "purchase", day),                 # attributed from file 1
        ev(7, 3, "purchase", 8 * day),             # outside lookback
        ev(8, 2, "click", day + 10),
        ev(9, 2, "purchase", day + 10),            # ts tie, id 8 < 9 counts
    ]
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(f2, schema).coalesce(1).write.parquet(inp + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
    )
    q = (
        attribution_stateful(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["conv_id"]: (r["user_id"], r["touch_id"], r["touch_type"],
                       r["delta_us"])
        for r in spark.read.parquet(out).collect()
    }
    batch = spark.createDataFrame(f1 + f2, schema)
    expected = {
        r["conv_id"]: (r["user_id"], r["touch_id"], r["touch_type"],
                       r["delta_us"])
        for r in attribution_last_touch(batch).collect()
    }
    assert got == expected
    assert got[5] == (1, 1, "click", 50_000_000)
    assert got[6][1] == 2                        # cross-batch state
    assert got[7] == (3, -1, "none", -1)
    assert got[9] == (2, 8, "click", 0)


def test_anomaly_stream_equals_batch_twin(spark, tmp_path):
    """Replaying the events fixture's stream over two micro-batches
    reproduces daily_anomalies on every CLOSED day (each key's last day
    is still open and must not have emitted); the spike planted in the
    second batch flags."""
    import datetime

    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from weblog_pipeline.aggregate import daily_anomalies
    from weblog_pipeline.streaming import anomaly_stream

    base = datetime.datetime(2024, 3, 1)
    rows, eid = [], 0
    for d in range(11):
        n = 60 if d == 9 else 5 + (d % 3)
        for _ in range(n):
            rows.append(Row(event_id=eid, ts=base + datetime.timedelta(days=d),
                            user_id=1, event_type="view", value=1.0))
            eid += 1
    # second key with a quiet series: never flags, still closes days
    for d in range(4):
        rows.append(Row(event_id=eid, ts=base + datetime.timedelta(days=d),
                        user_id=2, event_type="click", value=1.0))
        eid += 1
    rows.sort(key=lambda r: r.ts)
    split = len(rows) // 2
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(rows[:split], schema).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(rows[split:], schema).coalesce(1).write.parquet(inp + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
    )
    q = (
        anomaly_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["event_type"], r["day"]): (r["n_events"], r["base_days"],
                                      r["base_sum"], r["is_anomaly"])
        for r in spark.read.parquet(out).collect()
    }
    batch_df = daily_anomalies(spark.createDataFrame(rows, schema))
    last_day = {
        r["event_type"]: r["m"]
        for r in batch_df.groupBy("event_type").agg(
            F.max("day").alias("m")).collect()
    }
    expected = {
        (r["event_type"], r["day"]): (r["n_events"], r["base_days"],
                                      r["base_sum"], r["is_anomaly"])
        for r in batch_df.collect()
        if r["day"] != last_day[r["event_type"]]
    }
    assert got == expected
    spike_day = [k for k, v in got.items() if v[3]]
    assert len(spike_day) == 1 and got[spike_day[0]][0] == 60


def test_touch_conversion_join_stream_stream(spark, tmp_path):
    """The watermarked stream-stream interval join emits exactly the
    in-window strictly-earlier (touch, conversion) pairs across two
    micro-batches — including a cross-batch pair (touch in batch 1,
    conversion in batch 2), proving join state survives batches."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.streaming import touch_conversion_join

    t0 = datetime.datetime(2024, 1, 10, 12, 0)

    def ev(eid, dt_min, user, etype):
        return Row(event_id=eid, ts=t0 + datetime.timedelta(minutes=dt_min),
                   user_id=user, event_type=etype, value=1.0)

    f1 = [
        ev(0, 0, 1, "view"),
        ev(1, 5, 1, "click"),
        ev(2, 10, 1, "purchase"),   # pairs with touches 0 and 1
        ev(3, 0, 2, "view"),        # user 2: touch only (conv in batch 2)
        ev(4, 10, 3, "purchase"),   # user 3: conversion with NO touch
    ]
    f2 = [
        ev(5, 30, 2, "purchase"),   # cross-batch pair with touch 3
        ev(6, 40, 1, "view"),       # touch after user 1's conv: no pair
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(f2, schema).coalesce(1).write.parquet(inp + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
    )
    q = (
        touch_conversion_join(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["conv_id"], r["touch_id"]): (r["user_id"], r["touch_type"],
                                        r["delta_us"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (2, 0): (1, "view", 10 * 60 * 1_000_000),
        (2, 1): (1, "click", 5 * 60 * 1_000_000),
        (5, 3): (2, "view", 30 * 60 * 1_000_000),
    }


def test_cusum_stream_equals_recurrence_twin(spark, tmp_path):
    """Replaying a two-micro-batch stream reproduces the pure-Python
    online CUSUM recurrence on every CLOSED day: a slow persistent ramp
    (no single-day spike) accumulates across batches and alarms; the
    quiet key never does; the open last day emits nothing."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.streaming import cusum_stream

    base = datetime.datetime(2024, 5, 1)
    # 'ramp': 5 days at ref level 8, then 6 days at 13 (+5/day vs ref)
    per_day = {"ramp": [8] * 5 + [13] * 6, "quiet": [8, 7, 8, 9, 8]}
    rows, eid = [], 0
    for etype, counts in per_day.items():
        for d, n in enumerate(counts):
            for _ in range(n):
                rows.append(Row(event_id=eid,
                                ts=base + datetime.timedelta(days=d),
                                user_id=1, event_type=etype, value=1.0))
                eid += 1
    rows.sort(key=lambda r: r.ts)
    split = len(rows) // 2
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(rows[:split], schema).coalesce(1).write.parquet(
        inp + "/f1")
    spark.createDataFrame(rows[split:], schema).coalesce(1).write.parquet(
        inp + "/f2")

    q = (
        cusum_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inp + "/*"),
            ref=8, h=12,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["event_type"], r["day"]): (r["n_events"], r["cusum"],
                                      r["is_alarm"])
        for r in spark.read.parquet(out).collect()
    }
    day0 = (base - datetime.datetime(1970, 1, 1)).days
    want = {}
    for etype, counts in per_day.items():
        s = 0
        for d, n in enumerate(counts[:-1]):  # last day stays open
            s = max(0, s + (n - 8))
            want[(etype, day0 + d)] = (n, s, s > 12)
    assert got == want
    assert not any(v[2] for k, v in got.items() if k[0] == "quiet")
    ramp_alarms = sorted(k[1] for k, v in got.items()
                         if k[0] == "ramp" and v[2])
    # S = 5, 10, 15 on elevated days: first alarm on the 3rd (day idx 7),
    # every later closed elevated day stays in alarm
    assert ramp_alarms == [day0 + 7, day0 + 8, day0 + 9]


def test_trending_stream_equals_batch_twin(spark, tmp_path):
    """Replaying an item stream over two micro-batches: each closed
    day's emitted masses equal trending_items run on that item's
    history up to that day (exact power-of-two decay, cross-batch state
    carry); the open day never emits."""
    import datetime
    import json

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import trending_items
    from weblog_pipeline.streaming import trending_stream

    base = datetime.datetime(2024, 3, 1)
    rows, eid = [], 0

    def hits(item, day, n):
        nonlocal eid
        for _ in range(n):
            rows.append(Row(
                event_id=eid, ts=base + datetime.timedelta(days=day),
                user_id=1, event_type="view", value=1.0,
                props=json.dumps({"k": item})))
            eid += 1

    # item 1: steady then a burst; item 2: sparse with a gap past the
    # window so old days must age out of the decayed mass
    for d in range(6):
        hits(1, d, 2)
    hits(1, 6, 9)
    hits(1, 7, 1)          # open day for item 1 (never emits)
    hits(2, 0, 4)
    hits(2, 20, 3)
    hits(2, 21, 1)         # open day for item 2
    # item 3: a day-0 flood then a dribble — old mass must dominate
    hits(3, 0, 100)
    for d in (1, 2, 3):
        hits(3, d, 1)
    hits(3, 4, 1)          # open day for item 3
    rows.sort(key=lambda r: r.ts)
    split = len(rows) // 2
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame(rows[:split], schema).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(rows[split:], schema).coalesce(1).write.parquet(inp + "/f2")

    q = (
        trending_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inp + "/*")
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["item"], r["day"]): (r["n_events"], r["w_total"],
                                r["w_recent"], r["trending"])
        for r in spark.read.parquet(out).collect()
    }
    # every closed day present, open days absent
    day0 = int((base - datetime.datetime(1970, 1, 1)).days)
    assert (1, day0 + 7) not in got and (2, day0 + 21) not in got
    assert (3, day0 + 4) not in got
    assert len(got) == 7 + 2 + 4  # items 1 / 2 / 3 closed days

    # each closed day equals the batch op on that item's history <= day
    for item, day in got:
        hist = [r for r in rows
                if json.loads(r.props)["k"] == item
                and (r.ts - base).days <= day - day0]
        batch = trending_items(
            spark.createDataFrame(hist, schema), min_events=1
        ).collect()
        brow = [b for b in batch if b["item"] == item]
        assert len(brow) == 1
        b = brow[0]
        assert got[(item, day)] == (b["n_events"], b["w_total"],
                                    b["w_recent"], b["trending"])
    # the burst day flags; the flood-then-dribble day does not (the
    # age-3 mass 100*2^12 dwarfs the recent 2^15+2^14+2^13)
    assert got[(1, day0 + 6)][3] == 1
    assert got[(3, day0 + 3)][3] == 0
    # item 2 day 20: the day-0 mass aged past the window entirely
    assert got[(2, day0 + 20)] == (3, 3 * 2 ** 15, 3 * 2 ** 15, 1)


def test_kmv_stream_equals_batch_twin(spark, tmp_path):
    """Replaying a user stream over two micro-batches: each closed
    day's sketch equals kmv_audit on the prefix up to that day (same
    h_k and est; n_kept = exact distinct below k), with state carrying
    the k-min set across the batch boundary."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import kmv_audit
    from weblog_pipeline.streaming import kmv_stream

    base = datetime.datetime(2024, 3, 1)
    rows, eid = [], 0

    def hit(user, day, typ="view"):
        nonlocal eid
        rows.append(Row(event_id=eid, ts=base + datetime.timedelta(days=day),
                        user_id=user, event_type=typ, value=1.0,
                        props=None))
        eid += 1

    # day 0: users 0..39 (below k=32? use k=16 -> full); day 1: 40..99
    # (grows the set); day 2: repeats only (set must not change);
    # day 3: open
    for u in range(40):
        hit(u, 0)
    for u in range(40, 100):
        hit(u, 1)
    for u in range(10):
        hit(u, 2)
    hit(0, 3)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    split = len(rows) // 2
    spark.createDataFrame(rows[:split], schema).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(rows[split:], schema).coalesce(1).write.parquet(inp + "/f2")

    q = (
        kmv_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inp + "/*"),
            k=16,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    day0 = int((base - datetime.datetime(1970, 1, 1)).days)
    got = {
        r["day"] - day0: (r["n_kept"], r["h_k"], r["est"])
        for r in spark.read.parquet(out).collect()
    }
    assert sorted(got) == [0, 1, 2]  # three closed days, day 3 open

    for d in (0, 1, 2):
        hist = [r for r in rows if (r.ts - base).days <= d]
        b = kmv_audit(
            spark.createDataFrame(hist, schema), k=16
        ).collect()[0]
        n_kept, h_k, est = got[d]
        assert (h_k, est) == (b["h_k"], b["est"])
    # day 2's repeats changed nothing vs day 1
    assert got[2] == got[1]
