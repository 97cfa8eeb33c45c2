"""Checkpoint/resume through the job's one writer, ``run_to_sinks``: a
re-run with the same run_id skips the chunks the run_metrics ledger holds,
and a crashed chunk re-runs and overwrites its own partial output, so a
resumed run has no duplicates and no gaps. Tests get several chunks by
lowering spark.sql.files.maxPartitionBytes, which narrows the scan wave a
chunk is sized to."""

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from weblog_pipeline.config import PipelineConfig
from weblog_pipeline.driver_queries import OBSERVED_TS_US
from weblog_pipeline.pipeline import LEDGER_SCHEMA, _ledger_row, build_pipeline, run_to_sinks
from weblog_pipeline.tableio import TableIO
from weblog_pipeline.webpages import generate_webpages

CFG = PipelineConfig()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MPB = "spark.sql.files.maxPartitionBytes"


def _write_input(spark, path, pages, files):
    generate_webpages(spark, pages, partitions=files).write.parquet(path)
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


@pytest.fixture()
def input_path(spark, tmp_path):
    path = str(tmp_path / "webpages")
    _write_input(spark, path, 120, 4)
    return path


@pytest.fixture()
def two_file_chunks(spark, input_path):
    """One scan wave (every core on one maxPartitionBytes split) covers
    half the input: the four input files make two chunks of two."""
    total = sum(os.path.getsize(f) for f in glob.glob(input_path + "/*.parquet"))
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set(MPB, str(-(-total // (2 * cores))))
    yield
    spark.conf.unset(MPB)


def _run(spark, input_path, out, run_id="r1", io=None, observed_ts_us=OBSERVED_TS_US):
    result = build_pipeline(spark.read.parquet(input_path), CFG, observed_ts_us=observed_ts_us)
    counts = run_to_sinks(spark, result, io or TableIO(spark, out), run_id=run_id)
    return counts, result.metrics


def expected_counts(spark, input_path):
    logs = build_pipeline(spark.read.parquet(input_path), CFG, observed_ts_us=OBSERVED_TS_US).logs
    return {r["sink"]: r["count"] for r in logs.groupBy("sink").count().collect()}


def read_output(spark, out, run_id="r1"):
    return TableIO(spark, out).read("log_records").where(F.col("run_id") == run_id)


def assert_exact(spark, input_path, out):
    """Every sink holds exactly a clean run's rows: no duplicates, no gaps."""
    got = read_output(spark, out)
    by_sink = {r["sink"]: r["count"] for r in got.groupBy("sink").count().collect()}
    assert by_sink == expected_counts(spark, input_path)
    assert got.count() == got.select("url", "event_name", "ts_ns").distinct().count()


class CrashingIO(TableIO):
    """Dies on the n-th write of `table`, before that write happens."""

    def __init__(self, spark, location, table, n):
        super().__init__(spark, location)
        self.table, self.n, self.seen = table, n, 0

    def _maybe_crash(self, table):
        if table == self.table:
            self.seen += 1
            if self.seen == self.n:
                raise RuntimeError(f"simulated kill before write {self.n} of {table}")

    def overwrite_partitions(self, df, table, partition_by):
        self._maybe_crash(table)
        super().overwrite_partitions(df, table, partition_by)

    def append(self, df, table):
        self._maybe_crash(table)
        super().append(df, table)


def test_full_run_then_noop_resume(spark, tmp_path, input_path, two_file_chunks):
    out = str(tmp_path / "out")
    counts, m = _run(spark, input_path, out)
    assert m["chunks"] == 2 and m["chunks_skipped"] == 0
    assert counts == expected_counts(spark, input_path)
    assert_exact(spark, input_path, out)

    # resume with nothing pending: every chunk skipped, output unchanged,
    # and the run's counts still come back (from the ledger)
    again, m2 = _run(spark, input_path, out)
    assert m2["chunks_skipped"] == m2["chunks"] == 2
    assert m2["pages_processed"] == 0
    assert again == counts
    assert_exact(spark, input_path, out)


def test_crash_mid_run_resumes_exactly(spark, tmp_path, input_path, two_file_chunks):
    out = str(tmp_path / "out")
    crashy = CrashingIO(spark, out, "log_records", 2)
    with pytest.raises(RuntimeError, match="simulated kill"):
        _run(spark, input_path, out, io=crashy)

    # chunk 0 committed, chunk 1 not. The resume runs with Spark's default
    # split size, which alone would plan one chunk, and a new clock: the
    # run keeps its first attempt's chunks and observed_ts
    spark.conf.unset(MPB)
    _, m = _run(spark, input_path, out, observed_ts_us=OBSERVED_TS_US + 1)
    assert (m["chunks"], m["chunks_skipped"]) == (2, 1)
    assert_exact(spark, input_path, out)
    ts = read_output(spark, out).select(F.unix_micros("observed_ts")).distinct().collect()
    assert [r[0] for r in ts] == [OBSERVED_TS_US]


def test_crash_between_sink_write_and_ledger_commit(spark, tmp_path, input_path, two_file_chunks):
    """Chaos test for the sink-boundary window: the process dies AFTER a
    chunk's multi-sink output is on disk but BEFORE its ledger row — and
    one sink partition of that chunk is only half there (mid-write kill).
    The rerun re-executes exactly that chunk, and its (run, chunk)-scoped
    overwrite replaces the partial output, so every sink ends with exactly
    its expected rows (SURVEY §4 overwrite-by-filter idempotency)."""
    out = str(tmp_path / "out")
    crashy = CrashingIO(spark, out, "run_metrics", 2)
    with pytest.raises(RuntimeError, match="simulated kill"):
        _run(spark, input_path, out, io=crashy)

    chunk1 = glob.glob(os.path.join(out, "log_records", "sink=*", "run_id=r1", "chunk=1"))
    assert len(chunk1) >= 2, "fixture must route to multiple sinks"
    shutil.rmtree(sorted(chunk1)[0])

    _, m = _run(spark, input_path, out)
    assert m["chunks_skipped"] == 1
    assert_exact(spark, input_path, out)


def test_resume_refuses_changed_input_list(spark, tmp_path, input_path, two_file_chunks):
    out = str(tmp_path / "out")
    _run(spark, input_path, out)

    # an added file would shift the chunks: the resume must refuse
    generate_webpages(spark, 30, partitions=1).write.mode("append").parquet(input_path)
    with pytest.raises(ValueError, match="input file list changed"):
        _run(spark, input_path, out)
    # a fresh run_id accepts the new list
    _, m = _run(spark, input_path, out, run_id="r2")
    assert m["chunks_skipped"] == 0


def test_ledger_records_real_rows_in(spark, tmp_path, input_path, two_file_chunks):
    """One run_metrics row per chunk, so plain sums over a run's rows give
    the input pages and the per-sink records."""
    out = str(tmp_path / "out")
    counts, m = _run(spark, input_path, out)
    rows = TableIO(spark, out).read("run_metrics").where("run_id = 'r1'").collect()
    assert sorted(r["chunk"] for r in rows) == [0, 1]
    assert sum(r["pages_in"] for r in rows) == m["pages_in"] == 120
    summed = {}
    for r in rows:
        for sink, n in r["records"].items():
            summed[sink] = summed.get(sink, 0) + n
    assert {s: n for s, n in summed.items() if n} == counts
    assert {(r["observed_ts_us"], r["input_digest"], r["chunk_files"]) for r in rows} == {
        (OBSERVED_TS_US, rows[0]["input_digest"], 2)
    }


def test_config_folded_once_per_run(spark, tmp_path, input_path, monkeypatch, request):
    """A run folds its config (enrich.severity_columns builds the severity
    chain) once however many chunks it plans, and not at all when every
    chunk is already committed."""
    from weblog_pipeline import enrich

    folds = []
    fold = enrich.severity_columns
    monkeypatch.setattr(enrich, "severity_columns", lambda *a: folds.append(a) or fold(*a))

    def run(out):
        folds.clear()
        _, m = _run(spark, input_path, out)
        return len(folds), m["chunks"], m["chunks_skipped"]

    one = str(tmp_path / "one")
    assert run(one) == (1, 1, 0)
    assert_exact(spark, input_path, one)

    request.getfixturevalue("two_file_chunks")
    two = str(tmp_path / "two")
    assert run(two) == (1, 2, 0)
    assert_exact(spark, input_path, two)
    assert run(two) == (0, 2, 2)
    assert_exact(spark, input_path, two)


class _Listener:
    """QueryExecutionListener (a py4j callback) keeping each finished
    QueryExecution, writes included."""

    def __init__(self):
        self.qes = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    def equals(self, other):  # unregister compares listeners through py4j
        return other is self

    def hashCode(self):  # noqa: N802
        return id(self) & 0x7FFFFFFF

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _parse_nodes(spark, plan) -> set:
    """Identities of the parse (MapInArrow) nodes under an executed plan,
    looking through AQE stages and into the plan that filled a cache: two
    writes that read one cached parse reach the same node."""
    found, stack = set(), [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "MapInArrowExec":
            found.add(spark._jvm.System.identityHashCode(node))
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_one_parse_pass_per_chunk(spark, tmp_path, input_path, two_file_chunks):
    """With texts written, a chunk's page_texts and log_records writes both
    read one parse of its pages, and the pages-in Observation below the
    cached parse still counts every input page."""
    from pyspark.java_gateway import ensure_callback_server_started

    listener = _Listener()
    per_chunk = []  # (writes that read a parse, distinct parse nodes)

    class ChunkPlans(TableIO):
        def append(self, df, table):
            super().append(df, table)
            if table == "run_metrics":  # the chunk's commit: close its group
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
                reads = [_parse_nodes(spark, qe.executedPlan()) for qe in listener.qes]
                reads = [r for r in reads if r]
                per_chunk.append((len(reads), len(set().union(*reads))))
                listener.qes.clear()

    ensure_callback_server_started(spark.sparkContext._gateway)
    manager = spark._jsparkSession.listenerManager()
    # py4j makes a new JVM proxy each time a Python object is passed, so
    # unregister must get the proxy register got, or the listener stays
    proxy = spark._jvm.java.util.Collections.singletonList(listener).get(0)
    manager.register(proxy)
    out = str(tmp_path / "out")
    try:
        result = build_pipeline(spark.read.parquet(input_path), CFG, observed_ts_us=OBSERVED_TS_US)
        counts = run_to_sinks(spark, result, ChunkPlans(spark, out), write_texts=True, run_id="r1")
    finally:
        manager.unregister(proxy)

    assert per_chunk == [(2, 1), (2, 1)]
    rows = TableIO(spark, out).read("run_metrics").collect()
    assert sum(r["pages_in"] for r in rows) == result.metrics["pages_in"] == 120
    assert counts == expected_counts(spark, input_path)
    assert TableIO(spark, out).read("page_texts").count() == 120


def test_ledger_row_is_built_in_the_jvm(spark, tmp_path, input_path):
    """The run_metrics row runs no Python task, has exactly the ledger's
    types, holds an empty records map, and a resume reads it back as
    written."""
    schema = T.StructType.fromDDL(LEDGER_SCHEMA)
    for records in ({}, {"sink_db": 2**40, "sink_default": 0}):
        row = Row(run_id="r", chunk=3, chunk_files=2, input_digest="d",
                  observed_ts_us=OBSERVED_TS_US, pages_in=7, records=records)
        df = _ledger_row(spark, row)
        assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
        # names and types are the ledger's exactly; literals are never null
        assert df.schema.simpleString() == schema.simpleString()
        assert df.collect() == [row]

    # nothing passes the event-name filter: every per-sink count is zero
    cfg = PipelineConfig(include_event_names=("no-such-event",))
    out = str(tmp_path / "out")

    def run():
        result = build_pipeline(spark.read.parquet(input_path), cfg, observed_ts_us=OBSERVED_TS_US)
        return run_to_sinks(spark, result, TableIO(spark, out), run_id="r1"), result.metrics

    counts, m = run()
    ledger = TableIO(spark, out).read("run_metrics")
    assert ledger.schema == schema
    written = ledger.collect()
    assert counts == {} and [r["pages_in"] for r in written] == [120]
    assert set(written[0]["records"].values()) == {0}

    again, m2 = run()
    assert m2["chunks_skipped"] == m2["chunks"] == 1
    assert (again, m2["pages_in"]) == ({}, 120)
    assert TableIO(spark, out).read("run_metrics").collect() == written


def test_stale_partitions_cleared_when_width_changes_before_first_commit(spark, tmp_path):
    """An attempt that dies after writing its chunk 0 but before its first
    ledger row may have planned other chunks than the re-run does. Here the
    re-run's chunk 0 holds only pages without markers, so it writes no
    log_records partition that would replace the first attempt's: the
    re-run must drop the run's partitions first to equal a clean run."""
    path = str(tmp_path / "webpages")
    plain = F.encode(F.lit("<p>no markers here</p>"), "UTF-8")
    generate_webpages(spark, 120, partitions=4).withColumn(
        "html", F.when(F.spark_partition_id() < 2, plain).otherwise(F.col("html"))
    ).write.parquet(path)
    total = sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))
    two_files = str(-(-total // (2 * spark.sparkContext.defaultParallelism)))

    def run(out, mpb=None, io=None):
        """One chunk of four files at the default split size; chunks of
        two files at `two_files`."""
        if mpb:
            spark.conf.set(MPB, mpb)
        try:
            result = build_pipeline(spark.read.parquet(path), CFG, observed_ts_us=OBSERVED_TS_US)
            run_to_sinks(spark, result, io or TableIO(spark, out), write_texts=True, run_id="r1")
            return result.metrics
        finally:
            spark.conf.unset(MPB)

    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run(out, io=CrashingIO(spark, out, "run_metrics", 1))
    assert glob.glob(os.path.join(out, "log_records", "sink=*", "run_id=r1", "chunk=0"))
    m = run(out, two_files)
    assert (m["chunks"], m["chunks_skipped"]) == (2, 0)

    clean = str(tmp_path / "clean")
    run(clean, two_files)
    got, want = TableIO(spark, out), TableIO(spark, clean)
    _assert_same_rows(got.read("log_records"), want.read("log_records"))
    _assert_same_rows(got.read("page_texts"), want.read("page_texts"))


def _comparable(df):
    return df.select(*[
        F.to_json(f.name).alias(f.name) if isinstance(f.dataType, T.MapType) else f.name
        for f in df.schema.fields
    ])


def _assert_same_rows(a, b):
    a, b = _comparable(a), _comparable(b)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_main_run_id_resumes_after_kill(spark, tmp_path):
    """`main.py --run-id R` killed after its first chunk commits, then run
    again with the same --run-id, leaves a clean run's rows: no duplicates,
    no gaps, one observed_ts."""
    files = _write_input(spark, str(tmp_path / "webpages"), 120, 4)
    smallest = min(os.path.getsize(f) for f in files)
    # a wave below one file for 2 and for 4 cores: one file per chunk
    mpb = str(smallest // 8)
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=f"--conf {MPB}={mpb} pyspark-shell")
    out = str(tmp_path / "out")
    cmd = [sys.executable, os.path.join(REPO, "main.py"), "--input", str(tmp_path / "webpages"),
           "--output", out, "--run-id", "R", "--cpus", "2", "--write-texts"]
    ledger = os.path.join(out, "run_metrics", "part-*.parquet")

    def committed():
        return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(ledger))

    with open(tmp_path / "killed.log", "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=log, start_new_session=True)
        deadline = time.time() + 600
        while proc.poll() is None and not committed() and time.time() < deadline:
            time.sleep(0.02)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    n_committed = committed()
    assert 1 <= n_committed < 4, "the kill must land between the first and the last chunk"

    # the resume names the input relative to its cwd: a bare directory
    # name is a parquet path, and the run's input digest still matches
    cmd[cmd.index("--input") + 1] = "webpages"
    done = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600,
                          cwd=tmp_path)
    assert done.returncode == 0, done.stderr[-2000:]
    report = json.loads(done.stdout.strip().splitlines()[-1])
    assert (report["chunks"], report["chunks_skipped"]) == (4, n_committed)
    assert report["pages_in"] == 120

    spark.conf.set(MPB, mpb)
    try:
        clean = str(tmp_path / "clean")
        result = build_pipeline(spark.read.parquet(str(tmp_path / "webpages")), CFG)
        run_to_sinks(spark, result, TableIO(spark, clean), write_texts=True, run_id="R")
        assert result.metrics["chunks"] == 4
    finally:
        spark.conf.unset(MPB)

    got, want = TableIO(spark, out), TableIO(spark, clean)
    logs = got.read("log_records")
    assert logs.select("observed_ts").distinct().count() == 1
    _assert_same_rows(logs.drop("observed_ts"), want.read("log_records").drop("observed_ts"))
    _assert_same_rows(got.read("page_texts"), want.read("page_texts"))
