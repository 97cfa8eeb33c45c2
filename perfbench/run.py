"""Benchmark of the job ``main.py`` runs, end to end and layer by layer.

    for w in crawl_text dense_telemetry; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 8 --trace 0
        python3 perfbench/run.py --workload $w --seed 1 --seconds 8 --trace 1; done

It makes the calls ``main.py`` makes -- ``session.build_session`` ->
``pipeline.build_pipeline`` -> ``pipeline.run_to_sinks`` through
``tableio.TableIO`` -- in one process on ``local[nproc]``, with the session
configured as ``main.py`` builds it. Inputs come from ``gen`` (seeded,
cached, untimed) and every timed unit is checked against the oracle
(``checks``).

``--trace 0`` reports the end-to-end metrics. ``setup_s`` is the set-up a
one-shot ``spark-submit main.py`` pays: the JVM launch, ``build_session``
and a first trivial action, with nothing else running. Then the input is
generated, the session's first job and WARM_UP more warm it up, and a
fixed number of timed jobs, about ``--seconds`` worth, follow. ``job_cpu_s``
comes from their CPU seconds: user plus system time of the whole process
tree (this process, the JVM and the Python workers) over the job.
It is what a job costs a cluster, whose pages per second at scale are its
cores over the CPU seconds per page.

Both are given at the speed of a quiet host. On a shared host the same
code runs up to twice as slow for minutes at a time, in CPU time as much
as in wall time (the other tenants share the physical cores and caches),
so before each timed job and after the last the run times fixed reference
work that calls none of the program's code (``host_slowdown``). Each
job's CPU seconds are divided by the mean slowdown of the two references
around it, and ``job_cpu_s`` is the median of those; ``setup_s`` is divided
by the slowdown of a reference right after the set-up. The raw figures
are printed beside them.

``--trace 1`` is a separate run that reports per-layer metrics: the first
job of a fresh session, cumulative prefixes of the job (scan; + parse; +
enrich/route; the real write) and the aggregate over the tables the job
wrote, with spans around each call and Spark's SQL metrics read from the
executed plans, plus the peak memory of the process tree and ``job_s``, the
median wall time of the warm untraced jobs. It writes its
spans and plan metrics to ``.perfbench_work/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src")
WORK = os.path.join(ROOT, ".perfbench_work")

#: rough wall seconds of one warm unit on 4 cores. A run times a fixed
#: number of units, --seconds / this (at least MIN_TIMED), so its result
#: never depends on how many units a fast or slow moment let it fit
UNIT_S = 2.5
MIN_TIMED = 2
#: the host-speed reference: fixed work in the two runtimes a job spends
#: its CPU in. JVM: a built-in Spark query, a sum of hashes over a range,
#: one partition per core, its tasks' CPU time read from the status store;
#: Python: an integer loop in one process per core. REF_*_S put the
#: slowdown near 1 on a 4-vCPU 2 GHz Xeon VM whose host is quiet; only the
#: ratio between runs matters
REF_ROWS = 100_000_000
REF_LOOP = 2_000_000
REF_JVM_S = 0.67
REF_PY_S = 0.25
_REF_LOOP_CODE = (
    "import time\n"
    "t = time.process_time()\n"
    "x = 0\n"
    "for i in range({n}):\n"
    "    x += i * i\n"
    "print(time.process_time() - t)\n"
)
#: untimed units after the first job of the session (which boots the
#: Python workers and compiles the stages) and before the timed ones: the
#: CPU time of a job keeps falling for the first few jobs of a session
#: (JIT, heap growth), by about a fifth from the second to the fourth and
#: by a few percent a job after that
WARM_UP = 2
#: repetitions of each traced prefix
TRACE_REPS = 2

END_TO_END = {
    "job_cpu_s": "s",
    "setup_s": "s",
}

#: job_s, cold_job_s and peak_rss_mb are end-to-end by nature, but on a
#: shared 4-core host they spread by more than a tenth across runs of the
#: same code (the host runs it up to twice as slow for minutes at a time),
#: so they are reported by the traced run instead. rows_in_per_s is
#: the input pages over job_s, so it moves only with job_s. error_rate reads
#: 0 on a passing run; failures also show in ``attempted`` and ``failed``
PER_LAYER = {
    "job_s": "s",
    "cold_job_s": "s",
    "rows_in_per_s": "1/s",
    "peak_rss_mb": "MB",
    "scan.s": "s",
    "scan.bytes_read": "bytes",
    "host.slowdown": "ratio",
    "parse.s": "s",
    "parse.python_total_s": "s",
    "parse.python_init_s": "s",
    "parse.python_boot_s": "s",
    "parse.bytes_to_python": "bytes",
    "parse.bytes_from_python": "bytes",
    "parse.rows_out": "count",
    "parse.tasks": "count",
    "parse.quarantined_pages": "count",
    "parse.zero_event_pages": "count",
    "enrich_route.s": "s",
    "enrich_route.rows_out": "count",
    "write.s": "s",
    "write.bytes": "bytes",
    "write.files": "count",
    "write.parse_passes": "count",
    "aggregate.s": "s",
    "aggregate.exchanges": "count",
    "aggregate.hash_aggregates": "count",
    "aggregate.shuffle_bytes": "bytes",
    "aggregate.max_reducer_bytes": "bytes",
    "aggregate.spill_bytes": "bytes",
    "job.stages": "count",
    "job.tasks": "count",
    "job.shuffle_bytes": "bytes",
    "job.spill_bytes": "bytes",
    "session.jvm_start_s": "s",
    "trace.overhead_s": "s",
    "scale.speedup_1_to_n": "ratio",
    "error_rate": "ratio",
}


# -- process environment ---------------------------------------------------------


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM's temp files go under the checkout too; UsePerfData off stops
    # it from writing its counters file to the system temp directory
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if opts not in os.environ.get("JDK_JAVA_OPTIONS", ""):
        os.environ["JDK_JAVA_OPTIONS"] = (os.environ.get("JDK_JAVA_OPTIONS", "") + " " + opts).strip()


def _git_commit(root: str) -> str | None:
    """HEAD of the checkout, read from .git without running git."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        path = os.path.join(root, ".git", name)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return None


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot:
    the share of a shared host's interference that the guest can see."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def run_info(cpus: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": cpus,
        "loadavg_before": os.getloadavg(),
        "steal_s_before": steal_s(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_commit": _git_commit(ROOT),
    }


def _tree_stats() -> list[list[str]]:
    """The /proc/<pid>/stat fields after the command name of this process
    and all its descendants: the JVM and the Python workers."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, the process tree has used so far. The
    children it has reaped count too, so a worker that exits keeps its share."""
    return sum(int(x) for f in _tree_stats() for x in f[11:15]) / os.sysconf("SC_CLK_TCK")


def tree_rss() -> int:
    """Resident bytes of the process tree."""
    return sum(int(f[21]) for f in _tree_stats()) * os.sysconf("SC_PAGE_SIZE")


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree, sampled from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, tree_rss())
            self._done.wait(self.interval)

    def stop(self) -> int:
        self._done.set()
        if self.ident is not None:
            self.join(timeout=10)
        return self.peak


# -- the program's calls -----------------------------------------------------------


def run_job(spark, workload: str, pages_dir: str, out_dir: str):
    """What main.py --input <pages> --output <out> runs for this workload."""
    from gen import OBSERVED_TS_US, config_for, write_texts_for
    from weblog_pipeline.pipeline import build_pipeline, run_to_sinks
    from weblog_pipeline.tableio import TableIO

    webpages = spark.read.parquet(pages_dir)
    result = build_pipeline(webpages, config_for(workload), observed_ts_us=OBSERVED_TS_US)
    counts = run_to_sinks(spark, result, TableIO(spark, out_dir),
                          write_texts=write_texts_for(workload))
    return counts, result


def run_aggregate(spark, table_dir: str):
    """The read side: per-(sink, domain) and per-sink counts over log_records."""
    from weblog_pipeline.aggregate import domain_counts, sink_counts
    from weblog_pipeline.tableio import TableIO

    records = TableIO(spark, table_dir).read("log_records")
    return domain_counts(records).collect(), sink_counts(records).collect()


class Bench:
    """One Spark session built as main.py builds it, plus the timed units."""

    def __init__(self, workload: str, cpus: int, run_dir: str):
        self.workload = workload
        #: set once the inputs exist: the generated pages and the oracle's
        #: answers over them
        self.pages_dir = ""
        self.expect: dict = {}
        self.cpus = cpus
        self.run_dir = run_dir
        self.spark = None
        self.units = 0
        self.last_cpu_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # -- session ---------------------------------------------------------
    def start(self, cpus: int | None = None) -> float:
        """build_session plus the first trivial action; returns seconds."""
        from weblog_pipeline.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(app_name="weblog-pipeline", parallelism=cpus or self.cpus)
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def restart(self, cpus: int | None = None) -> float:
        """A fresh session (new SparkContext and Python workers) in the
        running JVM; returns its set-up seconds."""
        self.spark.stop()
        return self.start(cpus)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- timed units ------------------------------------------------------
    def timed(self, fn):
        """Run fn under its own job group. Returns (seconds, value, stats);
        the CPU seconds of the process tree over fn go to ``last_cpu_s``."""
        from layers import job_stats

        self.units += 1
        group = f"unit-{self.units}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            value = fn()
            elapsed = time.perf_counter() - t0
            self.last_cpu_s = tree_cpu_s() - c0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return elapsed, value, job_stats(self.spark, group)

    def _record(self, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            print(f"unit {self.units} FAILED: {problems}", file=sys.stderr, flush=True)
        return not problems

    def unit(self, read_back: bool = False) -> tuple[float, bool]:
        """One timed job into a fresh output directory, then its gates: the
        reuse guard and the returned per-sink counts always; with
        ``read_back`` also the sink tables read back against the oracle.
        Returns (wall seconds, passed); the CPU seconds are in last_cpu_s."""
        from checks import check_counts, check_job_output, check_reuse, check_text_digest
        from gen import write_texts_for

        out = os.path.join(self.run_dir, f"out-{self.units + 1}")
        texts = write_texts_for(self.workload)
        try:
            elapsed, (counts, _), stats = self.timed(
                lambda: run_job(self.spark, self.workload, self.pages_dir, out))
            problems = check_reuse(stats) + check_counts(counts, self.expect)
            if read_back:
                problems += check_job_output(out, self.expect, texts)
                if texts:
                    problems += check_text_digest(out, self.expect)
        except Exception:
            traceback.print_exc()
            elapsed, problems = 0.0, ["job raised"]
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return elapsed, self._record(problems)


def host_slowdown(bench: Bench) -> float:
    """How many times slower than a quiet host this one runs the reference
    work now: the mean of the JVM's and Python's ratios."""
    procs = [subprocess.Popen([sys.executable, "-c", _REF_LOOP_CODE.format(n=REF_LOOP)],
                              stdout=subprocess.PIPE, text=True) for _ in range(bench.cpus)]
    try:
        py_s = statistics.median(float(p.communicate()[0]) for p in procs)
    finally:
        for p in procs:
            p.kill()
            p.wait()
    _, _, stats = bench.timed(lambda: bench.spark.range(0, REF_ROWS, 1, bench.cpus)
                              .selectExpr("sum(hash(id, id * 3))").collect())
    jvm_s = stats["executor_cpu_ns"] / 1e9
    print(f"reference: jvm {jvm_s:.3f} cpu-s, python {py_s:.4f} cpu-s", file=sys.stderr, flush=True)
    return (jvm_s / REF_JVM_S + py_s / REF_PY_S) / 2


# -- the two kinds of run ----------------------------------------------------------


def measure(bench: Bench, seconds: float) -> dict:
    """Untraced run: the session's first job, warm-up and timed jobs.

    The first warm-up unit is read back and checked in full; every unit is
    checked for reuse and for its counts. A unit that fails is left out of
    the timing."""
    def log(elapsed: float, kind: str, cpu_s: float | None = None) -> None:
        cpu_s = bench.last_cpu_s if cpu_s is None else cpu_s
        print(f"unit: {elapsed:.3f} s, {cpu_s:.2f} cpu-s{kind}", file=sys.stderr, flush=True)

    elapsed, _ = bench.unit()
    log(elapsed, " (first of the session)")
    for i in range(WARM_UP):
        elapsed, _ = bench.unit(read_back=i == 0)
        log(elapsed, " (warm-up)")
    # each timed unit runs between two references; its slowdown is their mean
    wall: list[float] = []
    cpu: list[float] = []
    slowdown: list[float] = []
    before = host_slowdown(bench)
    for _ in range(max(MIN_TIMED, round(seconds / UNIT_S))):
        elapsed, ok = bench.unit()
        cpu_s = bench.last_cpu_s
        after = host_slowdown(bench)
        if ok:
            wall.append(elapsed)
            cpu.append(cpu_s)
            slowdown.append((before + after) / 2)
        log(elapsed, f", host slowdown {(before + after) / 2:.3f}", cpu_s)
        before = after
    if not cpu:
        return {}
    return {"_cpu": statistics.median(cpu), "_wall": statistics.median(wall),
            "_slowdown": statistics.median(slowdown),
            "_normalized": statistics.median(c / f for c, f in zip(cpu, slowdown)),
            "_timed": len(cpu)}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trace(bench: Bench, tracer, capture, jvm_start_s: float) -> dict:
    """Traced run: the first unit of a fresh session, then layer times and
    plan metrics, tracing overhead and the local[1] baseline."""
    from layers import plan_nodes, summarize_plans

    plans: dict[str, list] = {}

    def traced(name, fn):
        """Time fn in a span, then read the plans it executed."""
        with tracer.span(name):
            elapsed, value, stats = bench.timed(fn)
            nodes = [n for qe in capture.drain() for n in plan_nodes(qe)]
        summary = summarize_plans(nodes)
        plans.setdefault(name, []).append({"seconds": elapsed, "stats": stats, **summary})
        return elapsed, value, {"stats": stats, **summary}

    # the first unit of the session carries Python worker boot and init
    with tracer.span("cold"):
        cold_t, _ = bench.unit(read_back=True)
    cold = summarize_plans([n for qe in capture.drain() for n in plan_nodes(qe)])["metric_sums"]

    unit_s, unit, metrics = _trace_job(bench, tracer, traced, capture, cold)

    # the same unit untraced: tracing overhead, then the local[1] baseline
    capture.stop()
    with tracer.span("untraced"):
        untraced = [bench.unit()[0] for _ in range(TRACE_REPS)]
    with tracer.span("host.slowdown"):
        slowdown = host_slowdown(bench)
    with tracer.span("scale.local1"):
        # one unit: on one core a job takes four times as long, and the
        # boot of the session's one Python worker is a few percent of it
        bench.restart(cpus=1)
        one, _ = bench.unit()
    untraced_s = statistics.median(untraced)

    job = unit["stats"]
    metrics.update({
        "job_s": untraced_s,
        "cold_job_s": cold_t,
        "host.slowdown": slowdown,
        "rows_in_per_s": bench.expect["pages"] / untraced_s,
        "job.stages": job.get("stages", 0),
        "job.tasks": job.get("tasks", 0),
        "job.shuffle_bytes": job.get("shuffle_bytes", 0),
        "job.spill_bytes": job.get("spill_bytes", 0),
        "session.jvm_start_s": jvm_start_s,
        "trace.overhead_s": unit_s - untraced_s,
        "scale.speedup_1_to_n": one / untraced_s,
    })
    unavailable = {}
    for k, name in (("parse.python_boot_s", "pythonBootTime"),
                    ("parse.python_init_s", "pythonInitTime")):
        if f"MapInArrow.{name}" not in cold:
            unavailable[k] = f"MapInArrow exposes no {name} metric"
    return {"metrics": metrics, "plans": plans, "untraced_s": untraced, "local1_s": one,
            "unavailable": unavailable}


def _trace_job(bench: Bench, tracer, traced, capture, cold: dict) -> tuple[float, dict, dict]:
    """The job workloads: cumulative prefixes of the job, each into a noop
    sink, then the real run_to_sinks; a layer's self time is the
    difference between consecutive prefixes. Then the aggregate over the
    log_records table the job wrote."""
    from pyspark.sql import functions as F

    from checks import check_aggregates, check_counts, check_reuse
    from gen import OBSERVED_TS_US, config_for
    from weblog_pipeline.parse import parse_events
    from weblog_pipeline.pipeline import build_pipeline

    spark = bench.spark
    pages = bench.pages_dir

    def scanned():
        return spark.read.parquet(pages).where(F.col("html").isNotNull())

    prefixes = {
        # length(html) makes the noop sink decode the html column, which a
        # bare projection into noop leaves unread
        "scan": lambda: _noop(scanned().select("url", "warc_ts", "lang", F.length("html"))),
        "parse": lambda: _noop(parse_events(scanned())),
        "enrich_route": lambda: _noop(build_pipeline(
            spark.read.parquet(pages), config_for(bench.workload), observed_ts_us=OBSERVED_TS_US,
        ).logs),
    }
    times: dict[str, list[float]] = {k: [] for k in (*prefixes, "write", "aggregate")}
    last: dict[str, dict] = {}
    for rep in range(TRACE_REPS):
        with tracer.span("rep", rep=rep):
            for name, fn in prefixes.items():
                t, _, last[name] = traced(f"prefix.{name}", fn)
                times[name].append(t)
            table_dir = os.path.join(bench.run_dir, f"traced-{rep}")
            t, (counts, result), last["write"] = traced(
                "prefix.write", lambda: run_job(spark, bench.workload, pages, table_dir))
            bench._record(check_reuse(last["write"]["stats"]) + check_counts(counts, bench.expect))
            times["write"].append(t)
            t, (dom, sinks), last["aggregate"] = traced(
                "aggregate", lambda: run_aggregate(spark, table_dir))
            bench._record(check_reuse(last["aggregate"]["stats"])
                          + check_aggregates(dom, sinks, bench.expect))
            times["aggregate"].append(t)
            shutil.rmtree(table_dir, ignore_errors=True)

    # quarantined and zero-event pages, counted on the parse output
    with tracer.span("parse.page_counts"):
        row = parse_events(scanned()).where(F.col("event_idx") <= 0).agg(
            F.count_if(F.col("parse_error").isNotNull()),
            F.count_if((F.col("event_idx") == -1) & F.col("parse_error").isNull()),
        ).first()
        capture.drain()
    quarantined, zero_event = int(row[0]), int(row[1])
    exp = bench.expect
    bench._record(
        ([] if quarantined == exp["quarantined"] else
         [f"quarantined pages: got {quarantined} want {exp['quarantined']}"])
        + ([] if zero_event == exp["zero_event_pages"] else
           [f"zero-event pages: got {zero_event} want {exp['zero_event_pages']}"]))

    med = {k: statistics.median(v) for k, v in times.items()}
    parse_sums = last["parse"]["metric_sums"]
    write_sums = last["write"]["metric_sums"]
    agg = last["aggregate"]
    insert = "Execute InsertIntoHadoopFsRelationCommand"
    ms = 1e-3
    return med["write"], last["write"], {
        "scan.s": med["scan"],
        "scan.bytes_read": last["scan"]["scan_files_bytes"],
        "parse.s": med["parse"] - med["scan"],
        "parse.python_total_s": parse_sums.get("MapInArrow.pythonTotalTime", 0) * ms,
        "parse.python_init_s": cold.get("MapInArrow.pythonInitTime", 0) * ms,
        "parse.python_boot_s": cold.get("MapInArrow.pythonBootTime", 0) * ms,
        "parse.bytes_to_python": parse_sums.get("MapInArrow.pythonDataSent", 0),
        "parse.bytes_from_python": parse_sums.get("MapInArrow.pythonDataReceived", 0),
        "parse.rows_out": parse_sums.get("MapInArrow.pythonNumRowsReceived", 0),
        # the parse stage's tasks; reading the parquet schema adds a
        # one-task job to every unit
        "parse.tasks": last["parse"]["stats"].get("max_stage_tasks", 0),
        "parse.quarantined_pages": quarantined,
        "parse.zero_event_pages": zero_event,
        "enrich_route.s": med["enrich_route"] - med["parse"],
        "enrich_route.rows_out": int(result.metrics.get("records", 0)),
        "write.s": med["write"] - med["enrich_route"],
        "write.bytes": write_sums.get(f"{insert}.numOutputBytes", 0),
        "write.files": write_sums.get(f"{insert}.numFiles", 0),
        "write.parse_passes": last["write"]["map_in_arrow_nodes"],
        "aggregate.s": med["aggregate"],
        "aggregate.exchanges": agg["exchanges"],
        "aggregate.hash_aggregates": agg["hash_aggregates"],
        "aggregate.shuffle_bytes": agg["stats"].get("shuffle_bytes", 0),
        "aggregate.max_reducer_bytes": agg["max_reducer_bytes"],
        "aggregate.spill_bytes": agg["stats"].get("spill_bytes", 0),
    }


# -- entry point ------------------------------------------------------------------


def _result(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (tests use a tiny one)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(SRC, "weblog_pipeline")):
        print(f"program sources not found under {SRC}", file=sys.stderr)
        return 2
    sys.path[:0] = [SRC, HERE]
    import gen

    if args.workload not in gen.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {gen.WORKLOADS}", file=sys.stderr)
        return 2

    _prepare_env(WORK)
    cpus = len(os.sched_getaffinity(0))
    info = run_info(cpus)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)

    # the inputs are generated by gen.py in processes of their own; the
    # untraced run generates them after it has timed the session's set-up,
    # so that the set-up runs alone
    cache = os.path.join(WORK, "inputs")

    def generate() -> None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), args.workload, str(args.seed),
             cache, str(args.scale)], env={**os.environ, "PYTHONPATH": SRC}, check=True)
        entry, bench.expect = gen.ensure_inputs(args.workload, args.seed, cache, args.scale,
                                                workers=1)
        bench.pages_dir = os.path.join(entry, "pages")

    sampler = RssSampler()
    bench = Bench(args.workload, cpus, run_dir)
    values: dict = {}
    try:
        if args.trace:
            generate()
            sampler.start()
            jvm_start_s = bench.start()
            from layers import PlanCapture, Tracer

            tracer = Tracer(run_id)
            capture = PlanCapture(bench.spark)
            capture.start()
            with tracer.span("run", workload=args.workload, seed=args.seed):
                traced = trace(bench, tracer, capture, jvm_start_s)
            values = traced["metrics"]
        else:
            setup_s = bench.start()
            # the set-up's own reference, right after it
            setup_slowdown = host_slowdown(bench)
            generate()
            values = {**measure(bench, args.seconds), "_setup": setup_s,
                      "_setup_slowdown": setup_slowdown}
    finally:
        bench.close()
        peak = sampler.stop() if args.trace else 0
        shutil.rmtree(run_dir, ignore_errors=True)

    info["loadavg_after"] = os.getloadavg()
    info["steal_s_after"] = steal_s()
    attempted = max(bench.attempted, 1)
    values["error_rate"] = bench.failed / attempted
    correct = bench.failed == 0
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{run_id}.json")
        with open(path, "w") as fh:
            json.dump({"run": info, "spans": tracer.spans, "problems": bench.problems,
                       **traced}, fh, default=str)
        values["peak_rss_mb"] = peak / 2**20
        units = PER_LAYER
        for k, why in traced["unavailable"].items():
            print(f"{k}: not exposed by Spark ({why})")
        print(f"trace written to {os.path.relpath(path, ROOT)}")
    else:
        if "_cpu" not in values:
            print(f"no passing unit: {bench.problems}", file=sys.stderr)
            return 1
        units = END_TO_END
        slow = values["_slowdown"]
        values["job_cpu_s"] = values["_normalized"]
        values["setup_s"] = values["_setup"] / values["_setup_slowdown"]
        print(f"{'host slowdown':>14} = {slow:.4f}  (median over the timed units)")
        print(f"{'setup_s':>14} = {values['setup_s']:.4f} s  (JVM launch to first action;"
              f" {values['_setup']:.4f} s on this host, slowdown {values['_setup_slowdown']:.4f})")
        print(f"{'job_cpu_s':>14} = {values['job_cpu_s']:.4f} s  (median of {values['_timed']} units;"
              f" {values['_cpu']:.4f} s on this host, {values['_wall']:.4f} s wall)")
        print(f"{'error_rate':>14} = {values['error_rate']:.4f}  ({bench.failed}/{attempted} units failed)")
    print(f"correct: {correct}")
    print(json.dumps({"run": info}))
    print(_result(correct, attempted, bench.failed, values, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
