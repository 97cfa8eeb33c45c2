"""The benchmark's own tests, at a tiny input size.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [os.path.join(ROOT, "src"), HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from layers import job_stats  # noqa: E402

TINY = 0.03
#: a seed whose tiny crawl_text input routes rows and quarantines a page
SEED = 4


def _bench_run(tmp_path, workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "0", "--trace", str(trace), "--scale", str(TINY)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def test_declared_metrics_match_the_emitted_sets():
    assert _declared("end_to_end") == run.END_TO_END
    assert _declared("per_layer") == run.PER_LAYER


@pytest.mark.parametrize("workload,trace", [("crawl_text", 0), ("crawl_text", 1)])
def test_every_metric_is_emitted_with_its_unit(tmp_path, workload, trace):
    result = _bench_run(tmp_path, workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    units = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        # page_texts and logs are two writes of one un-cached parse
        assert result["metrics"]["write.parse_passes"]["value"] == 2
        assert result["metrics"]["aggregate.exchanges"]["value"] >= 1


def _pages(entry: str):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(entry, "pages")).sort_by("url")


def test_generator_is_seeded(tmp_path):
    # the chunks are built in parallel, and their number of processes
    # changes nothing
    a_dir, a = gen.ensure_inputs("dense_telemetry", 5, str(tmp_path / "a"), TINY, workers=2)
    b_dir, b = gen.ensure_inputs("dense_telemetry", 5, str(tmp_path / "b"), TINY, workers=1)
    _, c = gen.ensure_inputs("dense_telemetry", 6, str(tmp_path / "c"), TINY, workers=1)
    assert a == b and a != c
    assert _pages(a_dir).equals(_pages(b_dir))


@pytest.fixture(scope="module")
def spark():
    from weblog_pipeline.session import build_session

    s = build_session(app_name="perfbench-tests", parallelism=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def dense_run(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("dense")
    entry, expect = gen.ensure_inputs("dense_telemetry", 11, str(base / "inputs"), TINY, workers=1)
    out = str(base / "out")
    counts, _ = run.run_job(spark, "dense_telemetry", os.path.join(entry, "pages"), out)
    return counts, expect, out


def test_gate_passes_on_the_program_output(spark, dense_run):
    counts, expect, out = dense_run
    assert checks.check_counts(counts, expect) == []
    assert checks.check_job_output(out, expect, write_texts=False) == []


def test_planted_wrong_expectation_fails_the_gate(spark, dense_run):
    counts, expect, out = dense_run
    wrong = copy.deepcopy(expect)
    sink = next(iter(wrong["per_sink"]))
    wrong["per_sink"][sink] += 1
    assert checks.check_counts(counts, wrong)

    wrong = copy.deepcopy(expect)
    url = next(iter(wrong["sample_rows"]))
    wrong["sample_rows"][url][0][4] = "not-a-severity"
    assert checks.check_job_output(out, wrong, write_texts=False)


def test_planted_reused_plan_is_rejected(spark):
    from pyspark.sql import functions as F

    df = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count()
    df.collect()
    sc = spark.sparkContext

    def unit(group, frame):
        sc.setJobGroup(group, group)
        try:
            frame.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return checks.check_reuse(job_stats(spark, group))

    # the same DataFrame again reads the shuffle files of its first action
    assert unit("perfbench-reused", df)
    # a freshly built plan runs every stage
    fresh = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count()
    assert unit("perfbench-fresh", fresh) == []
