"""Planning cost of `pipeline.build_pipeline(...).logs` at a git revision
against the working tree: JVM Column functions per plan and warm wall time
per build.

Each side's `src/` runs in its own Python process with its own JVM; the
revision's is exported with `git archive`. A process builds a session as
perfbench does, reads perfbench's cached seed-1 pages of the workload
(generated through perfbench/gen.py when missing), calls `build_pipeline`
with that workload's config (`gen.config_for`) and reads `.logs`: a build
whose plans are derived on read plans nothing until then, so reading the
log records keeps revisions compared like for like. The first build warms
the session up and is counted: every call of
`pyspark.sql.functions.builtin._invoke_function` (each JVM Column
function, `lit` included) and of `F.lit`. The counters are then removed
and --builds more calls are timed; the process prints their median wall
time. The sides alternate process by process, the first side flipping
every pair, so a slow phase of the host hits both alike.

Usage: python3 scripts/plan_cost.py [--rev HEAD] [--builds 12] [--pairs 3]
       [--workloads crawl_text dense_telemetry]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")


def child(src: str, workload: str, pages: str, builds: int) -> dict:
    """One side in this process: counts of the warm-up build, then the
    median wall seconds of `builds` timed builds."""
    sys.path[:0] = [src, PERFBENCH]
    import gen
    from pyspark.sql import functions as F
    from pyspark.sql.functions import builtin
    from weblog_pipeline.pipeline import build_pipeline
    from weblog_pipeline.session import build_session

    spark = build_session(app_name="plan-cost", parallelism=4)
    webpages = spark.read.parquet(pages)
    cfg = gen.config_for(workload)

    def build() -> float:
        t0 = time.perf_counter()
        build_pipeline(webpages, cfg, observed_ts_us=gen.OBSERVED_TS_US).logs
        return time.perf_counter() - t0

    counts = {"functions": 0, "lits": 0}
    invoke, lit = builtin._invoke_function, F.lit

    def counted_invoke(*args):
        counts["functions"] += 1
        return invoke(*args)

    def counted_lit(*args, **kwargs):
        counts["lits"] += 1
        return lit(*args, **kwargs)

    builtin._invoke_function, F.lit = counted_invoke, counted_lit
    try:
        build()
    finally:
        builtin._invoke_function, F.lit = invoke, lit
    walls = [build() for _ in range(builds)]
    spark.stop()
    return {**counts, "build_s": round(statistics.median(walls), 4)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", default="HEAD", help="git revision to compare against")
    ap.add_argument("--workloads", nargs="+", default=["crawl_text", "dense_telemetry"])
    ap.add_argument("--builds", type=int, default=12, help="timed warm builds per process")
    ap.add_argument("--pairs", type=int, default=3, help="alternating process pairs")
    ap.add_argument("--child", nargs=3, metavar=("SRC", "WORKLOAD", "PAGES"),
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        print(json.dumps(child(*args.child, args.builds)))
        return 0

    sys.path[:0] = [os.path.join(ROOT, "src"), PERFBENCH]
    import gen

    with tempfile.TemporaryDirectory() as tmp:
        archive = subprocess.run(["git", "-C", ROOT, "archive", args.rev, "src"],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        sides = {args.rev: os.path.join(tmp, "src"), "work": os.path.join(ROOT, "src")}
        for workload in args.workloads:
            entry, _ = gen.ensure_inputs(workload, 1, os.path.join(ROOT, ".perfbench_work", "inputs"))
            runs = {k: [] for k in sides}
            for pair in range(args.pairs):
                for side, src in list(sides.items())[:: -1 if pair % 2 else 1]:
                    out = subprocess.run(
                        [sys.executable, __file__, "--builds", str(args.builds),
                         "--child", src, workload, os.path.join(entry, "pages")],
                        check=True, capture_output=True, text=True,
                    ).stdout
                    runs[side].append(json.loads(out.splitlines()[-1]))
                    print(json.dumps({"workload": workload, "side": side, **runs[side][-1]}))
            print(json.dumps({
                "workload": workload, "builds": args.builds, "pairs": args.pairs,
                **{side: {"functions": r[0]["functions"], "lits": r[0]["lits"],
                          "build_s": [x["build_s"] for x in r]} for side, r in runs.items()},
            }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
