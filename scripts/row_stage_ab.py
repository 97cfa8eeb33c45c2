"""Wall time of two row-stage workloads at a git revision against the
working tree: `webpages.generate_webpages` of --pages synthetic pages,
and the WARC ingest `warc.read_warc_files` over the same pages written
as compressed .warc blobs (one per partition).

The revision's package is exported with `git archive` and imported under
another name (its imports are relative), so both sides run in one
process and one JVM, alternating run by run with the first side flipped
every rep. Each run plans the stage afresh and drives it to the end with
Spark's `noop` sink (every row computed, nothing collected or written).
Prints one JSON line per run and a median per side; --out also writes the
lines to a file.

Usage: python3 scripts/row_stage_ab.py [--rev HEAD] [--pages 20000]
       [--reps 5] [--cpus 4] [--out BENCH/x.jsonl]
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("--pages", type=int, default=20000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--out")
    args = ap.parse_args()

    rev = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short", args.rev],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    tmp = tempfile.mkdtemp(prefix="row_stage_ab-")
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev, "src/weblog_pipeline"],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
    os.rename(os.path.join(tmp, "src", "weblog_pipeline"), os.path.join(tmp, "wp_rev"))
    src = os.path.join(ROOT, "src")
    sys.path[:0] = [src, tmp]
    os.environ["PYTHONPATH"] = os.pathsep.join([src, tmp, os.environ.get("PYTHONPATH", "")])

    from weblog_pipeline.session import build_session

    spark = build_session(app_name="row-stage-ab", parallelism=args.cpus)
    sides = {
        "rev": (importlib.import_module("wp_rev.webpages"), importlib.import_module("wp_rev.warc")),
        "tree": (importlib.import_module("weblog_pipeline.webpages"),
                 importlib.import_module("weblog_pipeline.warc")),
    }
    warc_path = os.path.join(tmp, "warc")
    webpages, warc = sides["tree"]
    pages = webpages.generate_webpages(spark, args.pages, partitions=args.cpus)
    warc.write_warc_files(pages, warc_path, compress=True)

    def run(side: str, workload: str) -> dict:
        webpages, warc = sides[side]
        t0 = time.perf_counter()
        if workload == "generate_webpages":
            df = webpages.generate_webpages(spark, args.pages, partitions=args.cpus)
        else:
            df = warc.read_warc_files(spark, warc_path)
        df.write.format("noop").mode("overwrite").save()
        return {"side": side, "workload": workload, "rev": rev,
                "pages": args.pages, "wall_s": round(time.perf_counter() - t0, 3)}

    lines = []
    for workload in ("generate_webpages", "read_warc_files"):
        run("tree", workload)  # warm-up, not counted
        for rep in range(args.reps):
            order = ("rev", "tree") if rep % 2 == 0 else ("tree", "rev")
            for side in order:
                line = run(side, workload)
                print(json.dumps(line), flush=True)
                lines.append(line)
    summaries = []
    for workload in ("generate_webpages", "read_warc_files"):
        med = {
            side: round(statistics.median(
                x["wall_s"] for x in lines if x["side"] == side and x["workload"] == workload
            ), 3)
            for side in sides
        }
        summaries.append({"workload": workload, "median_wall_s": med,
                          "tree_over_rev": round(med["tree"] / med["rev"], 3)})
        print(json.dumps(summaries[-1]))
    lines += summaries
    if args.out:
        with open(args.out, "w") as f:
            f.writelines(json.dumps(x) + "\n" for x in lines)
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
