"""In-process A/B of the parse UDF body: `parse._parse_arrow_batches` at a
git revision against the working tree, with no Spark.

Both versions run over perfbench's generated pages (the cached inputs
under .perfbench_work/inputs/, generated through perfbench/gen.py when
missing), cut into Arrow batches of the session's maxRecordsPerBatch with
the columns `parse_events` hands the UDF. Every output batch of the
working tree must be `RecordBatch.equals` the revision's (schema and
values), and every page row (event_idx <= 0) without a parse_error must
carry the page_text `markers.extract_text`, the oracle's spec, gives for
its page's html; then both are timed in process CPU time, alternating
batch by batch, and the medians over the reps printed. Exits 1 on the
first unequal batch or page text.

Usage: python3 scripts/parse_ab.py [--rev HEAD] [--seeds 1 4 5 6 7 8]
       [--workloads crawl_text dense_telemetry] [--reps 7]
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import statistics
import subprocess
import sys
import time
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "src"), os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402  (perfbench/gen.py)
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from weblog_pipeline import parse as work  # noqa: E402
from weblog_pipeline.markers import extract_text  # noqa: E402
from weblog_pipeline.session import ARROW_BATCH_ROWS  # noqa: E402


def parse_at(rev: str) -> types.ModuleType:
    """parse.py as of `rev`, loaded inside the weblog_pipeline package so
    its relative imports resolve against the working tree."""
    src = subprocess.run(
        ["git", "-C", ROOT, "show", f"{rev}:src/weblog_pipeline/parse.py"],
        check=True, capture_output=True, text=True,
    ).stdout
    mod = types.ModuleType("weblog_pipeline._parse_ab_rev")
    mod.__package__ = "weblog_pipeline"
    exec(compile(src, f"{rev}:parse.py", "exec"), mod.__dict__)  # noqa: S102
    return mod


def input_batches(workload: str, seed: int) -> list:
    entry, _ = gen.ensure_inputs(workload, seed, os.path.join(ROOT, ".perfbench_work", "inputs"))
    batches = []
    for path in sorted(glob.glob(os.path.join(entry, "pages", "*.parquet"))):
        table = pq.read_table(path, columns=["url", "warc_ts", "html", "lang"])
        batches += table.to_batches(max_chunksize=ARROW_BATCH_ROWS)
    return batches


def text_mismatch(batches: list, out: list) -> int | None:
    """Index of the first output batch whose page rows (event_idx <= 0,
    one per input page, in page order) carry a page_text other than
    `extract_text` of their page, parse_error rows aside; None if none."""
    for k, (rb, ob) in enumerate(zip(batches, out)):
        pages = ob.filter(pc.less_equal(ob.column("event_idx"), 0))
        if pages.num_rows != rb.num_rows:
            return k
        rows = zip(rb.column("html").to_pylist(), pages.column("page_text").to_pylist(),
                   pages.column("parse_error").to_pylist())
        if any(err is None and text != extract_text(html or b"") for html, text, err in rows):
            return k
    return None


def cpu_s(sides: dict, batches: list, reps: int) -> dict:
    """{side: [process CPU seconds of one pass over `batches`] per rep}.
    The sides alternate batch by batch, first side flipping every rep, so
    a host slowdown of a few seconds hits both alike."""
    times = {k: [] for k in sides}
    for rep in range(reps):
        order = list(sides.items())[:: 1 if rep % 2 else -1]
        spent = dict.fromkeys(sides, 0.0)
        for rb in batches:
            for k, fn in order:
                t0 = time.process_time()
                for _ in fn(iter([rb])):
                    pass
                spent[k] += time.process_time() - t0
        for k, v in spent.items():
            times[k].append(v)
    return times


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", default="HEAD", help="git revision to compare against")
    ap.add_argument("--workloads", nargs="+", default=list(gen.WORKLOADS))
    ap.add_argument("--seeds", nargs="+", type=int, default=[1, 4, 5, 6, 7, 8])
    ap.add_argument("--reps", type=int, default=7, help="alternating timed reps per side")
    args = ap.parse_args()

    old = parse_at(args.rev)._parse_arrow_batches
    new = work._parse_arrow_batches
    for workload in args.workloads:
        for seed in args.seeds:
            batches = input_batches(workload, seed)
            got = list(new(iter(batches)))
            want = list(old(iter(batches)))
            if len(got) != len(want):
                print(f"{workload} seed {seed}: {len(got)} batches vs {len(want)}")
                return 1
            for k, (g, w) in enumerate(zip(got, want)):
                if not g.equals(w):
                    print(f"{workload} seed {seed}: batch {k} differs from {args.rev}")
                    return 1
            bad = text_mismatch(batches, got)
            if bad is not None:
                print(f"{workload} seed {seed}: batch {bad} page_text differs from extract_text")
                return 1
            rows = sum(b.num_rows for b in got)
            print(f"{workload} seed {seed}: {len(got)} batches, {rows} rows equal, "
                  f"page_text equal to extract_text")

        # timed on the first seed
        gc.collect()
        times = cpu_s({"rev": old, "work": new}, input_batches(workload, args.seeds[0]), args.reps)
        med = {k: statistics.median(v) for k, v in times.items()}
        print(json.dumps({
            "workload": workload, "seed": args.seeds[0], "reps": args.reps,
            "rev": args.rev, "rev_cpu_s": round(med["rev"], 4),
            "work_cpu_s": round(med["work"], 4),
            "change": round(med["work"] / med["rev"] - 1, 4),
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
