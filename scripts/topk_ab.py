"""A/B of the top-k cut: the hand-rolled two-phase salted rank the catalog
used to spell out, against `aggregate.topk`'s one `row_number() <= k`
window, which Spark's InsertWindowGroupLimit rule plans as a map-side
`WindowGroupLimit` Partial + Final (per group) or a TakeOrderedAndProject
(no groups).

The frame is skewed on purpose: 8M rows in 16 partitions, 90% of them in
one group, k = 10, on `build_session(parallelism=4)`. Each rep runs the
two forms of one case back to back, alternating which goes first, and
times `collect()`. Both forms must return the same rows (the script exits
1 otherwise). Prints one JSON line per run and a summary line per case
(median seconds per form, Exchange count of each plan), and writes the
same lines to --out.

Usage: python3 scripts/topk_ab.py [--reps 6] [--out BENCH/topk_one_window.jsonl]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "src"))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from weblog_pipeline.aggregate import topk  # noqa: E402
from weblog_pipeline.session import build_session  # noqa: E402

ROWS, PARTITIONS, K = 8_000_000, 16, 10
GROUP_SALT, GLOBAL_SALT = 64, 8


def order():
    return [F.col("score").desc(), F.col("id").asc()]


def skewed(spark):
    """(g, score, id): g = 0 for 90% of the rows, else one of 1000 small
    groups; score ties often, so id decides."""
    return spark.range(0, ROWS, numPartitions=PARTITIONS).select(
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise(F.col("id") % 1000 + 1)
        .alias("g"),
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("score"),
        "id",
    )


def salted(df, by):
    """The removed form: rank inside (by, salt) buckets and keep k, then
    rank the <= k * buckets survivors per group."""
    if by:
        salt = F.pmod(F.xxhash64("id"), F.lit(GROUP_SALT))
    else:
        salt = F.pmod(F.col("id"), F.lit(GLOBAL_SALT))
    w1 = Window.partitionBy(*by, salt).orderBy(*order())
    w2 = Window.partitionBy(*by).orderBy(*order())
    return (
        df.withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= K)
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= K)
        .drop("_r")
    )


def exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum("Exchange " in ln for ln in plan.splitlines())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=6)
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH", "topk_one_window.jsonl"))
    args = ap.parse_args()

    spark = build_session(parallelism=4)
    spark.sparkContext.setLogLevel("ERROR")
    forms = {"salted": salted, "one_window": lambda df, by: topk(df, K, order(), by=by)}
    lines = []
    for case, by in (("per_group", ["g"]), ("global", [])):
        times = {f: [] for f in forms}
        plans = {}
        for rep in range(args.reps + 1):  # rep 0 warms the JIT, untimed
            names = list(forms) if rep % 2 == 0 else list(forms)[::-1]
            rows = {}
            for form in names:
                df = forms[form](skewed(spark), by)
                plans[form] = exchanges(df)
                t0 = time.perf_counter()
                rows[form] = sorted(tuple(r) for r in df.select("g", "rank", "id").collect())
                dt = time.perf_counter() - t0
                if rep:
                    times[form].append(dt)
                    lines.append({"case": case, "form": form, "rep": rep, "collect_s": round(dt, 3),
                                  "exchanges": plans[form], "rows": len(rows[form])})
                    print(json.dumps(lines[-1]), flush=True)
            if rows["salted"] != rows["one_window"]:
                print(f"{case}: the two forms returned different rows", file=sys.stderr)
                return 1
        lines.append({
            "case": case, "summary": True, "reps": args.reps, "rows_in": ROWS, "k": K,
            **{f"median_s_{f}": round(statistics.median(times[f]), 3) for f in forms},
            **{f"exchanges_{f}": plans[f] for f in forms},
        })
        print(json.dumps(lines[-1]), flush=True)
    spark.stop()
    with open(args.out, "w") as fh:
        fh.writelines(json.dumps(ln) + "\n" for ln in lines)
    return 0


if __name__ == "__main__":
    sys.exit(main())
