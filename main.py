"""spark-submit entrypoint: run the parse→enrich→route→aggregate job.

Cluster launch (north rule):
    scripts/package.sh  # writes pipeline.zip with weblog_pipeline/ at its root
    spark-submit --master <cluster> --py-files pipeline.zip main.py \
        --input <webpages parquet path | iceberg:<table>> \
        --output <sink dir | iceberg:<namespace>>

--input and --output are parquet paths unless prefixed `iceberg:`; the
backend is never inferred from the shape of a path.

Sandbox launch:
    python main.py --generate 10000 --output /tmp/weblog_out

Resume: name the run with --run-id; re-running the same command after a
crash skips the chunks the run_metrics ledger already holds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "src"))

from weblog_pipeline.config import PipelineConfig
from weblog_pipeline.pipeline import build_pipeline, run_to_sinks
from weblog_pipeline.session import build_session
from weblog_pipeline.tableio import TableIO
from weblog_pipeline.webpages import generate_webpages


def main() -> None:
    ap = argparse.ArgumentParser(description="weblog parse→enrich→route→aggregate")
    ap.add_argument("--input", help="webpages parquet path, or iceberg:<table>")
    ap.add_argument("--input-warc", help="WARC directory (warc.write_warc_files layout)")
    ap.add_argument("--generate", type=int, default=0,
                    help="instead of --input, generate N synthetic pages")
    ap.add_argument("--output", required=True,
                    help="sink directory, or iceberg:<namespace>")
    ap.add_argument("--config", help="JSON file with PipelineConfig fields")
    ap.add_argument("--cpus", type=int, default=None, help="local[N] parallelism")
    ap.add_argument("--write-texts", action="store_true")
    ap.add_argument("--run-id", help="resume this run if it already has committed chunks")
    args = ap.parse_args()

    cfg = PipelineConfig()
    if args.config:
        with open(args.config) as fh:
            raw = fh.read()
        try:
            parsed = json.loads(raw)
        except json.JSONDecodeError:
            try:
                import yaml  # the reference configures via YAML; optional here
            except ImportError as exc:
                raise SystemExit(
                    f"{args.config} is not JSON and pyyaml is unavailable"
                ) from exc
            parsed = yaml.safe_load(raw)
        cfg = PipelineConfig.from_dict(parsed)

    spark = build_session(app_name="weblog-pipeline", parallelism=args.cpus)
    io = TableIO(spark, args.output)

    if args.generate:
        webpages = generate_webpages(spark, args.generate)
    elif args.input_warc:
        from pyspark.sql import functions as F

        from weblog_pipeline.warc import read_warc_files

        # crawl container ingest: lang is not a WARC field; downstream
        # treats it as metadata-optional
        webpages = read_warc_files(spark, args.input_warc).withColumn(
            "lang", F.lit(None).cast("string")
        )
    elif args.input and args.input.startswith("iceberg:"):
        # the catalog must be configured, as for an iceberg: --output
        webpages = spark.read.format("iceberg").load(args.input[len("iceberg:"):])
    elif args.input:
        webpages = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --input-warc / --generate is required")
        return

    t0 = time.time()
    result = build_pipeline(webpages, cfg)
    counts = run_to_sinks(
        spark, result, io, write_texts=args.write_texts, run_id=args.run_id
    )
    elapsed = time.time() - t0

    # every figure comes from the run_metrics ledger rows and the
    # Observations riding the writes (O23): the input is scanned once
    m = result.metrics
    print(json.dumps({
        "run_id": m["run_id"],
        "chunks": m["chunks"],
        "chunks_skipped": m["chunks_skipped"],
        "pages_in": m["pages_in"],
        "per_sink_counts": counts,
        "observed_records": m["records"],
        "run_metrics_table": io.target("run_metrics"),
        "elapsed_sec": round(elapsed, 3),
        "docs_per_sec": round(m["pages_processed"] / elapsed, 1),
        "output": args.output,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
