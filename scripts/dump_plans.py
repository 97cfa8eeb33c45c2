"""Regenerate PLANS.md: formatted physical plans of the headline queries
with the scale property each plan is supposed to exhibit. Run after any
operator change:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "src"))

SF = "/root/testdata/sf0.001"

#: query name -> the scale property the plan must show (checked by eye and
#: by the greps in tests/test_plans.py; this doc is the human-readable twin)
CLAIMS = {
    "e2e_records": "one scan; html-null prune PUSHED to the scan; literal-map "
    "enrich (no join, no shuffle before the sink router)",
    "domain_route_counts": "one groupBy(sink, domain) count: the partial "
    "agg combines map-side, so the Zipf-head domain sends one row per map "
    "task (salting stays only in salted_skew_join)",
    "quality_classifier": "BroadcastHashJoin against the 512-row weight "
    "table; token stream never shuffles by bucket; doc_id agg map-side "
    "combined",
    "pack_sequences": "running-sum window partitioned by bounded stratum "
    "(never SinglePartition)",
    "cdc_dup_stats": "per-doc window partitioned by doc_id; chunk-frequency "
    "aggregate joined back (AQE broadcast at small sizes)",
    "ann_lsh_topk": "bucket equi-join with broadcast query side; the rank "
    "is group-limited (WindowGroupLimit Partial before the Exchange, "
    "Final after: no single-reducer window)",
    "bigram_logprob": "corpus counts are groupBy aggregates joined back — "
    "NO unbounded window over token-frequency keys",
    "otlp_roundtrip": "from_json + three Generate (explode) nodes in the "
    "scan stage; no Python, no shuffle before the final projection",
    "label_centroids": "posexplode + one (label, dim) hash aggregate, "
    "map-side combined",
    "export_manifest": "curate (line-dedup + PII + gate) feeds pack's "
    "bounded stratum window, then a tiny shard rollup — ONE plan, no "
    "materialization between stages",
    "polite_crawl": "urlnorm UDF -> broadcast robots join -> per-host "
    "aggregate; the only exchange is the final host groupBy",
    "decontaminate": "probe gram set rides the BROADCAST side; the train "
    "gram stream is filtered in place (never shuffled by gram); the only "
    "stream shuffles are its own distinct and the doc_id aggregate",
    "length_quantiles": "running-sum window consumes the per-(lang, length) "
    "AGGREGATE (bounded by the distinct length domain, never per-doc); "
    "per-lang totals broadcast",
    "token_windows": "explode(sequence) fan-out of integer chunk boundaries "
    "in the scan stage — ZERO exchanges",
    "source_boilerplate": "one (source, line-md5) hash aggregate (map-side "
    "combined) with the tiny per-source doc-count table BROADCAST onto it; "
    "nothing shuffles by raw line text",
    "posting_lists": "per-term rank over tf, group-limited: "
    "WindowGroupLimit Partial keeps k postings per term on each map task "
    "before the Exchange, Final after it, so a Zipf-hot term never "
    "reaches one task whole; the df join runs after the cut",
    "domain_pagerank": "iterate is localCheckpoint'd (ExistingRDD leaf): "
    "the final plan holds ONE iteration's join pair regardless of "
    "iteration count; edge/outdeg joins broadcast at domain grain",
    "c4_quality_flags": "one scan, zero exchanges: kept-line array "
    "materialized once in its own projection, every rule bit a codegen'd "
    "array/string expression over it",
    "heavy_hitters": "CMS counter grid is a (row, bucket) hash aggregate — "
    "map-side combine into <= depth*width cells, the token stream never "
    "keys a shuffle; exact side is one token aggregate + "
    "TakeOrderedAndProject; probe joins BROADCAST the tiny cells/top-k "
    "tables",
    "daily_quota": "ONE window partitioned by (user_id, win_start) — a "
    "bounded (key, day) stratum, never a key's full history, never "
    "SinglePartition",
    "vocab_growth": "token first-appearance via one (token -> min bucket) "
    "aggregate — never one prefix scan per curve point; the cumulative "
    "window runs on <= n_buckets rows; corpus doc-count/max-id scalars "
    "BROADCAST",
    "bloom_prefilter": "bit-grid side (<= depth*width rows regardless of "
    "corpus size) rides a BroadcastHashJoin into the probe stream; only "
    "the exact AUDIT join shuffles",
    "semantic_dedup": "candidate pairs generated PER IVF CELL (cell "
    "equi-join, never a global pair join); integer-cosine filter runs on "
    "cell-collision survivors only; no CartesianProduct anywhere",
    "freq_spectrum": "two-level aggregation, BOTH map-side combined "
    "(partial_count before each exchange): shuffle volume is vocabulary "
    "then the count domain — never the exploded token stream",
    "sentence_stats": "one codegen'd scan, ZERO exchanges: each "
    "higher-order-function stage materialized in its own projection "
    "(the shingles_over CSE contract)",
    "unicode_nfc": "pure Arrow-batched map stage (the rows.map_rows "
    "mapInArrow) — no join, no state; the single Exchange is _fan_out's "
    "small-input repartition (a no-op at real scale by its size guard); "
    "the only Python is the per-document normalizer",
    "multimodal_dib_depths_decode": "one mapInArrow row stage (rows.map_rows) "
    "decodes directly "
    "over the media table — no shuffle before the projection; all three "
    "DIB layouts decode in the same single pass",
    "cohort_retention": "user-grain min-aggregate joined back on the "
    "user key, then a distinct over the bounded (cohort, offset, user) "
    "triple — hash aggregates and one equi-join, NO windows, no "
    "per-user history",
    "attribution_last_touch": "as-of join as a bounded RANGE-BUCKET "
    "equi-join: conversion side exploded into exactly 2 probe buckets, "
    "winner = one max(struct) hash aggregate — never a per-user "
    "full-history window",
    "event_transitions": "lag window partitioned by bounded (user, day) "
    "strata; the |types|^2 totals table joins back BROADCAST",
    "value_percentiles": "cumulative window runs over the AGGREGATED "
    "(key, bucket) histogram — bounded domain, never per-event; per-key "
    "totals ride a second window over the SAME partition key, so the "
    "whole op is one scan, one histogram exchange, ZERO joins",
    "bm25_topk": "token stream explodes once; corpus stats attach as a "
    "broadcast single-row cross join (no driver collect); tf is "
    "pre-filtered to the query's own terms; final top-k is a "
    "TakeOrderedAndProject under the rank window — never a "
    "single-reducer window over every matching document",
    "pq_codes": "ONE Arrow-batched block-diagonal int64 matmul assigns "
    "all m subspace codes in a single map stage — zero shuffle, no "
    "per-row Python; the codebook sample is a TakeOrdered scan "
    "collecting n_codes rows",
    "pq_adc_topk": "corpus side touches ONLY the codes relation; the "
    "per-query LUT attaches by BROADCAST (subspace, code) equi-join; "
    "per-doc score is a map-side-combined sum; top-k is group-limited "
    "(WindowGroupLimit Partial, Exchange, Final) — raw corpus floats are "
    "never read at query time",
    "pq_adc_refined": "ADC nominates a CONSTANT candidate count per "
    "query; the exact-cosine join fetches raw floats for those rows "
    "ONLY, then the shared group-limited rank keeps k",
    "domain_trustrank": "the pagerank iterate with seed-gated teleport: "
    "localCheckpoint'd each round (lineage one iteration deep), pure "
    "integer updates, domain-grain joins",
    "readability": "single codegen'd scan, ZERO exchanges: words, "
    "sentences, and syllables all from higher-order functions over "
    "arrays materialized in their own projections",
    "drift_psi": "one scan into a (key, bucket) map-side-combined "
    "aggregate with conditional side counts; per-key totals broadcast "
    "back; everything after the first aggregate bounded by keys x "
    "buckets, independent of event count",
    "bot_gap_stats": "lag window partitioned by the bounded (user, day) "
    "stratum — never a user's full history — then one map-side-combined "
    "moments aggregate; zero joins",
    "regional_revenue": "Q5-shape star: region->nation->customer fold "
    "into ONE broadcast lookup before any fact is touched; the only "
    "real exchange is orders ⋈ lineitem on orderkey",
    "heavy_orders": "Q18 shape: the per-order rollup is the only real "
    "shuffle; the data-derived threshold is a broadcast one-row "
    "scalar; the tiny qualifying set and the customer dim both ride "
    "broadcast joins",
    "scd2_lookup": "point-in-time dimension join: the <= 2-row-per-key "
    "version history BROADCASTS; the validity-interval predicate runs "
    "in the scan stage right after the hash probe — the fact never "
    "shuffles",
    "kmv_audit": "distinct (type, user) dedups map-side; the k-smallest "
    "selection is group-limited (each map task keeps k hashes per type "
    "before the Exchange); everything after runs on <= k rows per key",
    "markov_stationary": "fixed-round integer power iteration over the "
    "STATE-DOMAIN matrix relation, localCheckpoint'd each round — the "
    "final plan holds one round's join regardless of iteration count",
    "burst_census": "RANGE frame over LTZ microseconds partitioned by "
    "bounded (user, day) strata; per-user max and the histogram are "
    "map-side-combined rollups of ever-smaller relations",
    "skipgram_counts": "window pairs WITHOUT a self-join: one shifted "
    "zip-stream per offset unioned in the scan stage; the only "
    "exchange is the map-side-combined pair count (plus the bounded "
    "top-k)",
}


def main() -> None:
    import __spark_entry__ as entrymod
    from weblog_pipeline.session import build_session

    spark = build_session(app_name="dump-plans", parallelism=8,
                          shuffle_partitions=8)
    qs = entrymod.queries()
    out = [
        "# PLANS — physical-plan evidence for the headline queries",
        "",
        f"Generated by `python scripts/dump_plans.py` at sf0.001 "
        f"(plan SHAPE is scale-independent; AQE may further collapse "
        f"exchanges at runtime).",
        "",
    ]
    for name, claim in CLAIMS.items():
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # keep the operator tree, drop the verbose per-node field dumps
        tree = plan.split("\n\n")[0]
        tree = re.sub(r"#\d+L?", "", tree)
        out += [f"## {name}", "", f"**Claim:** {claim}", "", "```",
                tree.strip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(CLAIMS)} plans)")


if __name__ == "__main__":
    main()
