"""Hybrid retrieval: rank fusion across lexical and vector rankers.

Modern retrieval stacks (and retrieval-augmented training-data mining)
run BM25 AND an embedding ANN side by side, then merge the two ranked
lists with Reciprocal Rank Fusion (Cormack et al., SIGIR 2009):

    RRF(d) = sum over systems s of 1 / (k + rank_s(d))

RRF needs no score calibration between systems — only ranks — which is
exactly why it is the default fusion everywhere from Elasticsearch to
Vespa. Here the reciprocal is integer micro-units (1_000_000 DIV
(k + rank)) so the fused score is a BIGINT both engines agree on
bit-for-bit; ties break by doc_id.

Scale shape: each input is ALREADY a bounded top-R list (BM25's and the
ANN family's `aggregate.topk` cuts), so the fusion input is
<= n_systems * R rows by construction — the union, the per-doc
aggregate, and the final top-k all run on that bounded relation, never
on the corpus. The expensive parts (corpus scans)
stay inside the upstream rankers, which keep their own skew-safe
plans.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..aggregate import topk

#: RRF smoothing constant — the k=60 from the original paper, shared
#: with the SQL oracle.
RRF_K = 60

#: integer scale for the reciprocal: 1e6 DIV (k + rank) keeps ~4
#: significant digits at rank 100 while staying far from int64 limits.
RRF_SCALE = 1_000_000


def rrf_fuse(
    rankings: Mapping[str, DataFrame],
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Fuse named (doc_id, rank) relations into one RRF-ranked top-k.

    Each input must be a bounded top-R list (rank 1-based), so the union
    holds at most sum(R_s) rows — bounded by construction, not by data
    volume. The final cut is `topk` without groups all the same: Spark's
    group limit rule plans it as a TakeOrderedAndProject, and the rank
    window numbers its k rows.

    Output: rank (INT), doc_id, n_systems (BIGINT), rrf_score (BIGINT).
    """
    u = None
    for df in rankings.values():
        part = df.select("doc_id", F.col("rank").cast("long").alias("rank"))
        u = part if u is None else u.unionByName(part)
    fused = u.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_systems"),
        F.sum(
            F.expr(f"{RRF_SCALE} DIV ({rrf_k} + rank)")
        ).alias("rrf_score"),
    )
    order = [F.col("rrf_score").desc(), F.col("doc_id").asc()]
    return topk(fused, k, order).select(
        "rank", "doc_id", "n_systems", "rrf_score"
    )
