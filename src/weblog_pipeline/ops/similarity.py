"""Similarity search over the embeddings table (array<float> column).

* brute_force_topk — exact cosine top-k: broadcast the (small) query set
  against the full corpus; the dot product is a built-in `zip_with` +
  `aggregate` fold (JVM codegen, no Python). At 100 TB the corpus side
  stays partition-parallel; the final rank is `aggregate.topk` per query,
  whose map-side group limit (WindowGroupLimit Partial, then Final)
  keeps k rows per query per map task, so no single reducer ever
  receives the full corpus for one query.
* lsh_topk — sign-random-projection LSH: 8-bit band buckets from
  deterministic +-1 hyperplanes; candidates = bucket equi-join, then exact
  cosine re-rank. The scale path: candidate volume shrinks by the bucket
  selectivity (~2^-8 per band, 4 bands for recall).
* ivf_topk — inverted-file: hash-sampled centroids, cell equi-join,
  n_probe/n_cells pruning.

Cross-engine exactness: bucket and cell decisions are made in INTEGER
space — vectors are quantized with floor(x * QUANT) (a long), projections
and centroid dot products are integer sums, so Spark and any SQL oracle
agree bit-for-bit regardless of float summation order. Only the final
cosine re-rank uses float math, protected by round(,6) + neighbor-id
tie-break (the ordering is reproducible across engines whose float
summation order differs).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..aggregate import topk

DIM = 64
N_PLANES = 8  # bits per LSH band (near-dup family default)
N_LSH_BANDS = 4
#: the TOP-K family uses WIDER buckets (6-bit bands): recall@5 needs a
#: candidate set dense enough to contain most true top-5 rows, and on
#: weak-structure embeddings 8-bit buckets + Hamming-1 probing plateaued
#: at ~38-47% recall. 6 bands x 6 bits x (1+6 probes) scores ~2/3 of the
#: corpus and measures 76-79% recall@5 (the tracked ann_recall rows) —
#: an honest price on near-random synthetic embeddings; real clustered
#: embeddings buy the same recall at far fewer bands.
#: The near-dup PAIR family keeps 8-bit buckets: its threshold filter
#: only needs one band collision per surviving pair, not rank coverage.
LSH_TOPK_PLANES = 6
LSH_TOPK_BANDS = 6
#: IVF top-k probes 10 of its 16 cells: same recall rationale (measured
#: recall@5 at the sf0.1 audit slice: 7200 bp at n_probe=8, 8150 at 10,
#: 9100 at 12 — 10 clears the >=7500 bp tracking bar while scanning
#: ~5/8 of the corpus, comparable to the LSH family's candidate mass).
IVF_TOPK_CELLS = 16
IVF_TOPK_PROBE = 10
LSH_QUANT = 1_000_000  # sign-projection quantizer: floor(x * 1e6) as long
IVF_QUANT = 1_000  # centroid-assignment quantizer: floor(x * 1e3) as long


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cos_r6_pre(a, b, na, nb):
    """round(cosine, 6) from PRE-COMPUTED per-row norms. Bit-identical to
    cosine_col (same fold order, same a*b multiply order) but the norm
    folds run once per ROW before a join instead of once per candidate
    PAIR after it — 3 array folds per pair drop to 1 on every scoring
    stage (the dominant per-task cost of the ANN family)."""
    return F.round(_dot(a, b) / (na * nb), 6)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Top-k per query over (query_id, neighbor_id, cos_r6): `topk` by
    query, cos_r6 desc, ties on neighbor_id asc."""
    order = [F.col("cos_r6").desc(), F.col("neighbor_id").asc()]
    return topk(scored, k, order, by=["query_id"]).select(
        "query_id", "rank", "neighbor_id", "cos_r6"
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (self excluded).

    queries: (query_id, query_vec) — small; broadcast side of the join.
    Output: query_id, rank, neighbor_id, cos_r6 (rounded).
    """
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("vec"),
        _norm(F.col("embedding")).alias("_nv"),
    )
    qn = queries.select(
        "query_id", "query_vec", _norm(F.col("query_vec")).alias("_nq")
    )
    joined = corpus.crossJoin(F.broadcast(qn)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        _cos_r6_pre(
            F.col("query_vec"), F.col("vec"), F.col("_nq"), F.col("_nv")
        ).alias("cos_r6"),
    )
    return _topk_per_query(scored, k)


def hyperplane_signs(band: int, plane: int, dim: int = DIM) -> list[int]:
    """Deterministic +-1 hyperplane: sign of bit `plane` of
    md5('lshplane-<band>-<plane>-<d>') per dimension d. Pure public-recipe
    derivation any engine can reproduce."""
    signs = []
    for d in range(dim):
        digest = hashlib.md5(f"lshplane-{band}-{plane}-{d}".encode()).digest()
        signs.append(1 if digest[0] & 1 else -1)
    return signs


def _quantize_batch(vals, quant: int):
    """float vectors -> int64 matrix, the numpy twin of the engines' rule
    floor(CAST(x AS DOUBLE) * quant): float32->float64 widening is exact,
    the double product is IEEE-identical everywhere, floor is unambiguous
    — so the integers match Spark SQL and DuckDB bit-for-bit."""
    import numpy as np

    return np.floor(
        np.stack([np.asarray(a, dtype=np.float64) for a in vals])
        * float(quant)
    ).astype(np.int64)


def _with_matmul_column(df: DataFrame, vec: str, out_field, fn) -> DataFrame:
    """Append one column computed per Arrow batch by `fn(Q)` over the
    quantization-ready vector column — the repo's vectorized map-stage
    pattern (embedding_covariance). All input columns pass through; zero
    shuffle; no per-row Python.

    Why not a codegen'd literal expression: the n_cells x dim (or
    n_bands x n_planes x dim) multiply-add unrolls to a ~1000-term single
    expression tree, which overflows Janino's 64 KB method limit —
    Spark then silently falls back to per-row INTERPRETED evaluation
    (`ERROR CodeGenerator: Failed to compile`), the worst of both worlds
    on the hottest inner loop. An int64 numpy matmul per Arrow batch is
    exact (see _quantize_batch) and BLAS-fast, and the surrounding plan
    (scan, joins, ranks) stays whole-stage-codegen'd JVM."""
    from pyspark.sql.types import StructType

    out_schema = StructType(df.schema.fields + [out_field])

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            pdf[out_field.name] = fn(pdf[vec])
            yield pdf

    return df.mapInPandas(gen, out_schema)


def _sign_matrix(n_bands: int, n_planes: int, dim: int):
    """(n_bands * n_planes, dim) +-1 int64 matrix of hyperplane_signs."""
    import numpy as np

    return np.asarray(
        [
            hyperplane_signs(b, p, dim)
            for b in range(n_bands)
            for p in range(n_planes)
        ],
        dtype=np.int64,
    )


def with_band_buckets(
    df: DataFrame,
    vec: str,
    id_col: str,
    dim: int = DIM,
    n_bands: int = N_LSH_BANDS,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """(id_col, <vec>, band, bucket) — one row per (row, band).

    bucket bit p of band b = [integer projection of the quantized vector
    onto plane_{b,p} > 0]; computed as one int64 matmul per Arrow batch
    (see _with_matmul_column for why not a literal codegen expression),
    returned as an n_bands array so the (band, bucket) fan-out is a
    JVM-side posexplode — the vector column crosses Arrow exactly once."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField

    S = _sign_matrix(n_bands, n_planes, dim)
    weights = np.asarray([1 << p for p in range(n_planes)], dtype=np.int64)

    def buckets(vals):
        Q = _quantize_batch(vals, LSH_QUANT)
        bits = (Q @ S.T > 0).reshape(len(Q), n_bands, n_planes)
        bk = (bits * weights).sum(axis=2).astype(np.int32)
        return list(bk)

    out = _with_matmul_column(
        df.select(id_col, vec),
        vec,
        StructField("_buckets", ArrayType(IntegerType()), False),
        buckets,
    )
    return out.select(
        id_col, vec, F.posexplode("_buckets").alias("band", "bucket")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = DIM,
    probe_bits: int = 0,
    n_bands: int = LSH_TOPK_BANDS,
    n_planes: int = LSH_TOPK_PLANES,
) -> DataFrame:
    """Approximate top-k: candidates share >=1 sign-LSH band bucket;
    exact cosine re-rank on candidates only; `topk` per query.
    Defaults: 6 bands x 6-bit buckets (see LSH_TOPK_PLANES note).

    probe_bits=1 enables MULTI-PROBE (Lv et al., VLDB'07): each query
    additionally probes every bucket at Hamming distance 1 (one flipped
    hyperplane bit) — near neighbors that land one unlucky bit away stop
    being missed. Probing expands only the broadcast QUERY side
    (1+n_planes buckets/band instead of 1); the corpus side still
    materializes one bucket per band, so the candidate fraction stays
    ~n_bands * (1+n_planes) * 2^-n_planes and nothing new shuffles at
    100 TB."""
    corpus_b = with_band_buckets(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("neighbor_vec"),
        ),
        "neighbor_vec",
        "neighbor_id",
        dim,
        n_bands,
        n_planes,
    )
    queries_b = with_band_buckets(
        queries, "query_vec", "query_id", dim, n_bands, n_planes
    )
    if probe_bits:
        if probe_bits != 1:
            raise ValueError("only Hamming-1 multi-probe is implemented")
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(n_planes)
            ],
        )
        queries_b = queries_b.select(
            "query_id",
            "query_vec",
            "band",
            F.explode(probes).alias("bucket"),
        )

    # norms computed once per (row, band) BEFORE the bucket join — a
    # corpus row is scored against many queries, so the per-pair cost
    # drops from 3 array folds to 1 (see _cos_r6_pre); the distinct key
    # set is unchanged (the norm is functionally determined by the vector)
    corpus_b = corpus_b.withColumn("_nv", _norm(F.col("neighbor_vec")))
    queries_b = queries_b.withColumn("_nq", _norm(F.col("query_vec")))
    cands = (
        corpus_b.join(F.broadcast(queries_b), ["band", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "query_vec", "_nq", "neighbor_id", "neighbor_vec", "_nv"
        )
        .distinct()
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        _cos_r6_pre(
            F.col("query_vec"),
            F.col("neighbor_vec"),
            F.col("_nq"),
            F.col("_nv"),
        ).alias("cos_r6"),
    )
    return _topk_per_query(scored, k)


def sample_centroids(embeddings: DataFrame, n_cells: int) -> list[list[float]]:
    """n_cells deterministic centroids: the corpus vectors with the
    lexicographically-smallest md5(vec_id) — a hash-ordered sample that
    (a) any engine reproduces exactly, (b) needs ONE scan
    (TakeOrderedAndProject pushes the limit into the scan — no count(),
    no dense-id assumption), (c) collects only n_cells rows to the driver.
    Centroid i is the i-th vector in md5 order."""
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(n_cells)
        .collect()
    )
    return [list(map(float, r["embedding"])) for r in rows]


def quantize_centroid(c: list[float], quant: int = IVF_QUANT) -> list[int]:
    """Driver-side twin of the SQL quantization rule floor(x * quant):
    integer-exact across engines (float->double is exact, the double
    product is IEEE-identical everywhere, floor is unambiguous)."""
    return [math.floor(x * quant) for x in c]


def with_nearest_cells(
    df: DataFrame,
    vec: str,
    qcents: list[list[int]],
    top_n: int,
    out_col: str = "_cells",
) -> DataFrame:
    """Append `out_col` = array of the top_n nearest centroid indices, by
    INTEGER dot product of the quantized vector with the PRE-QUANTIZED
    integer centroid components (ties -> lower cell index). Exact in any
    engine (_quantize_batch); one int64 matmul per Arrow batch against the
    (n_cells, dim) centroid matrix (see _with_matmul_column for why not a
    literal codegen expression). All input columns pass through; at 100 TB
    this is a narrow column computed in a map stage — no shuffle."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField

    C = np.asarray(qcents, dtype=np.int64)

    def cells(vals):
        dots = _quantize_batch(vals, IVF_QUANT) @ C.T
        # descending dot; stable sort keeps ties in ascending cell order
        order = np.argsort(-dots, axis=1, kind="stable")[:, :top_n]
        return list(order.astype(np.int32))

    return _with_matmul_column(
        df, vec, StructField(out_col, ArrayType(IntegerType()), False), cells
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = IVF_TOPK_CELLS,
    n_probe: int = IVF_TOPK_PROBE,
    seeds: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Coarse quantizer: n_cells hash-sampled centroids (sample_centroids),
    or caller-supplied `seeds` (so a caller training both the plain and
    refined variants samples the corpus once).
    Each corpus vector is assigned to its nearest centroid with an exact
    integer argmax over the centroid matrix (with_nearest_cells); a query
    probes its n_probe nearest cells and re-ranks exactly within them. At
    100 TB the cell assignment is a narrow int column from a map stage, the
    probe join is an equi-join on cell id, and only ~n_probe/n_cells of the
    corpus is scored per query.
    """
    centroids = seeds if seeds is not None else sample_centroids(embeddings, n_cells)
    qcents = [quantize_centroid(c) for c in centroids]
    return _ivf_rank(embeddings, queries, qcents, k, n_probe)


def lloyd_step(embeddings: DataFrame, qcents: list[list[int]]) -> list[list[int]]:
    """One Lloyd (k-means) iteration in QUANTIZED integer space: assign
    every corpus vector to its nearest centroid (integer dot argmax), then
    new centroid component d = floor(sum(q_d) / count) per cell.

    Cross-engine exact: the per-(cell, dim) sums are integer aggregates
    (order-free), and floor(int / CAST(int AS DOUBLE)) cannot straddle an
    integer boundary — a non-integer rational p/n sits >= 1/n away from
    any integer, dwarfing the division's half-ulp error — so Spark, the
    SQL twin, and this driver-side reduction agree bit-for-bit. Cells that
    attract no vectors keep their previous centroid (same rule in the SQL
    twin).

    Spark shape: one pass over the corpus (assignment is a vectorized
    map stage, with_nearest_cells), posexplode to (cell, dim) grain,
    map-side-combined aggregate; only n_cells x DIM tiny rows reach
    the driver."""
    quant_expr = (
        f"transform(embedding, x -> cast(floor(x * {float(IVF_QUANT)}D) as long))"
    )
    assigned = with_nearest_cells(
        embeddings.select("embedding"), "embedding", qcents, 1
    ).select(
        F.element_at("_cells", 1).alias("cell"),
        F.expr(quant_expr).alias("q"),
    )
    stats = (
        assigned.select("cell", F.posexplode("q").alias("dim", "v"))
        .groupBy("cell", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_cell: dict[int, dict[int, int]] = {}
    for r in stats:
        by_cell.setdefault(r["cell"], {})[r["dim"]] = math.floor(r["s"] / r["n"])
    return [
        [by_cell[i].get(d, qc[d]) for d in range(len(qc))]
        if i in by_cell
        else list(qc)
        for i, qc in enumerate(qcents)
    ]


def ivf_topk_refined(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = IVF_TOPK_CELLS,
    n_probe: int = IVF_TOPK_PROBE,
    n_iter: int = 1,
    seeds: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k with k-means-refined centroids: the hash-sampled seeds of
    `ivf_topk` (or caller-supplied `seeds`) are improved by `n_iter`
    integer-exact Lloyd iterations (lloyd_step) before the cell join —
    tighter cells, higher recall at the same n_probe. Training costs
    n_iter extra corpus passes; at 100 TB you train on a hash-sampled
    slice and apply to the full table (the assignment expression is
    identical either way)."""
    if seeds is None:
        seeds = sample_centroids(embeddings, n_cells)
    qcents = [quantize_centroid(c) for c in seeds]
    for _ in range(n_iter):
        qcents = lloyd_step(embeddings, qcents)
    return _ivf_rank(embeddings, queries, qcents, k, n_probe)


def _ivf_rank(
    embeddings: DataFrame,
    queries: DataFrame,
    qcents: list[list[int]],
    k: int,
    n_probe: int,
) -> DataFrame:
    """Shared IVF probe chain: cell assignment (vectorized map stage),
    broadcast probe equi-join, exact cosine re-rank.

    History note: assignment was previously a flat literal SQL expression
    (a pre-projected _q-column variant sent the optimizer into a
    non-converging projection collapse), but at 16 cells x 64 dims the
    literal unrolled past Janino's method limit and silently fell back to
    per-row interpreted eval — with_nearest_cells is the fix."""
    corpus = with_nearest_cells(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("vec"),
        ),
        "vec",
        qcents,
        1,
    ).select(
        "neighbor_id",
        "vec",
        F.element_at("_cells", 1).alias("cell"),
        # norm once per corpus row, before the probe join fans it out
        _norm(F.col("vec")).alias("_nv"),
    )
    probes = with_nearest_cells(
        queries.select("query_id", "query_vec"), "query_vec", qcents, n_probe
    ).select(
        "query_id",
        "query_vec",
        F.explode("_cells").alias("cell"),
        _norm(F.col("query_vec")).alias("_nq"),
    )
    cands = corpus.join(F.broadcast(probes), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    # no distinct: each corpus vector lives in exactly ONE cell and a
    # query's n_probe cells are distinct, so (query, neighbor) pairs are
    # unique by construction — a dedup here would only add a shuffle over
    # the scored stream (lsh_topk's distinct IS needed: bands collide)
    scored = cands.select(
        "query_id",
        "neighbor_id",
        _cos_r6_pre(
            F.col("query_vec"), F.col("vec"), F.col("_nq"), F.col("_nv")
        ).alias("cos_r6"),
    )
    return _topk_per_query(scored, k)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_cells: int = IVF_TOPK_CELLS,
    n_iter: int = 1,
    seeds: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style embedding-cluster dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the IVF coarse quantizer
    (hash-sampled seeds + n_iter integer-exact Lloyd steps — the same
    trained cells ann_ivf_refined uses), then WITHIN each cell mark every
    vector that has a lower-id neighbor at cosine >= threshold as a
    semantic duplicate. Deterministic keep rule: the lowest vec_id of a
    near-dup pair survives (the dedup.py family's convention).

    Scale shape: cell assignment is the zero-shuffle map stage
    (with_nearest_cells); pair generation is an equi-join ON CELL — never
    all-pairs. Within-cell volume is (n/n_cells)^2 * n_cells, so the
    scale knob is SemDeDup's own: n_cells grows with the corpus
    (~sqrt(n) keeps pair generation near-linear); the catalog default 16
    fits the test fixtures.

    Output: vec_id, cell, is_dup — one row per corpus vector.
    """
    if seeds is None:
        seeds = sample_centroids(embeddings, n_cells)
    qcents = [quantize_centroid(c) for c in seeds]
    for _ in range(n_iter):
        qcents = lloyd_step(embeddings, qcents)
    assigned = with_nearest_cells(
        embeddings.select("vec_id", "embedding"), "embedding", qcents, 1
    ).select(
        "vec_id",
        "embedding",
        F.element_at("_cells", 1).alias("cell"),
    )
    # norm once per vector before the within-cell pair fan-out
    normed = assigned.withColumn("_n", _norm(F.col("embedding")))
    a = normed.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("_n").alias("_na"),
    )
    b = normed.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("_n").alias("_nb"),
    )
    dups = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            _cos_r6_pre(F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb"))
            >= threshold
        )
        .select("id_b")
        .distinct()
    )
    return (
        assigned.join(dups, assigned["vec_id"] == dups["id_b"], "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.col("id_b").isNotNull().alias("is_dup"),
        )
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame, threshold: float, dim: int = DIM
) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold (id_a<id_b),
    LSH-bucketed: candidates must share >= 1 of the 4 sign-LSH band buckets
    (an equi-join on (band, bucket) — never all-pairs), then the exact
    cosine filter runs on candidates only. Approximate by construction
    (recall = P[>=1 band collision]); `cosine_near_dup_pairs_exact` is the
    brute-force twin kept for recall measurement in tests."""
    b = with_band_buckets(
        embeddings.select(F.col("vec_id"), F.col("embedding")),
        "embedding",
        "vec_id",
        dim,
    ).withColumn("_n", _norm(F.col("embedding")))
    a_side = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("_n").alias("_na"),
        "band",
        "bucket",
    )
    b_side = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("_n").alias("_nb"),
        "band",
        "bucket",
    )
    cands = (
        a_side.join(b_side, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "_na", "_nb")
        .distinct()
    )
    return (
        cands.select(
            "id_a",
            "id_b",
            _cos_r6_pre(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ).alias("cos_r6"),
        )
        .where(F.col("cos_r6") >= threshold)
    )


def cosine_near_dup_pairs_exact(embeddings: DataFrame, threshold: float) -> DataFrame:
    """Brute-force all-pairs twin of cosine_near_dup_pairs — O(N^2);
    test-only recall oracle, never the cataloged scale path."""
    a = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("va"), F.col("vb")), 6).alias("cos_r6"),
        )
        .where(F.col("cos_r6") >= threshold)
    )


def embedding_dim_stats(embeddings: DataFrame, quant: int = IVF_QUANT) -> DataFrame:
    """Per-dimension moment statistics of the embedding corpus — the
    drift/whitening monitor (a per-dim mean or variance shift between
    snapshots flags an encoder change or a corrupted batch).

    Numeric discipline matches label_centroids: components quantize
    floor(x * quant) to a long FIRST, then integer count/sum/sum-of-
    squares aggregate per dim — order-free exact, so the cross-engine
    hash is stable. quant defaults to IVF_QUANT (1e3): q^2 <= ~1e6
    keeps the s2 BIGINT sum safe to ~9e12 vectors. One posexplode +
    one 64-group aggregate, map-side combined.

    Output: dim, n, s1 (sum q), s2 (sum q^2) — mean = s1/n,
    var = s2/n - (s1/n)^2 downstream.
    """
    q = F.expr(
        f"transform(embedding, x -> cast(floor(x * {float(quant)}D) as long))"
    )
    comps = embeddings.select(F.posexplode(q).alias("dim", "qv"))
    return comps.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("s1"),
        F.sum(F.col("qv") * F.col("qv")).alias("s2"),
    )


def embedding_covariance(embeddings: DataFrame, quant: int = IVF_QUANT) -> DataFrame:
    """Upper-triangle cross-moment matrix of the embedding corpus — the
    whitening / PCA-prep statistic (with embedding_dim_stats' per-dim
    n/s1 it yields the full covariance: cov_ij = s_ij/n - mean_i*mean_j).

    This is the one statistic where a row-explode plan is the WRONG 100 TB
    shape (n x d^2 exploded rows), so it is the repo's showcase of the
    Arrow-batched partial-aggregate pattern: mapInPandas folds each batch
    into ONE d x d int64 outer-product accumulator (Q^T @ Q — a BLAS
    matmul per batch, no per-element rows ever materialize), emits the
    d(d+1)/2 upper-triangle cells per PARTITION, and a final 2080-group
    aggregate sums the partials — shuffle volume is partitions x d^2
    cells, independent of row count.

    Numeric discipline matches embedding_dim_stats: floor(x * quant) to
    int64 FIRST (float32 -> float64 widening is exact, so the quantized
    values match any engine), then pure integer sums — order-free exact.
    |x| <= 1 keeps each product <= quant^2 = 1e6; the int64 sum is safe
    to ~9e12 vectors. Requires a fixed dimension across rows (np.stack
    raises on ragged input — a corrupted-batch signal, not a silent skew).

    Output: dim_i, dim_j (0-based, i <= j), s_ij = sum over vectors of
    q_i * q_j.
    """
    import numpy as np
    import pandas as pd

    qf = float(quant)

    def _part(batches):
        acc = None
        d = 0
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.floor(
                np.stack(
                    [np.asarray(a, dtype=np.float64) for a in pdf["embedding"]]
                )
                * qf
            ).astype(np.int64)
            if acc is None:
                d = Q.shape[1]
                acc = np.zeros((d, d), dtype=np.int64)
            acc += Q.T @ Q
        if acc is not None:
            iu = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "dim_i": iu[0].astype("int64"),
                    "dim_j": iu[1].astype("int64"),
                    "s_ij": acc[iu],
                }
            )

    partials = embeddings.select("embedding").mapInPandas(
        _part, "dim_i long, dim_j long, s_ij long"
    )
    return partials.groupBy("dim_i", "dim_j").agg(F.sum("s_ij").alias("s_ij"))


def embedding_outliers(
    embeddings: DataFrame,
    lo: int = 500_000,
    hi: int = 2_000_000,
    quant: int = IVF_QUANT,
) -> DataFrame:
    """Per-vector norm audit — the vector-grain twin of the dim-grain
    embedding_dim_stats: a quantized squared norm far from the encoder's
    unit sphere flags a corrupted vector (zeroed buffer, double-scaled
    batch, truncated read) before it poisons ANN buckets or centroids.

    norm2_q = sum over dims of floor(x*quant)^2 — integer, order-free
    exact (for unit-ish vectors and quant=1e3 it sits near 1e6, so the
    [lo, hi] defaults bracket half-to-double scale). A pure per-row map
    stage: no shuffle, no joins; flags are integer comparisons.

    Output: vec_id, norm2_q, is_low, is_high.
    """
    q = F.expr(
        f"transform(embedding, x -> cast(floor(x * {float(quant)}D) as long))"
    )
    norm2 = F.aggregate(
        F.expr("transform(_q, v -> v * v)"), F.lit(0).cast("long"), lambda a, v: a + v
    )
    return (
        embeddings.select("vec_id", q.alias("_q"))
        .select("vec_id", norm2.alias("norm2_q"))
        .select(
            "vec_id",
            "norm2_q",
            (F.col("norm2_q") < lo).alias("is_low"),
            (F.col("norm2_q") > hi).alias("is_high"),
        )
    )


def label_centroids(embeddings: DataFrame, quant: int = LSH_QUANT) -> DataFrame:
    """Mean-pool a centroid per label — the class-prototype / cluster-
    summary statistic (e.g. per-topic or per-source embedding prototypes
    for nearest-prototype classification or drift monitoring).

    Numeric discipline: each component is quantized floor(x * quant) to a
    long FIRST, then summed — integer sums are order-free exact, unlike a
    float mean whose value depends on partitioning — and the centroid
    component is the integer division floor(sum / n). One posexplode +
    one (label, dim) aggregate; map-side combine collapses each partition
    to |labels|·|dims| rows before the shuffle.

    Output: label, dim, n_vecs, centroid_q (all integers).
    """
    q = F.expr(
        f"transform(embedding, x -> cast(floor(x * {float(quant)}D) as long))"
    )
    comps = embeddings.select(
        "label", F.posexplode(q).alias("dim", "qv")
    )
    # floor(int / double-int) rather than `div`: div truncates toward zero
    # and would disagree with SQL floor-division on negative sums; the
    # double quotient cannot straddle an integer here (denominator <= n,
    # same argument as lloyd_step)
    return comps.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.floor(F.sum("qv") / F.count(F.lit(1)).cast("double"))
        .cast("long")
        .alias("centroid_q"),
    )


def prototype_confusion(embeddings: DataFrame, quant: int = LSH_QUANT) -> DataFrame:
    """Nearest-prototype evaluation: assign every vector to the closest
    label centroid (squared L2 in the quantized integer space — exact,
    order-free) and cross-tabulate true label vs assigned label. The
    statistic a pipeline tracks to see embedding/label drift.

    Scale shape: the centroid table is |labels|·|dims| rows and rides the
    broadcast side of the component join; per-vector distances are one
    (vec, label) aggregate; the argmin is a max_by over a struct (no
    window); the confusion matrix is a tiny final groupBy.

    Output: label, assigned_label, n_vecs (integers).
    """
    cents = label_centroids(embeddings, quant=quant)
    q = F.expr(
        f"transform(embedding, x -> cast(floor(x * {float(quant)}D) as long))"
    )
    comps = embeddings.select(
        "vec_id", "label", F.posexplode(q).alias("dim", "qv")
    )
    dists = (
        comps.join(F.broadcast(cents.withColumnRenamed("label", "cand")), "dim")
        .groupBy("vec_id", "label", "cand")
        .agg(
            F.sum(
                (F.col("qv") - F.col("centroid_q"))
                * (F.col("qv") - F.col("centroid_q"))
            ).alias("d2")
        )
    )
    # argmin distance, ties -> lowest candidate label (min_by on a struct
    # orders lexicographically: (d2, cand))
    assigned = dists.groupBy("vec_id", "label").agg(
        F.min(F.struct(F.col("d2"), F.col("cand"))).alias("best")
    )
    return (
        assigned.select("label", F.col("best.cand").alias("assigned_label"))
        .groupBy("label", "assigned_label")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


#: product-quantization geometry: m subspaces x n_codes centroids each.
#: 64-dim embeddings -> 4 x 16-dim subvectors, 16 codes per book = a
#: 4-nibble code replacing 256 bytes of float32 (128x compression).
PQ_SUBSPACES = 4
PQ_CODES = 16
#: ADC re-rank nomination depth (pq_adc_topk(rerank=...)): a CONSTANT
#: per query, so re-rank cost is flat in corpus size; 200 = 40x k=5 —
#: the production-shaped ratio (audited recall@5: 94-96% at sf0.01's
#: ~680-doc slice, 78% at sf0.1's ~2000-doc slice, vs raw ADC's 14-22%).
PQ_RERANK = 200


def pq_codes(
    embeddings: DataFrame,
    m: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
) -> DataFrame:
    """Product-quantization code assignment (Jégou et al. 2011) — the
    compression layer under every billion-scale ANN index (IVF-PQ): the
    vector splits into m contiguous subvectors and each is assigned to
    its nearest per-subspace codebook entry, so a 64-dim float32 vector
    is carried by m small integers and distance evaluation at query time
    reads codebook lookup tables instead of raw vectors.

    Determinism contract (the ivf_topk recipe, per subspace): codebooks
    are the n_codes corpus vectors with the smallest md5(vec_id) —
    hash-ordered, one TakeOrdered scan, n_codes rows collected — and
    assignment is the INTEGER dot-product argmax of the floor-quantized
    subvectors (ties -> lower code), bit-identical in any engine.

    Scale shape: ONE Arrow-batched int64 matmul per batch against a
    block-diagonal (m * n_codes, dim) codebook matrix computes all m
    subspace assignments in a single map stage — zero shuffle, no
    per-row Python, and the plan stays flat however large the corpus.

    Output: vec_id, subspace (INT), code (INT).
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField

    sample = sample_centroids(embeddings, n_codes)
    qcents = [quantize_centroid(c) for c in sample]
    dim = len(qcents[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    C = np.zeros((m * n_codes, dim), dtype=np.int64)
    for j in range(m):
        for c in range(n_codes):
            C[j * n_codes + c, j * sub:(j + 1) * sub] = qcents[c][
                j * sub:(j + 1) * sub
            ]

    def codes(vals):
        dots = _quantize_batch(vals, IVF_QUANT) @ C.T
        d3 = dots.reshape(len(dots), m, n_codes)
        # argmax takes the FIRST maximum: ties resolve to the lower code,
        # matching the oracle's ORDER BY dot DESC, code ASC
        return list(d3.argmax(axis=2).astype(np.int32))

    out = _with_matmul_column(
        embeddings.select("vec_id", "embedding"),
        "embedding",
        StructField("_codes", ArrayType(IntegerType()), False),
        codes,
    )
    return out.select(
        "vec_id", F.posexplode("_codes").alias("subspace", "code")
    ).select("vec_id", F.col("subspace").cast("int").alias("subspace"), "code")


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    k: int = 5,
    rerank: int = 0,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k — the IVF-PQ query
    path over pq_codes: each query precomputes an m x n_codes lookup
    table of partial dots against the codebooks, and a document's score
    is m TABLE LOOKUPS summed by its codes — the corpus's raw vectors
    are never read at query time, which is the entire point of PQ at
    10^12 vectors (the index is codes + one tiny LUT per query).

    Exactness: the LUT entries are the same block-diagonal int64 matmul
    as the code assignment (floor-quantized, integer dots), so scores
    are exact integers and rank ties resolve on vec_id — bit-identical
    in any engine.

    Scale shape: the corpus side touches ONLY the codes relation (m
    small ints per vector); the LUT (|queries| * m * n_codes rows)
    attaches by BROADCAST equi-join on (subspace, code); the per-doc
    score is a map-side-combined sum; top-k is `topk` per query. Zero
    scans of corpus floats after code assignment.

    With rerank=R > 0 this becomes the full production IVF-PQ pipeline:
    the ADC pass only NOMINATES each query's top-R candidates, and the
    exact cosine re-ranks those R vectors — the only rows whose raw
    floats are ever fetched — down to k (the ivf_topk_refined pattern).

    Output: query_id, rank (INT), neighbor_id, adc_dot (BIGINT) — or
    cos_r6 instead of adc_dot when rerank > 0 (comparable to the other
    ANN variants).
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructField

    sample = sample_centroids(embeddings, n_codes)
    qcents = [quantize_centroid(c) for c in sample]
    dim = len(qcents[0])
    sub = dim // m
    C = np.zeros((m * n_codes, dim), dtype=np.int64)
    for j in range(m):
        for c in range(n_codes):
            C[j * n_codes + c, j * sub:(j + 1) * sub] = qcents[c][
                j * sub:(j + 1) * sub
            ]

    def lut_rows(vals):
        return list(_quantize_batch(vals, IVF_QUANT) @ C.T)

    lut = (
        _with_matmul_column(
            queries.select("query_id", "query_vec"),
            "query_vec",
            StructField("_lut", ArrayType(LongType()), False),
            lut_rows,
        )
        .select("query_id", F.posexplode("_lut").alias("_i", "part_dot"))
        .select(
            "query_id",
            F.expr(f"CAST(_i DIV {n_codes} AS INT)").alias("subspace"),
            F.expr(f"CAST(_i % {n_codes} AS INT)").alias("code"),
            "part_dot",
        )
    )
    codes = pq_codes(embeddings, m=m, n_codes=n_codes)
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("part_dot").alias("adc_dot"))
    )
    order = [F.col("adc_dot").desc(), F.col("neighbor_id").asc()]
    if not rerank:
        return topk(scored, k, order, by=["query_id"]).select(
            "query_id", "rank", "neighbor_id", "adc_dot"
        )
    cand = topk(scored, rerank, order, by=["query_id"]).select(
        "query_id", "neighbor_id"
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("vec"),
        _norm(F.col("embedding")).alias("_nv"),
    )
    qn = queries.select(
        "query_id", "query_vec", _norm(F.col("query_vec")).alias("_nq")
    )
    rescored = (
        cand.join(corpus, "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _cos_r6_pre(
                F.col("query_vec"), F.col("vec"), F.col("_nq"), F.col("_nv")
            ).alias("cos_r6"),
        )
    )
    return _topk_per_query(rescored, k)


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining — the contrastive-training staple: for each
    query vector, the k most cosine-similar corpus vectors whose LABEL
    DIFFERS from the query's. These near-miss negatives are what a
    retriever/classifier must learn to separate; random negatives are
    too easy to carry gradient.

    queries: (query_id, query_vec, query_label) — small, broadcast onto
    the corpus scan exactly like brute_force_topk; the label-mismatch
    filter runs BEFORE ranking (a post-filtered top-k would under-fill).
    Ranking rides the shared _topk_per_query (`topk` per query), so no
    single reducer ranks a query's whole corpus at scale.

    Output: query_id, rank (INT), neighbor_id, neighbor_label (INT),
    cos_r6.
    """
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("vec"),
        F.col("label").alias("neighbor_label"),
        _norm(F.col("embedding")).alias("_nv"),
    )
    qn = queries.withColumn("_nq", _norm(F.col("query_vec")))
    scored = (
        corpus.crossJoin(F.broadcast(qn))
        .where(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "neighbor_id",
            _cos_r6_pre(
                F.col("query_vec"), F.col("vec"), F.col("_nq"), F.col("_nv")
            ).alias("cos_r6"),
        )
    )
    top = _topk_per_query(scored, k)
    labels = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
    )
    return top.join(labels, "neighbor_id").select(
        "query_id", "rank", "neighbor_id", "neighbor_label", "cos_r6"
    )


def knn_label_eval(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Embedding-quality readout by k-NN label agreement: each query's
    predicted label is the majority label among its k nearest corpus
    vectors (self excluded; ties -> larger vote-count first, then
    SMALLER label — deterministic), aggregated to per-true-label
    accuracy in basis points. The standard cheap probe that an
    embedding space clusters by label before anyone trains on it.

    queries: (query_id, query_vec, query_label). Neighbor search is the
    exact brute_force_topk; the majority vote is a (query, label)
    aggregate plus a `topk` of 1 per query over <= k rows — bounded
    partitions everywhere.

    Output: query_label (INT), n_queries, n_correct (BIGINT),
    acc_bp (BIGINT).
    """
    top = brute_force_topk(embeddings, queries, k=k)
    labels = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
    )
    votes = (
        top.join(labels, "neighbor_id")
        .groupBy("query_id", "neighbor_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    order = [F.col("n_votes").desc(), F.col("neighbor_label").asc()]
    pred = topk(votes, 1, order, by=["query_id"]).select(
        "query_id", F.col("neighbor_label").alias("pred_label")
    )
    truth = queries.select("query_id", F.col("query_label"))
    return (
        pred.join(truth, "query_id")
        .groupBy(F.col("query_label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.count_if(F.col("pred_label") == F.col("query_label")).alias(
                "n_correct"
            ),
        )
        .select(
            "query_label",
            "n_queries",
            "n_correct",
            F.expr("n_correct * 10000 DIV n_queries").alias("acc_bp"),
        )
    )


PCA_SCALE = 10**6
PCA_PRESCALE = 10**9
PCA_ITERS = 3


def pca_power(embeddings: DataFrame, iters: int = PCA_ITERS) -> DataFrame:
    """Top principal direction of the embedding corpus by FIXED-ROUND
    integer power iteration over the distributed cross-moment matrix —
    the whitening/compression primitive, engine-exact (the pagerank
    determinism discipline: a fixed unroll, not a convergence test).

    The distributed work is embedding_covariance's Arrow-batched d x d
    accumulator; everything after operates on the d^2-row moment
    relation — trivially small at ANY corpus size, which is the point:
    the iteration cost is independent of row count. Integer discipline:
      * the moment matrix pre-scales ONCE by f = max(1, max|s| DIV 1e9)
        so a 10^12-vector corpus's moments still fit a round's matvec
        inside int64 (|raw| <= d * 1e9 * PCA_SCALE),
      * each round renormalizes by g = max(1, max|raw| DIV PCA_SCALE)
        — division-first so raw * SCALE never materializes,
      * EVERY division is sign-split (sign(x) * (|x| DIV d)) because
        floor-vs-truncate division of negatives diverges across engines,
      * the final vector's sign is canonicalized positive at its first
        nonzero dimension.

    Output: dim, v (scaled to ~PCA_SCALE; v/1e6 is the unit component).
    """
    cov = embedding_covariance(embeddings)
    m0 = cov.select(
        F.col("dim_i").alias("i"), F.col("dim_j").alias("j"),
        F.col("s_ij").alias("s"),
    ).unionByName(
        cov.where(F.col("dim_i") != F.col("dim_j")).select(
            F.col("dim_j").alias("i"), F.col("dim_i").alias("j"),
            F.col("s_ij").alias("s"),
        )
    )
    f = m0.agg(
        F.expr(f"greatest(1, max(abs(s)) DIV {PCA_PRESCALE})").alias("f")
    )
    m = m0.crossJoin(F.broadcast(f)).select(
        "i", "j",
        F.expr(
            "CASE WHEN s < 0 THEN -(abs(s) DIV f) ELSE s DIV f END"
        ).alias("m"),
    )
    v = m.select(F.col("i").alias("dim")).distinct().select(
        "dim", F.lit(PCA_SCALE).cast("long").alias("v")
    )
    for _ in range(iters):
        raw = (
            m.join(v.select(F.col("dim").alias("j"), "v"), "j")
            .groupBy(F.col("i").alias("dim"))
            .agg(F.sum(F.col("m") * F.col("v")).alias("raw"))
        )
        g = raw.agg(
            F.expr(f"greatest(1, max(abs(raw)) DIV {PCA_SCALE})").alias("g")
        )
        v = raw.crossJoin(F.broadcast(g)).select(
            "dim",
            F.expr(
                "CASE WHEN raw < 0 THEN -(abs(raw) DIV g)"
                " ELSE raw DIV g END"
            ).alias("v"),
        )
    sg = v.agg(
        F.coalesce(
            F.expr(
                "min_by(CASE WHEN v < 0 THEN -1 ELSE 1 END,"
                " CASE WHEN v <> 0 THEN dim END)"
            ),
            F.lit(1),
        ).cast("long").alias("sg")
    )
    return v.crossJoin(F.broadcast(sg)).select(
        "dim", (F.col("v") * F.col("sg")).alias("v")
    )


def pca_project(embeddings: DataFrame, iters: int = PCA_ITERS) -> DataFrame:
    """Per-vector projection onto pca_power's principal direction — the
    1-D feature a curriculum/diversity sampler sorts on. The component
    vector reduces to ONE array row (collect_list over d rows, then a
    broadcast cross join), so the projection is a pure map stage over
    the embeddings scan: quantize (the covariance's floor(x*quant)
    exactly), zip-multiply, integer sum. No per-vector joins, no Python.

    Output: vec_id, score (BIGINT, ~ quant * PCA_SCALE * cos units).
    """
    v = pca_power(embeddings, iters)
    varr = v.agg(
        F.expr("array_sort(collect_list(struct(dim, v)))").alias("s")
    ).select(F.expr("transform(s, x -> x.v)").alias("varr"))
    q = embeddings.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            f" * {float(IVF_QUANT)}) AS BIGINT))"
        ).alias("qv"),
    )
    return q.crossJoin(F.broadcast(varr)).select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(qv, varr, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("score"),
    )


def pack_sign_bits(embeddings: DataFrame) -> DataFrame:
    """64-dim sign signature packed into two 32-bit halves — the
    1-bit-per-dimension compression under Hamming-distance retrieval
    (Charikar's sign random projection degenerates to raw coordinate
    signs for already-whitened embeddings): bit d set iff
    floor(x_d * quant) >= 0, dims 0-31 in `lo`, 32-63 in `hi` (two
    BIGINTs so bit 63 never touches the sign bit). Pure zero-shuffle
    projection — transform's (x, i) index lambda packs in-plan.

    Output: vec_id, lo, hi.
    """
    q = float(IVF_QUANT)
    qv = F.expr(
        f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {q})"
        f" AS BIGINT))"
    )
    packed = embeddings.select("vec_id", qv.alias("qv")).select(
        "vec_id",
        F.expr(
            "aggregate(transform(qv, (x, i) ->"
            " CASE WHEN x >= 0 AND i < 32 THEN CAST(1 AS BIGINT) << i"
            " ELSE CAST(0 AS BIGINT) END),"
            " CAST(0 AS BIGINT), (a, b) -> a + b)"
        ).alias("lo"),
        F.expr(
            "aggregate(transform(qv, (x, i) ->"
            " CASE WHEN x >= 0 AND i >= 32 THEN CAST(1 AS BIGINT) << (i - 32)"
            " ELSE CAST(0 AS BIGINT) END),"
            " CAST(0 AS BIGINT), (a, b) -> a + b)"
        ).alias("hi"),
    )
    return packed


def hamming_topk(
    embeddings: DataFrame, query_id: int = 0, k: int = 10
) -> DataFrame:
    """Nearest neighbors by Hamming distance over the packed sign bits —
    the float-free ANN filter: 64 dims become 16 bytes, distance is two
    XOR+popcount instructions, and the whole scan stays in whole-stage
    codegen (no Pandas, no dot products). The standard role at scale is
    the cheap first-pass filter ahead of an exact re-rank (pq_adc_topk's
    nomination pattern); here it is exposed directly with the corpus's
    packed signature as both sides.

    The query's two words broadcast as a 1-row cross join; the top-k cut
    is `topk` (ties on vec_id asc).

    Output: rank, vec_id, hamming.
    """
    q = embeddings.where(F.col("vec_id") == query_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return hamming_topk_queries(embeddings, q, k=k).select(
        "rank", F.col("neighbor_id").alias("vec_id"), "hamming"
    )


def hamming_topk_queries(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Multi-query hamming_topk for the tracked recall audit: queries
    (query_id, query_vec) pack once and broadcast; the corpus scan
    scores every (query, vector) pair with XOR+popcount and `topk` cuts
    top-k per query.

    Output: query_id, rank, neighbor_id, hamming.
    """
    packed = pack_sign_bits(embeddings)
    qp = pack_sign_bits(
        queries.select(
            F.col("query_id").alias("vec_id"),
            F.col("query_vec").alias("embedding"),
        )
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    scored = (
        packed.crossJoin(F.broadcast(qp))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("q_lo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("q_hi")))
            ).cast("long").alias("hamming"),
        )
    )
    order = [F.col("hamming").asc(), F.col("neighbor_id").asc()]
    return topk(scored, k, order, by=["query_id"]).select(
        "query_id", "rank", "neighbor_id", "hamming"
    )


#: Matryoshka audit: leading prefix dims used for the truncated ranking.
MRL_PREFIX_DIMS = 16


def matryoshka_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix: int = MRL_PREFIX_DIMS,
    quant: int = LSH_QUANT,
) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022, MRL): how much
    of each query's exact top-k survives when ranking uses only the
    leading `prefix` dims — the measurement behind the 'store 16 dims
    hot, re-rank with 64' memory/recall trade every vector store now
    offers. On MRL-trained embeddings the overlap stays high; on
    ordinary embeddings (this fixture) it decays — either way the audit
    reports it instead of assuming it.

    Both rankings run on QUANTIZED integer dot products (per-dim
    floor(x * quant) longs, the LSH quantizer rule) — products sum
    order-free-exact, so the two top-k sets and the overlap are
    bit-identical across engines; no float re-rank is needed because
    the audit compares RANKINGS, not cosines (norms are rank-constant
    per query).

    Scale shape: ONE broadcast crossJoin of the bounded query set
    against the corpus computes both scores (the prefix dot is a slice
    of the same quantized array, not a second scan); each ranking is
    `topk` per query; the overlap join runs on two k-bounded relations.

    Output: query_id, n_overlap, recall_bp (overlap * 10000 DIV k).
    """
    qz = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * quant).cast("long"),
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), qz.alias("cv")
    )
    qs = queries.select(
        "query_id",
        F.transform(
            F.col("query_vec"),
            lambda x: F.floor(x.cast("double") * quant).cast("long"),
        ).alias("qv"),
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        corpus.crossJoin(F.broadcast(qs))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("qv"), F.col("cv")).alias("s_full"),
            dot(
                F.slice(F.col("qv"), 1, prefix),
                F.slice(F.col("cv"), 1, prefix),
            ).alias("s_pre"),
        )
    )

    def top(score_col: str) -> DataFrame:
        order = [F.col(score_col).desc(), F.col("neighbor_id").asc()]
        return topk(scored, k, order, by=["query_id"]).select(
            "query_id", "neighbor_id"
        )

    overlap = top("s_full").join(top("s_pre"), ["query_id", "neighbor_id"])
    counts = overlap.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        qs.select("query_id")
        .join(counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias(
                "n_overlap"
            ),
            F.expr(
                f"coalesce(n_overlap, 0) * 10000 DIV {int(k)}"
            ).alias("recall_bp"),
        )
    )
