"""Deduplication operators over the documents table.

Exact, MinHash+LSH, SimHash, and n-gram Jaccard — each expressed as
built-in DataFrame operations (no Python UDFs), each scale-shaped:

* exact:   hash-groupBy on a content digest; two-phase partial agg, the
           only shuffle key is the digest (uniform by construction).
* minhash: shingle explode -> 16 MIN(md5) aggregates in ONE pass (no
           16-way crossjoin), banded into 4 LSH buckets; candidate pairs
           come from an equi-join on (band, band_hash) — at 100 TB this is
           the classic band-bucket join, shuffle keyed by band_hash which
           is uniform unless true duplicates are pathological.
* jaccard: exact verification ONLY for LSH candidates (never all-pairs).
* simhash: 64-bit majority-vote fingerprint via explode + bit-position
           aggregation; hamming distance via bit_count(xor).

MinHash uses lexicographic MIN over md5 hex digests — a valid uniform
min-hash family that both Spark and an independent SQL engine compute
identically (no engine-specific 64-bit hash needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_K = 3
DEFAULT_BUCKET_CAP = 64  # max docs per (band, band_hash) bucket in the pair join

#: engine-portable whitespace class. Java regex `\s` matches \x0B while
#: RE2's does not, so `\s` silently diverges between Spark and an
#: independent SQL oracle on text containing vertical tabs — spell the
#: class out (both engines parse these escapes identically, ASCII-only).
WS_RE = "[ \\t\\n\\r\\f\\x0B]+"

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWERC = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col):
    """ASCII-only case fold. Full Unicode lower() diverges across engines
    (Java maps U+0130 to 'i'+combining-dot and applies final-sigma context;
    utf8proc does neither), so normalization keys fold ASCII letters only —
    deterministic and identical everywhere, which matters more for dedup
    keys than locale-perfect casing."""
    return F.translate(col, _UPPER, _LOWERC)


def lower_tokens_col(text_col="text"):
    """Whitespace tokens of lowercased, trimmed text — THE tokenizer every
    corpus-grain op shares with its SQL twin (driver_queries._TOKS); change
    it here and the oracle expression together, nowhere else."""
    return F.split(F.trim(ascii_lower(F.col(text_col))), WS_RE)


def shingles_over(words):
    """Word 3-gram shingles from a MATERIALIZED token-array column
    (empty array when <3 words).

    PERFORMANCE CONTRACT: `words` must be a column projected in its own
    select first. Codegen does NOT common-subexpression-eliminate across
    higher-order-function lambda boundaries, so handing an inline
    tokenizer expression here re-runs the full split/case-fold chain for
    EVERY element_at inside the transform lambda — measured 24x slower
    on the shingle stream, which silently dominated dedup_pipeline."""
    return F.when(
        F.array_size(words) >= SHINGLE_K,
        F.transform(
            F.sequence(F.lit(1), F.array_size(words) - (SHINGLE_K - 1)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i),
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_col(text_col="text"):
    """Word 3-gram shingles of lowercased text (empty array when <3
    words). Expression-level convenience for tests/small inputs — hot
    paths must materialize the token array and use shingles_over (see
    its performance contract)."""
    return shingles_over(lower_tokens_col(text_col))


def content_hash_col(text_col="text"):
    """md5 of the whitespace-normalized, lowercased text — the exact-dedup
    grouping key (shared by exact_duplicates and dedup_pipeline)."""
    return F.md5(
        F.regexp_replace(F.trim(ascii_lower(F.col(text_col))), WS_RE, " ")
    )


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical (whitespace-normalized, lowercased) docs."""
    return (
        documents.select(content_hash_col().alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def _parse_size(s: str) -> int:
    """Spark byte-conf string (accepts the full k/m/g/t/p suffix set)."""
    s = s.strip().lower().removesuffix("b")
    mult = 1
    if s and s[-1] in "kmgtp":
        mult = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40, "p": 2**50}[s[-1]]
        s = s[:-1]
    return int(s) * mult


def _fan_out(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """CPU-heavy per-doc ops need partitions ~ cores even when the input is
    byte-small (one tiny parquet file = one partition = one busy core).
    Repartition only when the optimizer's size estimate (a metadata lookup
    off the file index — `.rdd` would spin up plan-execution machinery
    just to ask a metadata question) says the scan cannot split into
    >= cores partitions at maxPartitionBytes. At real scale
    size/maxPartitionBytes >> cores and this is a no-op; unknown-size
    sources report Long.Max and are likewise left alone."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if not df.inputFiles():
        # non-file source (in-memory relation): stats report Long.Max, but
        # such inputs are small by construction — always fan out
        return df.repartition(target, key)
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    max_bytes = _parse_size(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    )
    if size < target * max_bytes:
        return df.repartition(target, key)
    return df


def minhash_signatures(documents: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """doc_id, band, band_hash — one row per (doc, band).

    One explode + one aggregation pass computes all 16 min-hashes
    (16 MIN aggregates over the same exploded frame — map-side combine
    collapses each partition to one row per doc before the shuffle).
    Docs with <3 words produce no shingles and are excluded (cannot be
    near-dup candidates by this measure).

    hash_fn: 'md5' (hex strings — reproducible by any SQL engine, used by
    the oracle-checked queries) or 'xxhash64' (JVM-native 64-bit longs,
    no string materialization — the 100 TB fast path; same LSH structure,
    different hash family).
    """
    exploded = (
        _fan_out(documents.select("doc_id", "text"))
        .select("doc_id", lower_tokens_col().alias("_w"))
        .select("doc_id", F.explode(shingles_over(F.col("_w"))).alias("shingle"))
    )
    if hash_fn == "md5":
        aggs = [
            F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{h}")))).alias(f"mh{h}")
            for h in range(N_MINHASH)
        ]
    elif hash_fn == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(h))).alias(f"mh{h}")
            for h in range(N_MINHASH)
        ]
    else:
        raise ValueError(f"unsupported hash_fn: {hash_fn}")
    sigs = exploded.groupBy("doc_id").agg(*aggs)

    rows_per_band = N_MINHASH // N_BANDS
    band_structs = []
    for b in range(N_BANDS):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_hash = (
            F.md5(F.concat(*cols)) if hash_fn == "md5" else F.xxhash64(*cols).cast("string")
        )
        band_structs.append(
            F.struct(F.lit(b).alias("band"), band_hash.alias("band_hash"))
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def lsh_candidate_pairs(
    documents: DataFrame,
    hash_fn: str = "md5",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Unordered candidate pairs (doc_a < doc_b) sharing >= 1 LSH band.

    bucket_cap guards the band-bucket self-join against quadratic blowup:
    a (band, band_hash) bucket holding more than `bucket_cap` docs is
    dropped entirely (its members are overwhelmingly exact duplicates —
    dedupe those with exact_duplicates/dedup_pipeline FIRST; a capped
    bucket of true near-dups is the documented recall tradeoff). The cap
    is a window count over the same key the join shuffles on — no extra
    shuffle. None = uncapped (the oracle-checked standalone query)."""
    sigs = minhash_signatures(documents, hash_fn=hash_fn)
    if bucket_cap is not None:
        bucket_n = F.count(F.lit(1)).over(Window.partitionBy("band", "band_hash"))
        sigs = (
            sigs.withColumn("bucket_n", bucket_n)
            .where(F.col("bucket_n") <= bucket_cap)
            .drop("bucket_n")
        )
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _shingle_sets(documents: DataFrame) -> DataFrame:
    """(doc_id, shingle) DISTINCT shingle-set frame — the single
    derivation jaccard_verify / containment_verify / containment_pairs /
    setsim_join all share (token array materialized per the
    shingles_over CSE contract)."""
    return documents.select(
        "doc_id", lower_tokens_col().alias("_w")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_over(F.col("_w")))).alias(
            "shingle"
        ),
    )


def jaccard_verify(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs, as integer
    (intersection, union) counts — float-free and hash-stable.

    Single derivation of the shingle-set frame: each pair explodes into
    two role-tagged rows (a/doc_a, b/doc_b), ONE equi-join on doc_id pulls
    both docs' shingles, and two aggregations produce sizes and
    intersection together. The naive shape (separate a-join, b-join, and
    sizes join) scans and re-explodes the corpus three times — at 100 TB
    that is two full scans too many."""
    sets = _shingle_sets(documents)
    roles = pairs.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("role"), F.col("doc_a").alias("doc_id")),
                F.struct(F.lit("b").alias("role"), F.col("doc_b").alias("doc_id")),
            )
        ).alias("r"),
    ).select("doc_a", "doc_b", "r.role", "r.doc_id")

    joined = roles.join(sets, "doc_id")
    per_shingle = joined.groupBy("doc_a", "doc_b", "shingle").agg(
        F.max(F.col("role") == "a").alias("in_a"),
        F.max(F.col("role") == "b").alias("in_b"),
    )
    agg = per_shingle.groupBy("doc_a", "doc_b").agg(
        F.count_if(F.col("in_a") & F.col("in_b")).alias("n_intersect"),
        F.count_if("in_a").alias("n_a"),
        F.count_if("in_b").alias("n_b"),
    )
    # pairs with an empty intersection are dropped — same semantics as the
    # inner-join formulation (LSH candidates share a min-hash, hence >= 1
    # shingle, so this is vacuous in practice) and as the SQL oracle
    return agg.where(F.col("n_intersect") > 0).select(
        "doc_a",
        "doc_b",
        "n_intersect",
        (F.col("n_a") + F.col("n_b") - F.col("n_intersect")).alias("n_union"),
    )


def simhash(documents: DataFrame, bits: int = 32) -> DataFrame:
    """Majority-vote SimHash over word tokens.

    Per token, a `bits`-wide hash is derived from its md5 hex digest; each
    bit votes +1/-1; the fingerprint sets bits with positive vote sums.
    Uses the first 8 hex chars (32 bits) so the per-bit extraction is
    engine-portable integer arithmetic.
    """
    words = F.explode(F.array_distinct(lower_tokens_col())).alias("word")
    tok = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", words
    ).where(F.col("word") != "")
    # materialize the 32-bit token hash ONCE before the vote aggregate:
    # h32 appears in all `bits` aggregate expressions, and aggregate-level
    # subexpression elimination is not guaranteed to fold the md5+conv
    # across them (the transform-lambda pitfall's aggregate cousin)
    tok = tok.select("doc_id", F.conv(
        F.substring(F.md5(F.col("word")), 1, 8), 16, 10
    ).cast("long").alias("_h32"))
    h32 = F.col("_h32")
    aggs = [
        F.sum(
            F.when(F.shiftright(h32, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    votes = tok.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on the high
    16 bits (scale path: equi-join on the block key, not all-pairs).
    bucket_cap drops blocks holding more than that many docs (identical
    docs share a fingerprint, hence a block — exact-dedupe first)."""
    fps = simhash(documents)
    block = F.shiftright(F.col("simhash"), 16)
    fps = fps.withColumn("block", block)
    if bucket_cap is not None:
        block_n = F.count(F.lit(1)).over(Window.partitionBy("block"))
        fps = (
            fps.withColumn("block_n", block_n)
            .where(F.col("block_n") <= bucket_cap)
            .drop("block_n")
        )
    a = fps.alias("a")
    b = fps.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
    )


def containment_verify(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set CONTAINMENT for candidate pairs — the asymmetric
    overlap Jaccard hides: a 50-shingle quote fully embedded in a
    5000-shingle page has containment 100% but Jaccard ~1%. Emits both
    set sizes and containment_bp = 10000 * |A∩B| DIV min(|A|,|B|)
    (integer basis points, coverage of the SMALLER document).

    Same single-derivation frame as jaccard_verify: pairs explode into
    role-tagged rows, ONE equi-join on doc_id pulls both docs' shingles,
    two aggregations produce intersection and sizes together."""
    sets = _shingle_sets(documents)
    roles = pairs.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("role"), F.col("doc_a").alias("doc_id")),
                F.struct(F.lit("b").alias("role"), F.col("doc_b").alias("doc_id")),
            )
        ).alias("r"),
    ).select("doc_a", "doc_b", "r.role", "r.doc_id")
    per_shingle = roles.join(sets, "doc_id").groupBy(
        "doc_a", "doc_b", "shingle"
    ).agg(
        F.max(F.col("role") == "a").alias("in_a"),
        F.max(F.col("role") == "b").alias("in_b"),
    )
    agg = per_shingle.groupBy("doc_a", "doc_b").agg(
        F.count_if(F.col("in_a") & F.col("in_b")).alias("n_intersect"),
        F.count_if("in_a").alias("n_a"),
        F.count_if("in_b").alias("n_b"),
    )
    return agg.where(F.col("n_intersect") > 0).select(
        "doc_a",
        "doc_b",
        "n_intersect",
        "n_a",
        "n_b",
        F.expr("10000 * n_intersect DIV least(n_a, n_b)").alias(
            "containment_bp"
        ),
    )


def containment_pairs(
    documents: DataFrame, min_bp: int = 8000, shingle_df_cap: int = 4
) -> DataFrame:
    """Quote / sub-document detection: pairs where the smaller doc's
    shingle set is >= min_bp/10000 contained in the larger's. MinHash
    LSH under-recalls these (it estimates JACCARD, which a short quote
    in a long page drives toward 0), so candidates come from a
    RARE-SHINGLE join instead: docs sharing any shingle with document
    frequency in [2, shingle_df_cap]. Each rare shingle contributes at
    most C(cap, 2) pairs — the self-join is df-capped exactly like
    source_overlap's stop-gram guard, never all-pairs. A contained quote
    of any length almost surely includes a rare shingle; ubiquitous
    (boilerplate) shingles are excluded by the cap, which is what you
    want — matching only boilerplate is not containment worth flagging.

    Output: doc_a, doc_b, n_intersect, n_a, n_b, containment_bp.
    """
    sets = _shingle_sets(documents)
    rare = (
        sets.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= shingle_df_cap))
        .select("shingle")
    )
    rs = sets.join(rare, "shingle")
    cand = (
        rs.alias("a")
        .join(rs.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return containment_verify(documents, cand).where(
        F.col("containment_bp") >= min_bp
    )


def cross_neardup(
    corpus: DataFrame,
    increment: DataFrame,
    jaccard_pct: int = 80,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dedup a NEW snapshot against an EXISTING corpus — the daily
    crawl-merge twin of corpus.ingest_increment (which is exact-only):
    an increment doc is reported iff some corpus doc shares an LSH band
    bucket with it AND exact shingle Jaccard >= jaccard_pct%.

    Scale shape: both sides collapse to per-doc band signatures (one
    aggregate each), the candidate join is band-bucket equi (CROSS-side
    only — increment x increment and corpus x corpus pairs never form),
    and Jaccard verification runs on candidates alone via the shared
    single-derivation jaccard_verify. `bucket_cap` drops corpus-side
    buckets hotter than the cap (boilerplate floods), same tradeoff as
    lsh_candidate_pairs. doc_ids must be disjoint across the two frames.

    Output: doc_id (increment doc to drop), n_matches (verified corpus
    matches), first_match (lowest matching corpus doc_id).
    """
    si = minhash_signatures(increment)
    sc = minhash_signatures(corpus)
    if bucket_cap is not None:
        bucket_n = F.count(F.lit(1)).over(Window.partitionBy("band", "band_hash"))
        sc = (
            sc.withColumn("bucket_n", bucket_n)
            .where(F.col("bucket_n") <= bucket_cap)
            .drop("bucket_n")
        )
    pairs = (
        si.alias("a")
        .join(
            sc.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    both = increment.select("doc_id", "text").unionByName(
        corpus.select("doc_id", "text")
    )
    verified = jaccard_verify(both, pairs)
    return (
        verified.where(
            F.col("n_intersect") * 100 >= F.lit(jaccard_pct) * F.col("n_union")
        )
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_b").alias("first_match"),
        )
    )


def dedup_pipeline(
    documents: DataFrame,
    jaccard_pct: int = 80,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Fused corpus-cleaning pass: exact dedup -> MinHash/LSH on the
    exact-dedup REPRESENTATIVES -> Jaccard verification -> drop list.

    This is the composition a training-data pipeline actually runs, and
    the ordering is the scale guard: collapsing exact duplicates FIRST
    means no (band, band_hash) bucket can blow up on a large identical
    cluster (its members enter MinHash as ONE representative); bucket_cap
    backstops adversarial near-identical floods on top of that.

    Output: one row per dropped doc —
      doc_id   the document to remove
      dup_of   the retained document it duplicates (lowest doc_id wins)
      reason   'exact' (same normalized content hash) or
               'near'  (LSH candidate with Jaccard >= jaccard_pct%)
    Near-dup dropping is single-hop by design (a doc is dropped iff it has
    a verified edge to a LOWER-id representative) — deterministic and
    SQL-expressible; no transitive closure (duplicate_clusters does that).
    """
    exact_edges, near_edges = dedup_edges(documents, jaccard_pct, bucket_cap)
    exact_drops = exact_edges.select(
        F.col("doc_b").alias("doc_id"),
        F.col("doc_a").alias("dup_of"),
        F.lit("exact").alias("reason"),
    )
    near_drops = (
        near_edges.groupBy("doc_b")
        .agg(F.min("doc_a").alias("dup_of"))
        .select(
            F.col("doc_b").alias("doc_id"), "dup_of", F.lit("near").alias("reason")
        )
    )
    return exact_drops.unionByName(near_drops)


def dedup_edges(
    documents: DataFrame,
    jaccard_pct: int = 80,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame]:
    """Shared duplicate-evidence derivation (the Spark twin of the SQL
    `_dedup_edges_ctes`): exact edges (content-hash keeper -> member) and
    verified near-dup edges among the exact-dedup representatives. Used by
    both dedup_pipeline (drop list) and duplicate_clusters (components) —
    one definition, so the two can never silently diverge."""
    w = Window.partitionBy("content_hash")
    # marked feeds FOUR downstream derivations (exact edges, the rep
    # filter, the minhash signature pass and the jaccard shingle pass);
    # checkpointing it trades one materialization (spilling to local disk
    # beyond memory) for re-running the scan + content-hash window per
    # consumer — the same one-shuffle-instead-of-N reasoning as
    # pagerank's iterate, and it keeps every consumer's analyzed plan a
    # leaf instead of a window subtree
    marked = materialize(
        documents.select("doc_id", "text", content_hash_col().alias("content_hash"))
        .withColumn("keeper", F.min("doc_id").over(w))
    )
    exact_edges = marked.where(F.col("doc_id") != F.col("keeper")).select(
        F.col("keeper").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    reps = marked.where(F.col("doc_id") == F.col("keeper")).select("doc_id", "text")
    near_edges = (
        jaccard_verify(reps, lsh_candidate_pairs(reps, bucket_cap=bucket_cap))
        # integer-only threshold test: intersect/union >= pct/100
        .where(F.col("n_intersect") * 100 >= F.lit(jaccard_pct) * F.col("n_union"))
        .select("doc_a", "doc_b")
    )
    return exact_edges, near_edges


def connected_components(
    edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected edge list (doc_a, doc_b):
    iterative min-label propagation — each round every vertex takes the
    minimum label among itself and its neighbors, until a fixpoint.

    This is the step that turns pairwise near-dup evidence into duplicate
    CLUSTERS (keep one doc per component). Spark shape: per iteration one
    equi-join (edges x labels) + one min-aggregate, labels checkpointed to
    cut the growing lineage; convergence in O(component diameter) rounds —
    near-dup clusters are shallow (stars/cliques), so typically 2-3
    rounds. Deterministic: labels are doc_ids, min is total.

    Checkpoint durability is `session.materialize`'s: with a checkpoint
    dir set (`sparkContext.setCheckpointDir`, on HDFS/S3 for a real
    cluster) each iteration's labels survive executor loss; without one
    they live on executors only, and on a 1000-executor run losing one
    executor mid-iteration kills the job, so production deployments
    should set one.

    Output: (doc_id, cluster_id) for every vertex, cluster_id = the
    component's minimum doc_id.
    """
    # materialize the edge list ONCE: it is re-joined every iteration, and
    # without this the (possibly expensive) upstream edge derivation —
    # MinHash, Jaccard, ... — would re-execute per round
    und = materialize(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    )
    labels = (
        und.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels, und["src"] == labels["doc_id"])
            .select(F.col("dst").alias("doc_id"), "label")
        )
        new_labels = materialize(
            labels.unionByName(nbr_min)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # one-hop propagation converges in diameter rounds; returning the
        # non-fixpoint labels would silently split real components
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def duplicate_clusters(
    documents: DataFrame,
    jaccard_pct: int = 80,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Duplicate clusters over BOTH evidence kinds: exact-duplicate edges
    (doc -> its content-hash keeper) and verified near-dup edges among the
    exact-dedup representatives (same pipeline as dedup_pipeline). Output:
    (doc_id, cluster_id) for every doc that belongs to a duplicate cluster
    of size >= 2; cluster_id is the component's lowest doc_id."""
    exact_edges, near_edges = dedup_edges(documents, jaccard_pct, bucket_cap)
    return connected_components(exact_edges.unionByName(near_edges))


# -- content-defined chunking (substring-grain dedup) -------------------------

#: CDC geometry: k-gram rolling-hash cut decision, expected chunk length =
#: CDC_MODULUS chars. Shared with the SQL oracle — change together.
CDC_K = 8
CDC_MODULUS = 16


def cdc_chunks(documents: DataFrame, k: int = CDC_K, modulus: int = CDC_MODULUS) -> DataFrame:
    """Content-defined chunks of the normalized text: a cut falls BEFORE
    position p whenever the k-gram starting at p hashes to 0 mod
    `modulus`, so chunk boundaries track CONTENT, not offsets — insert one
    word at the top of a page and every later chunk still hashes the same
    (the property that makes substring-grain dedup robust where whole-doc
    hashing is not; cf. LBFS/rsync chunking and exact-substring training-
    data dedup).

    Scale shape: the whole chunking decision is PER-DOCUMENT, so it runs
    as codegen'd array expressions inside one map stage — cut positions
    via a higher-order `filter` over the k-gram positions (the cut flag
    from an md5 prefix, the engine's portable hash idiom), chunk spans by
    zipping each cut with the next one — then ONE explode to the chunk
    grain. Zero shuffles, zero windows, zero joins: the former
    per-character explode -> per-doc running-sum window -> span aggregate
    -> join-back pipeline shuffled ~|text| rows per doc three times for a
    decision that never crosses a document boundary.

    Output: doc_id, chunk_id, start, chunk_len, chunk_hash.
    """
    norm = F.regexp_replace(F.trim(ascii_lower(F.col("text"))), WS_RE, " ")
    base = (
        _fan_out(documents.select("doc_id", "text"))
        .select("doc_id", norm.alias("t"))
        .where(F.length("t") >= 1)
    )
    # a cut falls BEFORE p for p in [2, n-k+1] with the k-gram hash == 0
    # (mod modulus) — identical predicate and md5 arithmetic to the
    # original position-stream form, evaluated per doc
    cuts = (
        f"CASE WHEN length(t) >= {k + 1} THEN "
        f"filter(sequence(2, length(t) - {k - 1}), p -> "
        f"cast(conv(substring(md5(substr(t, p, {k})), 1, 4), 16, 10) as bigint)"
        f" % {modulus} = 0) "
        f"ELSE array() END"
    )
    spans = (
        f"transform(sequence(1, size(_starts)), i -> named_struct("
        f"'chunk_id', cast(i - 1 as bigint), "
        f"'start', element_at(_starts, i), "
        f"'chunk_len', cast(element_at(_nexts, i) - element_at(_starts, i)"
        f" as bigint)))"
    )
    return (
        base.withColumn("_starts", F.expr(f"concat(array(1), ({cuts}))"))
        .withColumn(
            "_nexts",
            F.expr(
                "concat(slice(_starts, 2, size(_starts) - 1),"
                " array(length(t) + 1))"
            ),
        )
        .select("doc_id", "t", F.explode(F.expr(spans)).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.start").alias("start"),
            F.col("c.chunk_len").alias("chunk_len"),
            F.md5(F.expr("substr(t, c.start, c.chunk_len)")).alias("chunk_hash"),
        )
    )


def cdc_dup_stats(documents: DataFrame, k: int = CDC_K, modulus: int = CDC_MODULUS) -> DataFrame:
    """Per-document substring-duplication profile over the CDC chunk
    stream: how many of a doc's chunks (and how many of its bytes) also
    appear elsewhere in the corpus. The chunk-frequency table is a
    map-side-combined aggregate joined back onto the chunk stream (AQE
    broadcasts it when small) — the dup_ngram_stats pattern, never a
    hot-key window.

    Output: doc_id, n_chunks, n_dup_chunks, dup_bytes (integers).
    """
    # the chunk stream feeds BOTH the frequency aggregate and the join
    # probe side, and it is a pure map stage (no exchange for ReuseExchange
    # to dedup) — checkpoint it so the md5-per-position cut computation
    # runs once, not twice (the dedup_edges reasoning; chunk rows are a
    # few percent of the input bytes)
    chunks = materialize(cdc_chunks(documents, k=k, modulus=modulus))
    occ = chunks.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("n_occ"))
    joined = chunks.join(occ, "chunk_hash")
    dup = F.col("n_occ") > 1
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_if(dup).alias("n_dup_chunks"),
        F.sum(F.when(dup, F.col("chunk_len")).otherwise(F.lit(0))).alias(
            "dup_bytes"
        ),
    )


def lsh_dedup_quality(
    documents: DataFrame,
    sample_mod: int = 37,
    jaccard_pct: int = 50,
    df_cap: int = 1000,
) -> DataFrame:
    """Tracked quality metric for the LSH dedup family: on a deterministic
    1-in-`sample_mod` audit slice, compare the LSH candidate pairs against
    EXACT ground truth (all pairs with true shingle Jaccard >=
    jaccard_pct/100) and report recall/precision in basis points — the
    dedup twin of the ANN family's ann_recall, so a band/bucket regression
    shows up as a NUMBER drop, not just intuition.

    Ground truth without all-pairs: a pair with Jaccard > 0 shares >= 1
    shingle, so candidates come from the shingle INVERTED-INDEX self-join
    on the slice — the audit cost is bounded by the slice size, which is
    exactly how a 100 TB pipeline audits its dedup recall (fixed-size
    sampled slice, never the full corpus). Shingles whose slice document
    frequency exceeds `df_cap` are excluded from candidate GENERATION
    (the bucket_cap pattern): a boilerplate-heavy slice would otherwise
    make the self-join quadratic in the hottest shingle's bucket. A
    >=jaccard_pct pair shares most of its shingles, so it is missed only
    if EVERY shared shingle is hotter than df_cap — by design the same
    flood bound lsh_candidate_pairs applies, so the audit cost is bounded
    a priori, not by fixture luck.

    Output: one row — n_true, n_cand, n_hits, recall_bp, precision_bp
    (basis points, integer division; NULL-free: 0 when denominators are 0).
    """
    slice_df = documents.where(F.col("doc_id") % sample_mod == 0).select(
        "doc_id", "text"
    )
    sets = (
        slice_df.select("doc_id", lower_tokens_col().alias("_w"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles_over(F.col("_w")))).alias(
                "shingle"
            ),
        )
    )
    shingle_df = sets.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    rare = sets.join(
        F.broadcast(shingle_df.where(F.col("_df") <= df_cap).select("shingle")),
        "shingle",
        "left_semi",
    )
    inv_pairs = (
        rare.alias("sa")
        .join(
            rare.alias("sb"),
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .select(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    exact = jaccard_verify(slice_df, inv_pairs)
    true_pairs = exact.where(
        F.col("n_intersect") * 100 >= F.col("n_union") * jaccard_pct
    ).select("doc_a", "doc_b")
    cand = lsh_candidate_pairs(slice_df).select("doc_a", "doc_b")
    # ONE full-outer join of the two (distinct) pair sets yields all three
    # counts in a single aggregate — the former three crossJoined count
    # subtrees executed the true_pairs and cand derivations twice each
    both = true_pairs.withColumn("_t", F.lit(1)).join(
        cand.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "full"
    )
    counts = both.agg(
        F.count("_t").alias("n_true"),
        F.count("_c").alias("n_cand"),
        F.count_if(
            F.col("_t").isNotNull() & F.col("_c").isNotNull()
        ).alias("n_hits"),
    )
    return (
        counts
        .selectExpr(
            "n_true",
            "n_cand",
            "n_hits",
            "CASE WHEN n_true > 0 THEN n_hits * 10000 div n_true ELSE 0 END"
            " AS recall_bp",
            "CASE WHEN n_cand > 0 THEN n_hits * 10000 div n_cand ELSE 0 END"
            " AS precision_bp",
        )
    )


def setsim_join(documents: DataFrame, jaccard_pct: int = 50) -> DataFrame:
    """EXACT set-similarity join by prefix filtering (the PPJoin family,
    Xiao et al. 2008) — every pair of documents whose shingle-set
    Jaccard is >= jaccard_pct, with NO false negatives: the exact
    answer MinHash-LSH only approximates, at the cost of an exact
    candidate bound instead of a probabilistic one.

    The filter: order all shingles globally by (df asc, shingle asc) —
    rarest first — and keep each doc's PREFIX of length
    n - ceil(t*n) + 1. If J(A,B) >= t then |A∩B| >= ceil(t*|A|), so by
    pigeonhole the globally-smallest intersection element sits inside
    BOTH prefixes — the prefix-prefix equi-join on the shingle is a
    complete candidate generator. Because prefixes hold each doc's
    RAREST shingles, candidate buckets stay small exactly where the
    corpus is hot (the inverse of a boilerplate join).

    Shapes: df is one aggregate; prefix selection is a row_number over
    the (doc_id) partition — a bounded per-doc stratum; the candidate
    join keys on rare shingles; verification is the single-derivation
    role-tagged frame. Output: doc_a, doc_b, n_intersect, n_union
    (exactly the >= t pairs; the oracle recomputes them from the naive
    share-any-shingle join, so a broken prefix bound mismatches).
    """
    from pyspark.sql import Window

    sets = _shingle_sets(documents)
    df_tbl = sets.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sets.join(df_tbl, "shingle")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    w_n = Window.partitionBy("doc_id")
    pref = (
        ranked.withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
        .where(
            F.col("pos")
            <= F.col("n")
            - F.expr(f"({jaccard_pct} * n + 99) DIV 100")
            + 1
        )
        .select("doc_id", "shingle")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    verified = jaccard_verify(documents, cand)
    return verified.where(
        100 * F.col("n_intersect") >= jaccard_pct * F.col("n_union")
    )


def dedup_savings(
    documents: DataFrame,
    jaccard_pct: int = 80,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Capacity-planning rollup of duplicate_clusters — the number a
    storage/training-budget review actually asks for: if every
    duplicate cluster kept one representative, how many documents and
    bytes disappear? Per cluster SIZE (the bounded reporting grain):
    cluster count, member docs, total text bytes, and the bytes saved
    keeping each cluster's longest member (ties by doc_id — max struct,
    deterministic).

    Shape: cluster labels join back to doc byte lengths on doc_id (one
    equi-join), per-cluster rollup, then a size-bucketed rollup of
    THAT bounded relation. Savings use max-member-kept, the
    curation-standard keep rule.

    Output: cluster_size, n_clusters, n_docs, total_bytes,
    saved_bytes.
    """
    labels = duplicate_clusters(documents, jaccard_pct, bucket_cap)
    lens = documents.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("long")
        .alias("n_bytes"),
    )
    per_cluster = (
        labels.join(lens, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("_kept"),
        )
    )
    return (
        per_cluster.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
            F.sum("total_bytes").alias("total_bytes"),
            F.sum(F.col("total_bytes") - F.col("_kept")).alias(
                "saved_bytes"
            ),
        )
        .select(
            "cluster_size", "n_clusters",
            F.col("n_docs").cast("long").alias("n_docs"),
            "total_bytes", "saved_bytes",
        )
    )
