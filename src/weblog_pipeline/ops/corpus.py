"""Corpus-curation operators over the documents table — the selection ops
a training-data pipeline chains AROUND dedup/quality/language analysis:

* latest_per_source — windowed revision dedup: keep the newest document
  per source. Expressed as a max_by AGGREGATE (map-side combine, one
  shuffle keyed by source), not a row_number window — the aggregate form
  never funnels a hot source's full history into one reducer's sort.
* stratified_sample — deterministic per-language sampling by a hash
  bucket of doc_id: a stateless filter that lives in the scan stage
  (no shuffle, no RNG, identical sample on any engine and any re-run —
  Bernoulli RNG sampling would break resume idempotency and oracle
  parity).
* clean_corpus — the end-to-end selection a pretraining pipeline runs:
  drop dedup_pipeline's exact/near duplicates (left-anti join, broadcast
  at typical drop-list sizes), keep detected-language matches, and apply
  integer quality thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..aggregate import epoch_day, topk
from . import dedup, textstats

SAMPLE_BUCKETS = 100


def latest_per_source(documents: DataFrame) -> DataFrame:
    """One row per source: the highest-doc_id (newest) revision."""
    return documents.groupBy("source").agg(
        F.max("doc_id").alias("doc_id"),
        F.max_by("n_chars", "doc_id").alias("n_chars"),
    )


def sample_bucket_col(id_col="doc_id"):
    """Deterministic bucket in [0, 100): first 16 bits of md5(doc_id) mod
    100 — portable integer arithmetic both Spark and any SQL engine
    reproduce bit-for-bit."""
    h16 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
    ).cast("long")
    return h16 % SAMPLE_BUCKETS


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, int],
    default_rate: int = 0,
) -> DataFrame:
    """Keep each doc iff its hash bucket < the percentage configured for
    its lang (metadata lang column; rates in whole percent)."""
    rate = F.lit(default_rate)
    for lang, pct in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return documents.select("doc_id", "lang", "source").where(
        sample_bucket_col() < rate
    )


def cardinality_audit(documents: DataFrame, rsd: float = 0.05) -> DataFrame:
    """Per-source distinct-content cardinality: the EXACT count next to
    Spark's HyperLogLog++ estimate (approx_count_distinct), plus the
    audit flag |approx - exact| <= max(3, 3*rsd*exact).

    Why ship the approximation at all: at 100 TB the exact count needs a
    shuffle of every distinct hash, while the HLL sketch is a tiny
    fixed-size buffer that merges map-side — the estimate is what the
    monitoring path runs; this audit query is how its error stays
    TRACKED instead of trusted. HLL++ is deterministic (xxhash64 of the
    value, no RNG), so the flag is stable and the cross-engine oracle
    simply asserts it TRUE with the exact count.

    Output: source, n_exact, within_bound.
    """
    h = F.md5(F.col("text"))
    bound = F.greatest(
        F.lit(3).cast("double"),
        F.lit(3 * rsd) * F.col("n_exact").cast("double"),
    )
    return (
        documents.where(F.col("text").isNotNull())
        .groupBy("source")
        .agg(
            F.count_distinct(h).alias("n_exact"),
            F.approx_count_distinct(h, rsd).alias("n_approx"),
        )
        .select(
            "source",
            "n_exact",
            (F.abs(F.col("n_approx") - F.col("n_exact")).cast("double") <= bound)
            .alias("within_bound"),
        )
    )


def token_windows(
    documents: DataFrame, window: int = 2048, stride: int = 1792
) -> DataFrame:
    """Fixed-window/stride token chunking — the standard pretraining
    chunker (and RAG splitter): doc tokens [0, n) become windows starting
    at 0, stride, 2*stride, ..., each `window` tokens (the last one
    truncated), with the start sequence extended just far enough that the
    tail is covered: k_max = ceil((n - window)/stride) when n > window.

    Pure Catalyst: the token count is the shared whitespace idiom
    (textstats.token_counts), the fan-out is explode(sequence(0, k_max))
    — bounded rows per doc, no shuffle at all (the whole op lives in the
    scan stage), and only integer chunk BOUNDARIES are emitted, never
    token arrays. Output: doc_id, chunk_idx, start_tok, end_tok.
    """
    if not 0 < stride <= window:
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    base = (
        textstats.token_counts(documents)
        .select("doc_id", "n_tokens")
        .where(F.col("n_tokens") > 0)
    )
    k_max = F.expr(
        f"CASE WHEN n_tokens > {window}"
        f" THEN (n_tokens - {window} + {stride} - 1) div {stride}"
        " ELSE 0 END"
    )
    return (
        base.select(
            "doc_id",
            "n_tokens",
            F.explode(F.sequence(F.lit(0).cast("long"), k_max)).alias("k"),
        )
        .select(
            "doc_id",
            F.col("k").cast("long").alias("chunk_idx"),
            (F.col("k") * stride).cast("long").alias("start_tok"),
            F.least(F.col("k") * stride + window, F.col("n_tokens"))
            .cast("long")
            .alias("end_tok"),
        )
    )


def passage_fingerprints(
    documents: DataFrame, window: int = 16, stride: int = 12
) -> DataFrame:
    """RAG passage identity: token_windows' boundaries PLUS a content
    hash per window, so identical passages collapse across documents —
    the key a retrieval index dedups and upserts on. (token_windows
    deliberately emits only integer boundaries; an index needs the
    passage's identity too.)

    The window rule is token_windows' exactly: starts 0, stride,
    2*stride, ..., k_max = ceil((n - window)/stride) when n > window,
    last window truncated at n. The hash is md5 of the space-joined
    lowercased token slice (Spark md5 == DuckDB md5, lowercase hex) —
    the shared corpus tokenizer, so the same passage text hashes the
    same everywhere.

    Scale shape: the token array is MATERIALIZED once per doc in its own
    projection (the shingles_over CSE contract), the fan-out is
    explode(sequence(0, k_max)) and the slice+hash is a plain projection
    — the whole op lives in the scan stage, zero shuffles, rows bounded
    by ~n_tokens/stride per doc.

    Output: doc_id, chunk_idx, start_tok, end_tok, chunk_hash.
    """
    if not 0 < stride <= window:
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    words = documents.select(
        "doc_id",
        dedup.lower_tokens_col().alias("_w"),
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(dedup.lower_tokens_col()))
        .cast("long")
        .alias("_n"),
    ).where(F.col("_n") > 0)
    k_max = F.expr(
        f"CASE WHEN _n > {window}"
        f" THEN (_n - {window} + {stride} - 1) div {stride}"
        " ELSE 0 END"
    )
    return (
        words.select(
            "doc_id",
            "_w",
            "_n",
            F.explode(F.sequence(F.lit(0).cast("long"), k_max)).alias("k"),
        )
        .select(
            "doc_id",
            F.col("k").cast("long").alias("chunk_idx"),
            (F.col("k") * stride).cast("long").alias("start_tok"),
            F.least(F.col("k") * stride + window, F.col("_n"))
            .cast("long")
            .alias("end_tok"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("_w"),
                        (F.col("k") * stride + 1).cast("int"),
                        window,
                    ),
                )
            ).alias("chunk_hash"),
        )
    )


def mixture_weights(documents: DataFrame) -> DataFrame:
    """Temperature-flattened source-mixing weights (alpha = 0.5, the
    classic multilingual-LM rebalancing: sample source i proportionally
    to sqrt(n_i) instead of n_i, boosting low-resource sources without
    drowning the head).

    Cross-engine exact BY CONSTRUCTION despite the sqrt: s_kilo =
    floor(sqrt(double(n_docs * 1_000_000))) — the integer product casts
    to the same IEEE double on any engine, sqrt is correctly rounded by
    spec, and everything after the floor is integer arithmetic
    (weight_bp = s_kilo * 10000 div total). No cross-row float sums —
    the total is a BIGINT sum, so addition order can't change rounding.

    Scale shape: one map-side-combined count per source, a broadcast
    one-row total, zero wide rows. Output: source, n_docs, s_kilo,
    weight_bp.
    """
    counts = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    scaled = counts.withColumn(
        "s_kilo",
        F.floor(F.sqrt((F.col("n_docs") * F.lit(1_000_000)).cast("double")))
        .cast("long"),
    )
    total = scaled.agg(F.sum("s_kilo").cast("long").alias("total_s"))
    return scaled.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "s_kilo",
        F.expr("s_kilo * 10000 div total_s").alias("weight_bp"),
    )


def clean_corpus(
    documents: DataFrame,
    keep_lang: str = "en",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_stopword_pct: int = 3,
    jaccard_pct: int = 80,
) -> DataFrame:
    """Training-corpus selection: dedup drop list (exact + near) applied as
    a left-anti join, detected language filter, integer quality gates.
    Output: surviving (doc_id, lang_guess, n_tokens)."""
    drops = dedup.dedup_pipeline(documents, jaccard_pct=jaccard_pct).select("doc_id")
    quality = textstats.quality_stats(documents).select(
        "doc_id", "n_tokens", "n_stopwords"
    )
    lang = textstats.lang_id(documents).select("doc_id", "lang_guess")
    kept = (
        documents.select("doc_id")
        .join(drops, "doc_id", "left_anti")
        .join(quality, "doc_id")
        .join(lang, "doc_id")
    )
    return kept.where(
        (F.col("lang_guess") == keep_lang)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("n_stopwords") * 100 >= min_stopword_pct * F.col("n_tokens"))
    ).select("doc_id", "lang_guess", "n_tokens")


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals — the filter family
    the Gopher/MassiveText curation rules apply before training:

      n_lines / n_dup_lines / dup_line_bp  — fraction of newline-delimited
          lines that are repeats of an earlier line in the SAME doc
          (boilerplate nav/footer blocks repeat verbatim);
      n_2grams / top_2gram_n / top_2gram_bp — occupancy of the single most
          frequent word 2-gram ("click here click here ..." pages).

    Spark shape: one explode per signal over the doc's own tokens, both
    aggregated per (doc_id, item) then per doc_id — the shuffle key always
    includes doc_id, so corpus-wide token skew cannot concentrate (unlike
    corpus-frequency ops, this is per-doc by construction). Integer basis
    points — float-free and hash-stable.

    Empty docs report zero lines/grams; docs with <2 tokens have no
    2-grams (top_2gram_bp = 0 by convention, both engines).
    """
    lines = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), "\n")).alias("line")
    ).where(F.col("line") != "")
    line_stats = (
        lines.groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_lines"),
            (F.sum("c") - F.count(F.lit(1))).alias("n_dup_lines"),
        )
    )
    toks = F.col("_w")  # materialized below — see dedup.shingles_over
    pairs = F.when(
        F.array_size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.array_size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = documents.select(
        "doc_id", dedup.lower_tokens_col().alias("_w")
    ).select("doc_id", F.explode(pairs).alias("g"))
    gram_stats = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_2grams"), F.max("c").alias("top_2gram_n"))
    )
    base = documents.select("doc_id")
    out = (
        base.join(line_stats, "doc_id", "left")
        .join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_dup_lines", F.lit(0)).alias("n_dup_lines"),
            F.coalesce("n_2grams", F.lit(0)).alias("n_2grams"),
            F.coalesce("top_2gram_n", F.lit(0)).alias("top_2gram_n"),
        )
    )
    return out.select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        F.expr(
            "CASE WHEN n_lines > 0 THEN n_dup_lines * 10000 div n_lines ELSE 0 END"
        ).alias("dup_line_bp"),
        "n_2grams",
        "top_2gram_n",
        F.expr(
            "CASE WHEN n_2grams > 0 THEN top_2gram_n * 10000 div n_2grams ELSE 0 END"
        ).alias("top_2gram_bp"),
    )


def dedup_lines(documents: DataFrame, max_df: int = 3) -> DataFrame:
    """Corpus-wide line-level dedup with text reassembly (the CCNet /
    RefinedWeb paragraph-dedup step): any newline-delimited line occurring
    in more than `max_df` documents is boilerplate (cookie banners, nav
    bars, footers) and is removed from EVERY document; survivors are
    re-joined in original order.

    Spark shape: posexplode keeps each line's position; the line
    document-frequency table is a (md5(line)) aggregate — map-side combine
    absorbs the boilerplate skew exactly as dup_ngram_stats does — and
    joins back onto the line stream (AQE broadcasts the small boilerplate
    list); reassembly is a per-doc sort_array over (pos, line) structs,
    shuffled by doc_id only. Docs whose every line is boilerplate come
    back with empty text (kept, so the drop decision stays downstream).

    Output: doc_id, n_lines, n_dropped, text (reassembled).
    """
    lines = documents.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    df_counts = (
        lines.where(F.col("line") != "")
        .groupBy(F.md5("line").alias("lh"))
        .agg(F.countDistinct("doc_id").alias("line_df"))
        .where(F.col("line_df") > max_df)
        .select("lh", F.lit(True).alias("is_boiler"))
    )
    marked = lines.join(
        df_counts, F.md5(lines["line"]) == df_counts["lh"], "left"
    ).select("doc_id", "pos", "line", "is_boiler")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_if(F.col("is_boiler")).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.coalesce(F.col("is_boiler"), F.lit(False)),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text"),
        )
    )


def source_boilerplate(
    documents: DataFrame, min_docs: int = 10, pct: int = 30
) -> DataFrame:
    """Per-source boilerplate line detection (the RefinedWeb/CCNet site-
    template step): a nonblank line occurring in >= `pct`% of one
    source's documents is that site's template (nav bar, footer, cookie
    banner) even when it is globally rare — the fractional within-source
    complement to dedup_lines' absolute corpus-wide threshold. Sources
    with fewer than `min_docs` documents are skipped (a 2-doc site makes
    every shared line look like template). Emits the per-source blocklist
    a strip stage would broadcast.

    Spark shape: one (source, line-hash) countDistinct aggregate — the
    partial-aggregate combiner absorbs a hot template line's repeats on
    the map side — plus a tiny per-source doc count broadcast onto it;
    the flag is an integer percentage inequality (line_df*100 >=
    n_docs*pct), no floats. Nothing ever shuffles by raw line text, only
    by its md5. At 100 TB the blocklist is O(sources x templates) — MBs.

    Output: source, line_md5, line_df, n_docs (flagged lines only).
    """
    lines = (
        documents.select(
            "source",
            "doc_id",
            F.explode(F.split(F.col("text"), "\n")).alias("line"),
        )
        .where(F.col("line") != "")
    )
    line_df = lines.groupBy("source", F.md5("line").alias("line_md5")).agg(
        F.countDistinct("doc_id").alias("line_df")
    )
    ndocs = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        line_df.join(F.broadcast(ndocs), "source")
        .where(
            (F.col("n_docs") >= min_docs)
            & (F.col("line_df") * 100 >= F.col("n_docs") * pct)
        )
        .select("source", "line_md5", "line_df", "n_docs")
    )


def source_overlap(documents: DataFrame, src_cap: int = 5) -> DataFrame:
    """Pairwise source content-overlap matrix: for every source pair
    (a < b), how many distinct word-3-gram shingles both contain, plus
    each side's distinct-shingle total (so Jaccard / containment is one
    division downstream). The source-grain analogue of decontamination's
    doc-grain probe — it surfaces mirror sites, syndication rings, and
    cross-posted boilerplate BETWEEN corpus slices.

    Scale shape: the corpus-wide stage is one DISTINCT (source,
    shingle-md5) projection (map-side combined); pair generation is a
    per-shingle self-join guarded by `src_cap` — a gram present in more
    than src_cap sources is a stop-gram (common phrase / global
    boilerplate) excluded from pair GENERATION, capping the fan-out at
    src_cap^2 rows per gram where millions of sources would otherwise go
    quadratic. Per-source totals are NOT capped (only the join is); the
    totals joins carry no broadcast hint on purpose — at catalog scale
    AQE turns them into broadcast joins at runtime (the side is tiny),
    while at web scale (millions of sources, totals too big to ship to
    every executor) the same plan degrades gracefully to a shuffle join
    instead of OOMing on a forced broadcast.

    Output: source_a, source_b, n_shared, n_grams_a, n_grams_b.
    """
    sets = (
        documents.select("source", dedup.lower_tokens_col().alias("_w"))
        .select(
            "source",
            F.explode(F.array_distinct(dedup.shingles_over(F.col("_w")))).alias(
                "shingle"
            ),
        )
        .select("source", F.md5("shingle").alias("gh"))
        .distinct()
    )
    totals = sets.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    rare = sets.join(
        sets.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_src"))
        .where(F.col("n_src") <= src_cap)
        .select("gh"),
        "gh",
        "left_semi",
    )
    pairs = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("n_grams_a")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("n_grams_b")
    )
    return (
        pairs.join(ta, "source_a")
        .join(tb, "source_b")
        .select("source_a", "source_b", "n_shared", "n_grams_a", "n_grams_b")
    )


def key_skew(df: DataFrame, key_col: str, top_k: int = 20) -> DataFrame:
    """Join-key skew profile — the diagnostic run BEFORE choosing a
    salting factor or an AQE skew threshold for a keyed join/aggregate:
    the top_k hottest keys with their absolute counts and basis-point
    share of all rows, plus the global row/key totals on every row so a
    monitor reads one result.

    Scale shape: one map-side-combined count aggregate over the key, then
    `topk` without groups, which Spark plans as TakeOrderedAndProject
    (per-partition heaps, NEVER a single-reducer sort over the full key
    domain) with the rank window over the top_k survivors only; the
    1-row totals ride a broadcast. Ties break on the key string so the
    result is deterministic on any engine.

    Output: rank, key (stringified), n, share_bp, n_rows, n_keys.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.agg(
        F.sum("n").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        topk(counts, top_k, [F.col("n").desc(), F.col("key")])
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "key",
            "n",
            F.expr("n * 10000 div n_rows").alias("share_bp"),
            "n_rows",
            "n_keys",
        )
    )


def dup_ngram_stats(documents: DataFrame, df_threshold: int = 4) -> DataFrame:
    """Duplicate-n-gram quality signal (Gopher/Dolma-style boilerplate
    detection): per document, how many of its distinct word 3-grams occur
    in more than df_threshold documents corpus-wide.

    Two derivations of the gram frame by construction (the doc-frequency
    aggregate is corpus-grain, the hit-count is doc-grain); the join back
    is an equi-join on the gram — AQE broadcasts it when the boilerplate
    vocabulary is small. Docs with <3 words have no grams and are absent,
    matching the MinHash family's convention.

    Output: doc_id, n_grams (distinct), n_boiler, boiler_pct_x100
    (integer basis points — float-free and hash-stable).
    """
    grams = documents.select(
        "doc_id", F.explode(F.array_distinct(dedup.shingles_col())).alias("gram")
    )
    boiler = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_threshold)
        .select("gram", F.lit(True).alias("is_boiler"))
    )
    joined = grams.join(boiler, "gram", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("is_boiler")).alias("n_boiler"),
        )
        .withColumn("boiler_pct_x100", F.expr("n_boiler * 10000 div n_grams"))
    )


def length_histogram(documents: DataFrame) -> DataFrame:
    """Log2-bucketed document-length histogram — the size-distribution
    profile every corpus report starts with. The bucket is the bit-width
    of n_chars (floor(log2)+1, bucket 1 holds empty docs), computed with
    integer-exact bin-string length so any engine reproduces it; the
    groupBy key space is ~40 buckets, collapsed map-side.

    Output: bucket, n_docs, sum_chars.
    """
    bucket = F.length(F.bin(F.length("text").cast("long"))).cast("long")
    return (
        documents.select(
            bucket.alias("bucket"), F.length("text").cast("long").alias("n")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("sum_chars"),
        )
    )


#: docs per packing stratum. Strata are FIXED-SIZE id ranges, so the packing
#: window is bounded by construction: at any corpus scale a partition holds
#: <= PACK_STRATUM_DOCS rows, and stratum count grows with the data instead
#: of stratum size (the global-running-sum alternative is a single-reducer
#: sort at 100 TB).
PACK_STRATUM_DOCS = 1000


def pack_sequences(
    documents: DataFrame,
    budget: int = 2048,
    stratum_docs: int = PACK_STRATUM_DOCS,
) -> DataFrame:
    """Token-budget sequence packing — the layout step that turns a
    cleaned corpus into fixed-width pretraining context windows: documents
    are concatenated end-to-end in doc_id order and cut every `budget`
    tokens (GPT-style packing; a doc may span a cut).

    Each stratum of `stratum_docs` consecutive doc_ids packs
    independently, so the running-sum window partitions on `stratum` and
    never sees more than `stratum_docs` rows — scale grows the NUMBER of
    strata, not the window. Shards are identified by (stratum, shard);
    `offset_in_shard` is where the doc's first token lands.

    Output: doc_id, stratum, n_tokens, shard, offset_in_shard. Pure
    integer arithmetic — exact in any engine.
    """
    text = F.col("text")
    n_tok = (
        F.when(F.trim(text) == "", F.lit(0))
        .otherwise(F.array_size(textstats._tokens(text)))
        .cast("long")
    )
    return pack_rows(
        documents.select("doc_id", n_tok.alias("n_tokens")),
        budget=budget,
        stratum_docs=stratum_docs,
    )


def pack_rows(
    rows: DataFrame,
    budget: int = 2048,
    stratum_docs: int = PACK_STRATUM_DOCS,
) -> DataFrame:
    """Packing core over precomputed (doc_id, n_tokens) rows — lets a
    composed pipeline pack its CURATED token counts without re-deriving
    them from text. Same bounded-stratum window as pack_sequences."""
    from pyspark.sql import Window

    base = rows.select(
        "doc_id",
        F.expr(f"doc_id div {stratum_docs}").alias("stratum"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("stratum")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "stratum",
        "n_tokens",
        offset.alias("_off"),
    ).select(
        "doc_id",
        "stratum",
        "n_tokens",
        F.expr(f"_off div {budget}").alias("shard"),
        (F.col("_off") % budget).alias("offset_in_shard"),
    )


def lang_length_stats(documents: DataFrame) -> DataFrame:
    """Per-language length distribution: count, min/max, and EXACT median
    (x100 integer — the interpolated midpoint of two integers is always a
    multiple of 0.5, so flooring the x100 value is engine-exact, unlike a
    float hash). Spark's percentile aggregate counts distinct values
    per group (bounded by the length domain, not row count), so no
    per-group sort materializes at scale.

    Output: lang, n_docs, min_chars, max_chars, median_chars_x100.
    """
    n = F.length("text").cast("long")
    return (
        documents.select(F.col("lang"), n.alias("n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n").alias("min_chars"),
            F.max("n").alias("max_chars"),
            F.floor(F.percentile("n", F.lit(0.5)) * 100)
            .cast("long")
            .alias("median_chars_x100"),
        )
    )


def ingest_increment(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """Incremental corpus ingest — the daily-crawl merge step: keep only
    incoming documents whose normalized CONTENT is genuinely new, both
    against the existing corpus and within the increment itself (first
    doc_id wins intra-batch, deterministic).

    Scale shape: the membership test is a LEFT-ANTI join on the content
    hash (at 100 TB the existing side is a bucketed hash index, so the
    anti-join co-locates without an exchange; here it is the plain
    equi-join AQE handles); intra-batch dedup is a min_by aggregate per
    hash — one shuffle each, no windows.

    Output: doc_id, content_hash (the surviving increment).
    """
    exist_h = existing.select(
        dedup.content_hash_col().alias("content_hash")
    ).distinct()
    inc = incoming.select(
        "doc_id", dedup.content_hash_col().alias("content_hash")
    )
    new_content = inc.join(exist_h, "content_hash", "left_anti")
    return (
        new_content.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_hash")
    )


def ngram_contamination(
    train: DataFrame, probes: DataFrame, min_shared: int = 1
) -> DataFrame:
    """Train/test decontamination — the benchmark-leak audit a pretraining
    pipeline runs before shipping a corpus: flag every training document
    that shares at least `min_shared` distinct word n-grams with any
    benchmark probe document (GPT-3-style n-gram overlap decontamination;
    here the corpus-standard 3-gram shingles from ops.dedup so the whole
    dedup/decontam family tokenizes identically).

    Scale shape: the probe side (a benchmark suite) is tiny relative to a
    100 TB corpus, so its distinct gram set rides the BROADCAST side of
    the join — the exploded train gram stream is filtered in place and
    never shuffles by gram. Deliberately NO distinct on the train stream
    before the join (that would shuffle the full corpus gram stream just
    to dedup rows the broadcast filter is about to discard); intra-doc
    gram repeats are collapsed by the countDistinct aggregates instead,
    so the only shuffle is the final per-doc aggregate, keyed by doc_id
    (uniform).

    Output: doc_id, n_shared_grams (distinct shared grams),
    n_probes_hit (distinct probe docs implicated), first_probe_id
    (min, deterministic evidence pointer) — one row per contaminated doc.
    """
    probe_grams = (
        probes.select("probe_id", dedup.lower_tokens_col().alias("_w"))
        .select(
            "probe_id",
            F.explode(dedup.shingles_over(F.col("_w"))).alias("gram"),
        )
        .distinct()
    )
    train_grams = train.select(
        "doc_id", dedup.lower_tokens_col().alias("_w")
    ).select("doc_id", F.explode(dedup.shingles_over(F.col("_w"))).alias("gram"))
    hits = train_grams.join(F.broadcast(probe_grams), "gram")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("probe_id").alias("n_probes_hit"),
            F.min("probe_id").alias("first_probe_id"),
        )
        .where(F.col("n_shared_grams") >= min_shared)
    )


#: Bloom-filter geometry (Bloom 1970). depth hash functions over a
#: width-bit array; a member sets depth bits, a probe must find all depth.
BLOOM_DEPTH = 4
BLOOM_WIDTH = 8192


def bloom_prefilter(
    existing: DataFrame,
    incoming: DataFrame,
    depth: int = BLOOM_DEPTH,
    width: int = BLOOM_WIDTH,
) -> DataFrame:
    """Bloom-filter membership pre-filter for incremental ingest, audited
    per-document against the exact anti-join — the membership sketch that
    completes the tracked-sketch trio (HLL cardinality_audit, CMS
    heavy_hitters).

    The filter: the existing corpus's normalized content hashes each set
    `depth` cells of a width-cell grid (cell j at md5("j:" || hash)
    first-4-hex mod width — the pinned md5-conv idiom); an incoming doc
    is `bloom_hit` iff ALL its depth cells are set. No false negatives by
    construction (`present` implies `bloom_hit` — tested); false
    positives are per-doc `is_fp` so the rate is TRACKED, not trusted.

    Scale shape: the bit set is <= depth*width (j, cell) rows NO MATTER
    the corpus size — built with one map-side-combined distinct, then
    BROADCAST to every probe task, so the daily batch is pre-filtered
    without shuffling the existing corpus at all. The exact side (the
    distinct existing-hash join) is this AUDIT's ground truth, the same
    role brute force plays in ann_recall; production runs the bloom side
    only and sends the surviving minority to ingest_increment's
    anti-join.

    Output: one row per incoming doc — doc_id, bloom_hit, present, is_fp.
    """

    def _cell(j: int, h):
        md = F.md5(F.concat(F.lit(f"{j}:"), h))
        return F.conv(F.substring(md, 1, 4), 16, 10).cast("long") % width

    exist_h = existing.select(
        dedup.content_hash_col().alias("content_hash")
    ).distinct()
    bits = (
        exist_h.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("j"), _cell(j, F.col("content_hash")).alias("cell")
                    )
                    for j in range(depth)
                ])
            ).alias("b")
        )
        .select("b.j", "b.cell")
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    probes = incoming.select(
        "doc_id", dedup.content_hash_col().alias("content_hash")
    ).select(
        "doc_id",
        "content_hash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"), _cell(j, F.col("content_hash")).alias("cell")
                )
                for j in range(depth)
            ])
        ).alias("p"),
    ).select("doc_id", "content_hash", "p.j", "p.cell")
    hit = (
        probes.join(F.broadcast(bits), ["j", "cell"], "left")
        .groupBy("doc_id", "content_hash")
        .agg((F.sum(F.coalesce(F.col("_set"), F.lit(0))) == depth).alias("bloom_hit"))
    )
    return (
        # the exact side stays a plain equi-join (AQE broadcasts it at
        # fixture sizes; at 100 TB the distinct hash set is NOT
        # broadcastable and this audit join is the one deliberate shuffle)
        hit.join(
            exist_h.withColumn("_present", F.lit(1)),
            "content_hash",
            "left",
        )
        .select(
            "doc_id",
            "bloom_hit",
            F.col("_present").isNotNull().alias("present"),
            (F.col("bloom_hit") & F.col("_present").isNull()).alias("is_fp"),
        )
    )


def mixture_sample(documents: DataFrame, budget: int = 1000) -> DataFrame:
    """Materialize mixture_weights as per-document EPOCH COUNTS: given a
    total budget of `budget` document slots, source i receives
    quota_i = budget * s_kilo_i div total_s slots (the temperature
    weights, used end-to-end), realized as k_i = quota_i div n_i copies
    of every doc plus one extra copy for ~r_i = quota_i mod n_i docs —
    low-resource sources repeat (k >= 1), oversized sources downsample
    (k = 0 and most docs get n_copies = 0).

    The extra-copy subset is chosen by hash threshold —
    md5("mx:" || doc_id) bucket mod n_i < r_i — NOT by rank: a
    per-source rank window would funnel the Zipf-head source's full doc
    list through one task, while the threshold is a stateless per-row
    predicate (deterministic, resume-stable, engine-exact; the realized
    extra count is hash-binomial around r_i rather than exactly r_i —
    the documented trade for a window-free plan).

    Scale shape: one map-side-combined per-source count, broadcast
    quotas joined back onto the scan, zero windows, zero wide shuffles.

    Output: doc_id, source, n_copies.
    """
    counts = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    scaled = counts.withColumn(
        "s_kilo",
        F.floor(F.sqrt((F.col("n_docs") * F.lit(1_000_000)).cast("double")))
        .cast("long"),
    )
    total = scaled.agg(F.sum("s_kilo").cast("long").alias("total_s"))
    quotas = scaled.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        F.expr(f"({budget} * s_kilo) div total_s").alias("_quota"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mx:"), F.col("doc_id"))), 1, 4),
            16,
            10,
        ).cast("long")
        % F.col("n_docs")
    )
    return (
        documents.select("doc_id", "source")
        .join(F.broadcast(quotas), "source")
        .select(
            "doc_id",
            "source",
            (
                F.expr("_quota div n_docs")
                + F.when(bucket < F.expr("_quota % n_docs"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("n_copies"),
        )
    )


#: per-bin sampling rates (percent of one epoch) for importance_sample:
#: worst quality quartile thins to 1/4, below-average passes through,
#: above-average repeats 1.5x, best repeats 3x.
IMPORTANCE_RATES_PCT = (25, 100, 150, 300)


def importance_sample(
    documents: DataFrame,
    weights: DataFrame,
    rates_pct: tuple[int, int, int, int] = IMPORTANCE_RATES_PCT,
) -> DataFrame:
    """Quality-weighted importance resampling — the model-based curation
    pass that reshapes the token distribution AFTER the rule filters:
    each scored document lands in one of four LENGTH-NORMALIZED quality
    bins (4*score vs ±n_scored, i.e. mean per-token weight below -1/4,
    [-1/4, 0), [0, +1/4), >= +1/4) and is re-emitted n_copies times at
    the bin's sampling rate — high-scoring docs repeat, low-scoring docs
    thin out (the DSIR/PaLM quality-upsampling shape, realized with the
    integer-exact hashed linear scorer).

    The fractional part of a rate is realized per doc by the stateless
    md5 hash-threshold predicate ("is:"-salted bucket mod 100 < rate%100)
    — the mixture_sample idiom: deterministic, resume-stable, and
    window-free, so no bin ever funnels its full doc list through one
    task; the realized fraction is hash-binomial around rate%100, the
    documented trade for a stateless plan.

    Scale shape: the classifier's explode + broadcast weight join + one
    map-side-combined doc_id aggregate are the ONLY wide stages; binning,
    rates, and copy counts are codegen'd per-row expressions on top.
    Docs with no tokens have no rows (both engines agree).

    Output: doc_id, bin, rate_pct, n_copies.
    """
    if len(rates_pct) != 4:
        raise ValueError(f"importance_sample needs 4 bin rates, got {rates_pct!r}")
    scored = textstats.quality_classifier(documents, weights)
    s4 = F.col("score") * 4
    n = F.col("n_scored")
    bin_col = (
        F.when(s4 < -n, F.lit(0))
        .when(s4 < 0, F.lit(1))
        .when(s4 < n, F.lit(2))
        .otherwise(F.lit(3))
    )
    rate = (
        F.when(F.col("bin") == 0, F.lit(rates_pct[0]))
        .when(F.col("bin") == 1, F.lit(rates_pct[1]))
        .when(F.col("bin") == 2, F.lit(rates_pct[2]))
        .otherwise(F.lit(rates_pct[3]))
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("is:"), F.col("doc_id"))), 1, 4),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        scored.select("doc_id", "n_scored", "score", bin_col.alias("bin"))
        .select("doc_id", "bin", rate.cast("int").alias("rate_pct"))
        .select(
            "doc_id",
            "bin",
            "rate_pct",
            (
                F.expr("rate_pct div 100")
                + F.when(bucket < F.col("rate_pct") % 100, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("n_copies"),
        )
    )


#: (train, val, test) percentages for data_split.
DATA_SPLIT_PCT = (98, 1, 1)


def data_split(
    documents: DataFrame, pct: tuple[int, int, int] = DATA_SPLIT_PCT
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every corpus
    needs before training: md5("sp:" || doc_id) bucket mod 100 lands each
    doc in train (< pct[0]), val (< pct[0]+pct[1]) or test. Keyed by
    doc_id, not content: stable under re-partitioning, re-runs, and text
    edits (a doc never migrates between splits when its text is cleaned),
    with no RNG state to checkpoint — the same salted-hash idiom as
    mixture_sample / importance_sample, so the three samplers compose
    without correlation (distinct salts).

    Scale shape: a pure codegen'd projection — zero shuffles, zero joins.

    Output: doc_id, bucket, split.
    """
    if sum(pct) != 100 or len(pct) != 3:
        raise ValueError(f"data_split pct must be 3 shares summing to 100: {pct!r}")
    return documents.select(
        "doc_id", split_bucket_col(F.col("doc_id")).alias("bucket")
    ).select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < pct[0], F.lit("train"))
        .when(F.col("bucket") < pct[0] + pct[1], F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def split_bucket_col(doc_id_col):
    """md5('sp:' || doc_id) mod-100 bucket — the single definition of the
    split hash, shared by data_split and split_leakage (and their SQL
    oracles) so an audit can never disagree with the split it audits."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("sp:"), doc_id_col)), 1, 4),
            16,
            10,
        ).cast("long")
        % 100
    )


def split_of_col(doc_id_col, pct: tuple[int, int, int] = DATA_SPLIT_PCT):
    """The split label as a pure column expression of doc_id."""
    b = split_bucket_col(doc_id_col)
    return (
        F.when(b < pct[0], F.lit("train"))
        .when(b < pct[0] + pct[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_leakage(
    documents: DataFrame,
    jaccard_pct: int = 80,
    pct: tuple[int, int, int] = DATA_SPLIT_PCT,
) -> DataFrame:
    """Train/eval contamination audit — the check every benchmark-quality
    corpus needs AFTER splitting: count verified near-duplicate pairs by
    the split pair they straddle. A near-dup with one side in train and
    the other in val/test silently inflates eval scores; this query makes
    that leak a first-class metric (is_leak = 1 rows should be empty or
    tiny, and their pair counts are the leak budget).

    Composition, not new machinery: candidates from the MinHash-LSH band
    join (bucketed, never all-pairs), exact shingle-Jaccard verification
    on candidates only, and the split label recomputed as a PURE
    PROJECTION of doc_id via the shared split hash — zero joins against
    the split table, so the audit adds nothing to the dedup pipeline's
    shuffle footprint. Split pairs are normalized (least, greatest) so
    (train, test) and (test, train) count together.

    Output: split_a, split_b (STRING, ordered), n_pairs (BIGINT),
    is_leak (INT).
    """
    ver = dedup.jaccard_verify(
        documents, dedup.lsh_candidate_pairs(documents)
    ).where(
        F.col("n_intersect") * 100 >= F.lit(jaccard_pct) * F.col("n_union")
    )
    sa = split_of_col(F.col("doc_a"), pct)
    sb = split_of_col(F.col("doc_b"), pct)
    return (
        ver.select(
            F.least(sa, sb).alias("split_a"),
            F.greatest(sa, sb).alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn(
            "is_leak", (F.col("split_a") != F.col("split_b")).cast("int")
        )
    )


def quota_sample(documents: DataFrame, k: int = 100) -> DataFrame:
    """EXACT-quota stratified sampling: precisely min(k, stratum size)
    documents per language, chosen by the deterministic md5('qs:' ||
    doc_id) order — the "give me exactly 10k docs per language" request
    that rate-based stratified_sample cannot honor (a rate realizes a
    hash-binomial count, not an exact one). Distinct salt from the
    sp:/is:/mix samplers so all four compose without correlation.

    Scale shape: the per-stratum cut is `topk` by lang: Spark's window
    group limit keeps k rows per language on each map task before the
    shuffle, so no task ranks a whole language's corpus.

    Output: lang, rank, doc_id.
    """
    from .dedup import _fan_out

    keyed = _fan_out(documents.select("doc_id", "lang")).select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.lit("qs:"), F.col("doc_id"))).alias("_h"),
    )
    order = [F.col("_h").asc(), F.col("doc_id").asc()]
    return topk(keyed, k, order, by=["lang"]).select("lang", "rank", "doc_id")


def shard_assignment(
    documents: DataFrame, n_shards: int = 16, key_col: str = "doc_id"
) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding audit — the shard
    router a distributed KV/index layer uses because adding a shard
    only moves 1/(n+1) of the keys (consistent-hashing property,
    Thaler & Ravishankar 1998): each key lands on the shard whose
    md5(shard || ':' || key) is lexicographically greatest, and the
    audit reports every shard's load share in basis points
    (10000 = perfectly even).

    Shape: the argmax over shards is a pure in-plan projection —
    array_max over a transform of the literal shard sequence (md5 hex
    compares identically in ASCII everywhere) — then one count
    aggregate over n_shards groups and a broadcast total. No per-key
    join, no shuffle wider than n_shards rows after the count.

    Output: shard, n_docs, load_bp (n_docs * n_shards * 10000 DIV total).
    """
    pick = F.expr(
        f"array_max(transform(sequence(0, {n_shards - 1}), s -> struct("
        f"md5(concat(CAST(s AS STRING), ':', CAST({key_col} AS STRING)))"
        f" AS h, s AS shard))).shard"
    )
    per = (
        documents.select(pick.cast("long").alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = per.agg(F.sum("n_docs").alias("total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        F.expr(f"n_docs * {n_shards} * 10000 DIV total").alias("load_bp"),
    )


def zone_maps(
    events: DataFrame,
    chunk_size: int = 256,
    probe_user: int = 42,
    value_floor_cents: int = 45000,
    ts_col: str = "ts",
) -> DataFrame:
    """Zone-map (min/max data-skipping) audit over ingest-order chunks —
    the lakehouse question "if this table were laid out as N-row files,
    which files could a reader PRUNE from footer stats alone?". Chunks
    are event_id DIV chunk_size (ingest order, what a naive writer
    produces); per chunk the min/max of the three hot predicate columns
    plus, for three representative predicates, whether the zone map
    would force a scan and how many rows actually match:

      * user point-lookup  (user_id = probe_user)
      * trailing day range (day in [D0+2, D0+4], D0 = global min day)
      * hot-value filter   (cents >= value_floor_cents)

    would_scan true with n_match 0 is the false-positive cost of the
    layout — ingest order clusters time tightly (day prunes well) but
    scatters users, which is exactly the case for z-ordering
    ([[zorder_bins]]).

    All integer: value converts via floor(value*100) — floor, never
    CAST, because DuckDB CAST(double AS BIGINT) rounds half-away while
    Spark's cast truncates. Scale shape: ONE raw scan into a map-side-
    combined (chunk, day) aggregate; the chunk rollup, the global-D0
    window, and the day-range predicate all run over that tiny relation
    (chunks x days rows), so nothing after the first aggregate ever
    touches event volume, and no raw row crosses a single-partition
    window.

    Output: chunk_id, n_rows, min/max of user/day/cents, would_scan_*
    (bool x3), n_match_* (bigint x3).
    """
    from pyspark.sql import Window

    day = epoch_day(ts_col)
    cents = F.floor(F.col("value") * F.lit(100)).cast("long")
    per_day = (
        events.select(
            F.expr(f"event_id DIV {int(chunk_size)}").alias("chunk_id"),
            "user_id",
            day.alias("day"),
            cents.alias("cents"),
        )
        .groupBy("chunk_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("user_id").alias("mn_u"),
            F.max("user_id").alias("mx_u"),
            F.min("cents").alias("mn_c"),
            F.max("cents").alias("mx_c"),
            F.count_if(F.col("user_id") == probe_user).alias("m_user"),
            F.count_if(F.col("cents") >= value_floor_cents).alias("m_val"),
        )
    )
    with_d0 = per_day.withColumn(
        "_d0", F.min("day").over(Window.partitionBy())
    )
    in_range = (F.col("day") >= F.col("_d0") + 2) & (
        F.col("day") <= F.col("_d0") + 4
    )
    per = with_d0.groupBy("chunk_id").agg(
        F.sum("n").alias("n_rows"),
        F.min("mn_u").alias("min_user"),
        F.max("mx_u").alias("max_user"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
        F.min("mn_c").alias("min_cents"),
        F.max("mx_c").alias("max_cents"),
        F.sum("m_user").alias("n_match_user"),
        F.sum(F.when(in_range, F.col("n")).otherwise(F.lit(0))).alias(
            "n_match_day"
        ),
        F.sum("m_val").alias("n_match_val"),
        F.min("_d0").alias("_d0"),
    )
    return per.select(
        "chunk_id",
        "n_rows",
        "min_user",
        "max_user",
        "min_day",
        "max_day",
        "min_cents",
        "max_cents",
        (
            (F.col("min_user") <= probe_user)
            & (F.col("max_user") >= probe_user)
        ).alias("would_scan_user"),
        (
            (F.col("max_day") >= F.col("_d0") + 2)
            & (F.col("min_day") <= F.col("_d0") + 4)
        ).alias("would_scan_day"),
        (F.col("max_cents") >= value_floor_cents).alias("would_scan_val"),
        "n_match_user",
        "n_match_day",
        "n_match_val",
    )


def zorder_bins(
    events: DataFrame,
    bin_width: int = 1024,
    probe_user_lo: int = 42,
    ts_col: str = "ts",
) -> DataFrame:
    """Z-order (Morton-curve) layout audit — the companion to
    [[zone_maps]]: re-cluster the same events by bit-interleaving the
    two hot predicate dimensions (user low byte, day low byte) and run
    the SAME pruning audit over the z-value bins. Ingest order prunes
    time and scatters users; the Morton curve bounds BOTH dimensions'
    spans per bin (a 16-bit z bin of width 1024 spans <= 32 values in
    each 8-bit dim), so the user point-lookup that scanned every ingest
    chunk prunes here — the measured, not asserted, case for Delta/
    Iceberg Z-ORDER BY.

    The interleave is pure integer arithmetic, identical in both
    engines: bit b of each dim extracted as (x DIV 2^b) % 2 and placed
    at position 2b / 2b+1 — no engine bit intrinsics, no UDF. Dims fold
    to 8 bits by % 256 (deterministic, single-scan; a real writer would
    range-rank instead, which needs a global sort the audit doesn't).

    Scale shape: one raw scan into a map-side-combined (bin, d8)
    aggregate (the zone_maps discipline); the probe-day base rides a
    window over that tiny relation. Output rows <= 64 bins.

    Output: bin_id, n_rows, min_u8, max_u8, min_d8, max_d8,
    would_scan_user, would_scan_day, n_match_user, n_match_day.
    """
    from pyspark.sql import Window

    day = epoch_day(ts_col)
    dims = events.select(
        (F.col("user_id") % 256).alias("u8"), (day % 256).alias("d8")
    )
    z = F.lit(0)
    for b in range(8):
        z = (
            z
            + F.expr(f"(u8 DIV {1 << b}) % 2") * F.lit(1 << (2 * b + 1))
            + F.expr(f"(d8 DIV {1 << b}) % 2") * F.lit(1 << (2 * b))
        )
    per_d8 = (
        dims.select("u8", "d8", z.alias("_z"))
        .select("u8", "d8", F.expr(f"_z DIV {int(bin_width)}").alias("bin_id"))
        .groupBy("bin_id", "d8")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("u8").alias("mn_u"),
            F.max("u8").alias("mx_u"),
            F.count_if(F.col("u8") == probe_user_lo).alias("m_user"),
        )
    )
    with_d0 = per_d8.withColumn(
        "_d0", F.min("d8").over(Window.partitionBy())
    )
    in_range = (F.col("d8") >= F.col("_d0") + 2) & (
        F.col("d8") <= F.col("_d0") + 4
    )
    per = with_d0.groupBy("bin_id").agg(
        F.sum("n").alias("n_rows"),
        F.min("mn_u").alias("min_u8"),
        F.max("mx_u").alias("max_u8"),
        F.min("d8").alias("min_d8"),
        F.max("d8").alias("max_d8"),
        F.sum("m_user").alias("n_match_user"),
        F.sum(F.when(in_range, F.col("n")).otherwise(F.lit(0))).alias(
            "n_match_day"
        ),
        F.min("_d0").alias("_d0"),
    )
    return per.select(
        "bin_id",
        "n_rows",
        "min_u8",
        "max_u8",
        "min_d8",
        "max_d8",
        (
            (F.col("min_u8") <= probe_user_lo)
            & (F.col("max_u8") >= probe_user_lo)
        ).alias("would_scan_user"),
        (
            (F.col("max_d8") >= F.col("_d0") + 2)
            & (F.col("min_d8") <= F.col("_d0") + 4)
        ).alias("would_scan_day"),
        "n_match_user",
        "n_match_day",
    )


def merge_upsert(
    base: DataFrame, changes: DataFrame, key: str = "doc_id"
) -> DataFrame:
    """MERGE INTO semantics over a snapshot — the lakehouse mutation
    primitive (Iceberg/Delta MERGE) expressed as pure relational
    algebra: `changes` rows carry an `op` of 'insert' / 'update' /
    'delete' plus the full payload; the result is the post-merge
    snapshot. Update and delete keys ANTI-JOIN the base (one
    key-partitioned equi-join — the only shuffle proportional to the
    base), then update+insert payloads union in unchanged. One op per
    key is the caller's contract (the deterministic change generator
    in the driver guarantees it); with multiple ops per key the
    semantics would need a precedence rule this op deliberately does
    not invent.

    At 100 TB the base side of the anti-join is the whole table — the
    real-engine upgrade is partition/file pruning on the key's zone
    maps (see zone_maps), which this plan composes with because the
    anti-join pushes the key set down to the scan.

    Output: the merged snapshot (same schema as base, minus nothing —
    aggregate downstream; the driver query rolls it up per source).
    """
    touched = (
        changes.where(F.col("op").isin("update", "delete"))
        .select(key)
        .distinct()
    )
    survivors = base.join(touched, key, "left_anti")
    upserts = changes.where(F.col("op") != "delete").drop("op")
    return survivors.unionByName(upserts)


def source_skyline(documents: DataFrame) -> DataFrame:
    """2-D Pareto frontier (skyline) of sources on (volume, quality) —
    the corpus-triage view: a source is ON the frontier when no other
    source has at least as many docs AND strictly longer average
    documents (or strictly more docs and at-least-as-long ones).
    Skylines are a classic "the engine lacks this operator" case; the
    all-pairs dominance join is rewritten as two BOUNDED-DOMAIN max
    lookups:

      max_y_gt(x)  = best quality among sources with MORE docs
      max_y_eq(x)  = best quality at the SAME doc count

    frontier  ⟺  y = max_y_eq(x)  AND  y > coalesce(max_y_gt(x), -1)

    (equal (x, y) points don't strictly dominate each other — both
    stay). Both lookups are theta-joins of the DISTINCT-x relation
    against the per-source relation — bounded by the source domain,
    never a point-by-point self-join; quality is integer
    (sum_chars DIV n_docs).

    Output: source, n_docs, avg_chars, on_frontier (0/1).
    """
    xs = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
        ).alias("_chars"),
    ).select(
        "source",
        "n_docs",
        F.expr("_chars DIV n_docs").alias("avg_chars"),
    )
    xd = xs.select(F.col("n_docs").alias("_x")).distinct()
    gt = (
        xd.join(xs, xs["n_docs"] > F.col("_x"))
        .groupBy("_x")
        .agg(F.max("avg_chars").alias("_max_y_gt"))
    )
    eq = xs.groupBy(F.col("n_docs").alias("_x")).agg(
        F.max("avg_chars").alias("_max_y_eq")
    )
    return (
        xs.join(F.broadcast(eq), xs["n_docs"] == eq["_x"])
        .drop("_x")
        .join(F.broadcast(gt), xs["n_docs"] == gt["_x"], "left")
        .select(
            "source",
            "n_docs",
            "avg_chars",
            (
                (F.col("avg_chars") == F.col("_max_y_eq"))
                & (
                    F.col("avg_chars")
                    > F.coalesce(F.col("_max_y_gt"), F.lit(-1))
                )
            )
            .cast("long")
            .alias("on_frontier"),
        )
    )


def snapshot_diff(
    base: DataFrame, new: DataFrame, key: str = "doc_id"
) -> DataFrame:
    """Change-data-feed between two snapshots — MERGE's inverse: given
    the before and after tables, recover per-source insert / delete /
    update counts. One FULL OUTER equi-join on the key; rows are
    classified by presence and by md5(text) inequality (content hash,
    not payload compare, so wide text never re-shuffles twice).
    Applying merge_upsert's change set and diffing MUST recover
    exactly that change set's counts — the pytest closes the loop.

    Output: source, n_inserts, n_deletes, n_updates (source taken
    from whichever side exists; an update's source is the NEW side's).
    """
    b = base.select(
        F.col(key).alias("_k"),
        F.col("source").alias("_bsrc"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_bh"),
    )
    n = new.select(
        F.col(key).alias("_k"),
        F.col("source").alias("_nsrc"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_nh"),
    )
    j = b.join(n, "_k", "full")
    return (
        j.select(
            F.coalesce("_nsrc", "_bsrc").alias("source"),
            F.col("_bh").isNull().cast("long").alias("_ins"),
            F.col("_nh").isNull().cast("long").alias("_del"),
            (
                F.col("_bh").isNotNull()
                & F.col("_nh").isNotNull()
                & (F.col("_bh") != F.col("_nh"))
            )
            .cast("long")
            .alias("_upd"),
        )
        .groupBy("source")
        .agg(
            F.sum("_ins").alias("n_inserts"),
            F.sum("_del").alias("n_deletes"),
            F.sum("_upd").alias("n_updates"),
        )
        .where(
            (F.col("n_inserts") > 0)
            | (F.col("n_deletes") > 0)
            | (F.col("n_updates") > 0)
        )
    )
