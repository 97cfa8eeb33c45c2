"""Text analysis over the documents table: token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All integer/string outputs (no floats) so results are value-hash-stable
against an independent SQL engine. Everything is built-in-function Catalyst
expressions — no Python in the hot path; at 100 TB these run as a single
whole-stage-codegen'd scan with full column pruning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..aggregate import topk
from ..session import materialize
from .dedup import WS_RE, _fan_out, ascii_lower, lower_tokens_col

#: small per-language marker-word sets for the n-gram/stopword language
#: heuristic (shared with the SQL oracle generator).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "que", "de", "los"),
}

#: stopwords for the quality heuristic (english-ish, fixed set).
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)

TOKEN_SPLIT = WS_RE  # explicit class: Java \s and RE2 \s disagree on \x0B
PUNCT_CLASS = "[.,;:!?'\"()\\[\\]{}-]"


def _tokens(col):
    # split on whitespace; trim first so leading/trailing whitespace doesn't
    # produce empty tokens (SQL twin does the same)
    return F.split(F.trim(col), TOKEN_SPLIT)


def token_counts(documents: DataFrame) -> DataFrame:
    """doc_id, n_tokens (whitespace), n_chars, n_pieces (BPE-ish: word/digit
    runs kept whole + each other non-space char its own piece — expressed as
    two regexp_extract_all counts so RE2-based engines compute identically)."""
    text = F.col("text")
    toks = _tokens(text)
    n_word_runs = F.array_size(F.regexp_extract_all(text, F.lit("[A-Za-z0-9_]+"), 0))
    n_sym_chars = F.array_size(
        F.regexp_extract_all(text, F.lit("[^A-Za-z0-9_ \\t\\n\\r\\f\\x0B]"), 0)
    )
    return documents.select(
        "doc_id",
        F.when(F.trim(text) == "", F.lit(0))
        .otherwise(F.array_size(toks))
        .cast("long")
        .alias("n_tokens"),
        F.length(text).cast("long").alias("n_chars"),
        (n_word_runs + n_sym_chars).cast("long").alias("n_pieces"),
    )


def quality_stats(documents: DataFrame) -> DataFrame:
    """Integer quality-signal counts per doc: tokens, stopword hits,
    punctuation chars, mean token length ×100 (int)."""
    text = F.col("text")
    toks = F.col("_toks")  # materialized once — see dedup.shingles_over
    n_tokens = F.when(F.trim(text) == "", F.lit(0)).otherwise(F.array_size(toks))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.array_size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    sum_tok_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    # integer division (div) keeps the value exact and engine-portable
    pre = documents.select(
        "doc_id", "text", _tokens(ascii_lower(text)).alias("_toks")
    ).select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.when(n_tokens > 0, n_stop).otherwise(F.lit(0)).cast("long").alias("n_stopwords"),
        n_punct.cast("long").alias("n_punct"),
        sum_tok_len.cast("long").alias("_sum_tok_len"),
    )
    return pre.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        "n_punct",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (_sum_tok_len * 100) div n_tokens ELSE 0 END"
        ).alias("mean_token_len_x100"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language heuristic: per-language hit counts + argmax
    (ties broken by language code order, deterministic)."""
    toks = F.col("_toks")  # materialized once — see dedup.shingles_over
    cols = [F.col("doc_id")]
    hit_cols = []
    for lang_code, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(w) for w in markers])
        hits = F.array_size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        hits = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(hits)
        cols.append(hits.cast("long").alias(f"hits_{lang_code}"))
        hit_cols.append((lang_code, f"hits_{lang_code}"))
    out = documents.select(
        "doc_id", "text", _tokens(ascii_lower(F.col("text"))).alias("_toks")
    ).select(*cols)
    return out.withColumn("lang_guess", _argmax_expr(hit_cols))


def _argmax_expr(hit_cols):
    """greatest-hits language; ties -> lexicographically first language."""
    best = None
    for lang_code, c in sorted(hit_cols):
        cand = F.struct(F.col(c).alias("h"), F.lit(lang_code).alias("lang"))
        best = cand if best is None else F.when(F.col(c) > best["h"], cand).otherwise(best)
    return F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID audit: confusion matrix of the marker-word classifier
    against the corpus's labeled `lang` column — the eval every
    heuristic filter needs before it gates a training mix (a silently
    degraded lang filter reshapes the corpus without failing any job).

    One lang_id pass, one equi-join back on doc_id, one (true, guess)
    map-side-combined count; per-true-language row shares in integer
    basis points via a broadcast totals join. Matrix size is bounded by
    |langs|^2 regardless of corpus size.

    Output: lang, lang_guess, n, share_bp.
    """
    pred = lang_id(documents).select("doc_id", "lang_guess")
    truth = documents.select("doc_id", "lang")
    cm = (
        truth.join(pred, "doc_id")
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cm.groupBy("lang").agg(F.sum("n").alias("n_true"))
    return cm.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_guess",
        "n",
        F.expr("n * 10000 DIV n_true").alias("share_bp"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Stable document fingerprint: md5 of whitespace-normalized lowercase
    text (plus a 64-bit rolling-hash-equivalent prefix as bigint)."""
    norm = F.regexp_replace(F.trim(ascii_lower(F.col("text"))), WS_RE, " ")
    fp = F.md5(norm)
    return documents.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp60"),
    )


def vocab_topk(documents: DataFrame, k: int = 100) -> DataFrame:
    """Corpus-wide top-k token vocabulary with document frequencies — the
    seed statistics for tokenizer/vocab construction. One explode + one
    aggregate (map-side combine collapses each partition's token counts
    before the shuffle); the final top-k is a TakeOrderedAndProject over
    the aggregated token table, ordered (count desc, token asc) for a
    deterministic cross-engine tie-break."""
    toks = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(lower_tokens_col()).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    order = [F.col("n_occurrences").desc(), F.col("token").asc()]
    return topk(counts, k, order).select(
        "rank", "token", "n_occurrences", "n_docs"
    )


def bpe_pair_counts(documents: DataFrame, k: int = 50) -> DataFrame:
    """Top-k adjacent token pairs by corpus frequency — the statistic the
    first BPE merge step maximizes. The pair stream is built with a
    zip-shift over the token array (no self-join): transform over indices
    1..n-1 pairs token[i] with token[i+1], then explode + count."""
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
    exploded = (
        _fan_out(documents.select("doc_id", "text"))
        .select(lower_tokens_col().alias("_w"))
        .select(F.explode(pairs).alias("pair"))
    )
    counts = exploded.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    order = [F.col("n_occurrences").desc(), F.col("pair").asc()]
    return topk(counts, k, order).select("rank", "pair", "n_occurrences")


def winnow_fingerprints(
    documents: DataFrame, k: int = 8, window: int = 4
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer et al.,
    the MOSS scheme): hash every character k-gram of the normalized text,
    slide a window of `window` consecutive hashes, keep each window's
    minimum; the distinct minima are the document's fingerprint set —
    robust to insertions/reordering in a way a whole-document hash is not.

    Spark shape: explode positions (one row per k-gram), per-doc ordered
    window min over a bounded frame — partitioned by doc_id, so a doc's
    gram stream never crosses executors. Docs shorter than k+window-1
    chars have no complete window and are excluded (both engines agree).

    Output: doc_id, n_grams, n_fingerprints (distinct minima), min_fp.
    """
    norm = F.regexp_replace(F.trim(ascii_lower(F.col("text"))), WS_RE, " ")
    base = (
        _fan_out(documents.select("doc_id", "text"))
        .select("doc_id", norm.alias("t"))
        .where(F.length("t") >= k)
    )
    grams = base.select(
        "doc_id",
        (F.length("t") - (k - 1)).alias("p"),
        F.explode(F.sequence(F.lit(1), F.length("t") - (k - 1))).alias("pos"),
        "t",
    ).select(
        "doc_id", "p", "pos", F.md5(F.expr(f"substr(t, pos, {k})")).alias("h")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    winnowed = (
        grams.withColumn("wmin", F.min("h").over(w))
        .where(F.col("pos") <= F.col("p") - (window - 1))
    )
    return winnowed.groupBy("doc_id").agg(
        F.max("p").alias("n_grams"),
        F.countDistinct("wmin").alias("n_fingerprints"),
        F.min("wmin").alias("min_fp"),
    )


#: perplexity-bucket thresholds in integer micro-nats of average bigram
#: log-prob (CCNet-style head/middle/tail quality split). A doc lands in
#: 'head' when avg lp >= -HEAD, 'middle' when >= -MIDDLE, else 'tail'.
PPL_HEAD_MICRO = 1_000_000  # avg >= -1.0 nats
PPL_MID_MICRO = 2_000_000  # avg >= -2.0 nats


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style quality bucketing: assign every document to a
    head/middle/tail bucket by its average bigram log-probability under
    the corpus's own LM (bigram_logprob), then report per-bucket volumes —
    the statistic a pretraining pipeline uses to decide sampling weights.

    The bucket decision is a pure INTEGER inequality —
    sum_lp_micro >= -threshold_micro * n_bigrams — so no division, no
    floats, and the cross-engine hash is exact. One extra aggregate on top
    of bigram_logprob's plan; the groupBy key has exactly 3 values, which
    map-side combine collapses before the (tiny) shuffle.

    Output: bucket, n_docs, sum_bigrams.
    """
    lp = bigram_logprob(documents)
    bucket = (
        F.when(
            F.col("sum_lp_micro") >= F.lit(-PPL_HEAD_MICRO) * F.col("n_bigrams"),
            F.lit("head"),
        )
        .when(
            F.col("sum_lp_micro") >= F.lit(-PPL_MID_MICRO) * F.col("n_bigrams"),
            F.lit("middle"),
        )
        .otherwise(F.lit("tail"))
    )
    return (
        lp.select(bucket.alias("bucket"), "n_bigrams")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("sum_bigrams"),
        )
    )


def length_quantiles(
    documents: DataFrame, probs: tuple[int, ...] = (10, 50, 90)
) -> DataFrame:
    """EXACT per-language document-length quantiles — the distribution
    report a curation pipeline reads before setting length gates.

    Scale shape: never a per-document window. Phase 1 collapses the
    corpus to per-(lang, length) counts (map-side combine; output rows
    bounded by the DISTINCT length domain, not the doc count). Phase 2's
    running-sum window partitions by lang over that bounded domain —
    thousands of rows per partition at any corpus size — and a broadcast
    join attaches per-lang totals. Quantile p (discrete, lower
    interpolation: the value at 0-based sorted position
    floor((n-1)*p/100)) is then MIN(length WHERE cum >= target): pure
    integer arithmetic, so the cross-engine hash is exact.

    Output: lang, n_docs, p{p}_len per requested percent.
    """
    counts = (
        documents.where(F.col("text").isNotNull())
        .groupBy("lang", F.length("text").alias("length"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cum = counts.withColumn(
        "cum",
        F.sum("n").over(Window.partitionBy("lang").orderBy("length")),
    )
    totals = counts.groupBy("lang").agg(F.sum("n").alias("n_docs"))
    joined = cum.join(F.broadcast(totals), "lang")
    aggs = [
        F.min(
            F.when(
                # integer `div`, never `/`: float division of huge counts
                # would round where the rank arithmetic must be exact
                F.col("cum") >= F.expr(f"1 + (n_docs - 1) * {int(p)} div 100"),
                F.col("length"),
            )
        )
        .cast("long")
        .alias(f"p{p}_len")
        for p in probs
    ]
    return joined.groupBy("lang", "n_docs").agg(*aggs)


def tfidf_topk(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword-extraction /
    relevance-weighting statistic over the corpus's own document
    frequencies: score(d, t) = tf(d, t) * ln((N + 1) / (df(t) + 1)).

    Scale shape: tf and df are both groupBy aggregates (map-side combine;
    df is derived from the tf frame, so the token stream is exploded
    once); N attaches as a broadcast single-row cross join (no driver
    count, one job); the final rank window partitions by doc_id — bounded
    by per-document vocabulary, never by corpus-wide token skew.

    Numeric stability: idf is quantized ONCE per token to integer
    micro-nats; scores are integer products — order-free exact across
    engines (same trick as bigram_logprob).

    Output: doc_id, rank, token, tf, score_micro.
    """
    toks = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(lower_tokens_col()).alias("token")
    ).where(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tbl, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            (
                F.col("tf")
                * F.floor(
                    F.log(
                        (F.col("n_docs") + F.lit(1)).cast("double")
                        / (F.col("df") + F.lit(1)).cast("double")
                    )
                    * F.lit(1000000.0)
                ).cast("long")
            ).alias("score_micro"),
        )
    )
    order = [F.col("score_micro").desc(), F.col("token").asc()]
    return topk(scored, k, order, by=["doc_id"]).select(
        "doc_id", "rank", "token", "tf", "score_micro"
    )


# PII patterns shared with the SQL oracle generator. Restricted to syntax
# that Java regex (Spark) and RE2 (DuckDB) interpret identically: character
# classes, bounded repetition, \b word boundaries, alternation — no
# lookarounds, no backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"(\+\d{7,15}|\d{3}[-.]\d{3}[-.]\d{4})"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """PII detection + redaction — the scrub pass a web-scale training
    pipeline runs before anything ships to a tokenizer: emails, IPv4
    addresses, and phone numbers are counted and replaced with typed
    placeholders.

    Staged deterministically (emails first, then IPs, then phones), each
    count taken on the PREVIOUS stage's output, so overlapping matches
    resolve identically in any engine running the same stages. Pure
    regexp_extract_all/regexp_replace — single codegen'd scan, no Python.

    Output: doc_id, n_emails, n_ipv4, n_phones, clean_text.
    """
    t0 = F.col("text")
    n_emails = F.array_size(F.regexp_extract_all(t0, F.lit(PII_EMAIL), 0))
    t1 = F.regexp_replace(t0, PII_EMAIL, "[EMAIL]")
    staged = documents.select(
        "doc_id", n_emails.cast("long").alias("n_emails"), t1.alias("t1")
    )
    n_ipv4 = F.array_size(F.regexp_extract_all(F.col("t1"), F.lit(PII_IPV4), 0))
    t2 = F.regexp_replace(F.col("t1"), PII_IPV4, "[IP]")
    staged = staged.select(
        "doc_id", "n_emails", n_ipv4.cast("long").alias("n_ipv4"), t2.alias("t2")
    )
    n_phones = F.array_size(
        F.regexp_extract_all(F.col("t2"), F.lit(PII_PHONE), 0)
    )
    t3 = F.regexp_replace(F.col("t2"), PII_PHONE, "[PHONE]")
    return staged.select(
        "doc_id",
        "n_emails",
        "n_ipv4",
        n_phones.cast("long").alias("n_phones"),
        t3.alias("clean_text"),
    )


#: feature-hashing classifier geometry (fastText-style linear model over
#: hashed bag-of-words; Weinberger et al. 2009 feature hashing). Shared with
#: the SQL oracle generator — change together.
CLS_BUCKETS = 512
CLS_W_MOD = 2001  # weights span [-1000, 1000] after the -1000 shift
_CLS_MULT = 2654435761  # Knuth multiplicative hash (same family as generate)


def classifier_weights(spark) -> DataFrame:
    """Deterministic per-bucket integer weight table standing in for a
    trained linear model: weight(b) = ((b * Knuth) mod 2^32) mod 2001 -
    1000. The table is CLS_BUCKETS rows — at any corpus scale it rides the
    broadcast side of the scoring join, exactly where a real trained
    weight vector would sit."""
    b = F.col("id")
    w = (b * _CLS_MULT) % F.lit(2**32) % F.lit(CLS_W_MOD) - F.lit(1000)
    return spark.range(CLS_BUCKETS).select(
        b.cast("long").alias("bucket"), w.cast("long").alias("weight")
    )


def quality_classifier(documents: DataFrame, weights: DataFrame) -> DataFrame:
    """Hashed bag-of-words linear scorer — the model-based quality filter
    of a pretraining pipeline (fastText-style), with feature hashing so
    the model is a fixed-width vector regardless of vocabulary size.

    Token -> bucket via the first 16 bits of md5 (the engine's portable
    hash idiom, identical in the SQL twin); score(doc) = sum of the
    bucket weights; label = 'keep' iff score >= 0.

    Scale shape: one explode of the token stream, integer bucket in the
    scan stage, BROADCAST hash join against the CLS_BUCKETS-row weight
    table (no shuffle of the stream by bucket), then a doc_id groupBy
    whose map-side combine collapses each partition's per-doc sums before
    the only shuffle. Integer weights => order-free exact sums.

    Output: doc_id, n_scored, score, label. Docs with no tokens have no
    rows (both engines agree).
    """
    toks = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(lower_tokens_col()).alias("token")
    ).where(F.col("token") != "")
    bucketed = toks.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("token")), 1, 4), 16, 10).cast("long")
            % CLS_BUCKETS
        ).alias("bucket"),
    )
    scored = bucketed.join(F.broadcast(weights), "bucket")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum("weight").alias("score"),
    ).select(
        "doc_id",
        "n_scored",
        "score",
        F.when(F.col("score") >= 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


def posting_lists(
    documents: DataFrame, k: int = 3, min_df: int = 2
) -> DataFrame:
    """Inverted-index construction: for every term with document
    frequency >= min_df, the top-k postings (documents) by term
    frequency — the seed structure of a search/retrieval index over the
    corpus.

    Scale shape: tf and df are groupBy aggregates (map-side combine).
    The per-term top-k must not rank a term's whole posting list in one
    task: natural-language df is Zipfian, so "the" has a row per
    document (10^12 rows at target scale). `topk` by token runs on tf
    itself and leaves the cut to Spark's window group limit: each map
    task keeps k rows per term before the shuffle, so "the"'s reducer
    gets at most k rows per map task. The df join comes after the cut,
    on <= k rows per term (joined first, it would itself shuffle every
    posting by token). The result is exactly the naive window's (the
    oracle runs the naive form).

    Output: token, df, rank, doc_id, tf.
    """
    toks = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(lower_tokens_col()).alias("token")
    ).where(F.col("token") != "")
    tf = toks.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") >= min_df
    )
    order = [F.col("tf").desc(), F.col("doc_id").asc()]
    return (
        topk(tf, k, order, by=["token"])
        .join(df_tbl, "token")
        .select("token", "df", "rank", "doc_id", "tf")
    )


def vocab_js_drift(
    documents: DataFrame, top_k: int = 50
) -> DataFrame:
    """Vocabulary drift between the train split and heldout (val+test):
    per-language Jensen-Shannon divergence of the two unigram token
    distributions — the monitor that flags when the eval slice stops
    speaking the training corpus's language. The distribution support is
    the top_k tokens by COMBINED count (tie-break token asc) plus one
    OOV lump cell, so the divergence is over a bounded K+1-cell support
    no matter the vocabulary size.

    Integer recipe (the drift_psi discipline): Laplace add-one counts,
    parts-per-million by integer DIV floored at 1, and each ln of an
    exact-integer ratio floored ONCE to micro-nats, summed as

      js2 = sum_cells pa*ln(2*pa/(pa+pb)) + pb*ln(2*pb/(pa+pb))

    (= 2*JS in ppm x micro-nats; order-free, bit-identical across
    engines). Split membership is split_of_col(doc_id) — content-free,
    the corpus's single split definition.

    Scale shape: one explode into a (lang, token) map-side-combined
    conditional-count aggregate; the per-lang top-k is `topk` by lang
    (its map-side group limit keeps a whole language's vocabulary from
    reaching one task); totals and the OOV
    cell derive from vocab-bounded aggregates; the JS sum is per-lang
    over K+1 rows.

    Output: lang, n_train_toks, n_held_toks, js2_sum (BIGINT).
    """
    from .corpus import split_of_col

    toks = (
        _fan_out(documents.select("doc_id", "lang", "text"))
        .select(
            "lang",
            (split_of_col(F.col("doc_id")) == "train").alias("_tr"),
            F.explode(lower_tokens_col()).alias("token"),
        )
        .where(F.col("token") != "")
    )
    cnt = toks.groupBy("lang", "token").agg(
        F.count_if(F.col("_tr")).alias("ca"),
        F.count_if(~F.col("_tr")).alias("cb"),
    )
    order = [(F.col("ca") + F.col("cb")).desc(), F.col("token").asc()]
    kept = topk(cnt, top_k, order, by=["lang"]).select("lang", "ca", "cb")
    tot = cnt.groupBy("lang").agg(
        F.sum("ca").alias("sa"), F.sum("cb").alias("sb")
    )
    ksum = kept.groupBy("lang").agg(
        F.sum("ca").alias("ka"), F.sum("cb").alias("kb")
    )
    oov = tot.join(ksum, "lang").select(
        "lang",
        (F.col("sa") - F.col("ka")).alias("ca"),
        (F.col("sb") - F.col("kb")).alias("cb"),
    )
    cells = kept.unionByName(oov)
    cell_tot = cells.groupBy("lang").agg(
        F.sum(F.col("ca") + 1).alias("ta"),
        F.sum(F.col("cb") + 1).alias("tb"),
        F.sum("ca").alias("n_train_toks"),
        F.sum("cb").alias("n_held_toks"),
    )
    flnu = lambda num, den: F.floor(  # noqa: E731 — shared ln-floor idiom
        F.log(num.cast("double") / den.cast("double")) * F.lit(1000000.0)
    ).cast("long")
    terms = (
        cells.join(F.broadcast(cell_tot), "lang")
        .withColumn("pa", F.expr("greatest(1, (ca + 1) * 1000000 DIV ta)"))
        .withColumn("pb", F.expr("greatest(1, (cb + 1) * 1000000 DIV tb)"))
        .withColumn(
            "_t",
            F.col("pa") * flnu(2 * F.col("pa"), F.col("pa") + F.col("pb"))
            + F.col("pb") * flnu(2 * F.col("pb"), F.col("pa") + F.col("pb")),
        )
    )
    return terms.groupBy("lang").agg(
        F.max("n_train_toks").alias("n_train_toks"),
        F.max("n_held_toks").alias("n_held_toks"),
        F.sum("_t").alias("js2_sum"),
    )


def phrase_search(
    documents: DataFrame, phrase: tuple[str, ...] = ("table", "hash")
) -> DataFrame:
    """Exact-phrase retrieval over positional postings — the operation a
    quoted query runs against an inverted index. An m-term phrase
    matches at start position p when token[p+i] == phrase[i] for all i;
    overlapping occurrences each count.

    Scale shape: postings are posexplode'd ONCE and immediately filtered
    to the phrase's terms (Catalyst InSet in the scan stage — the corpus
    blows up to positions only for matching tokens, a tiny fraction of
    total postings). Each phrase term i projects (doc_id, pos - i) and
    the m relations meet in (m-1) EQUI-joins on (doc_id, start) — never
    a positional window or per-doc sort, so a hot document costs no more
    than its share of postings. Aggregation to per-doc match counts is
    one map-side-combined groupBy.

    Output: doc_id, n_matches, first_pos.
    """
    if len(phrase) < 2:
        raise ValueError("phrase needs at least 2 terms")
    words = documents.select("doc_id", lower_tokens_col().alias("_w"))
    posts = (
        words.select(
            "doc_id", F.posexplode(F.col("_w")).alias("pos", "token")
        )
        .where(F.col("token").isin(*sorted(set(phrase))))
    )
    cand = None
    for i, term in enumerate(phrase):
        leg = posts.where(F.col("token") == term).select(
            "doc_id", (F.col("pos") - i).cast("long").alias("start")
        )
        cand = leg if cand is None else cand.join(leg, ["doc_id", "start"])
    return cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("start").alias("first_pos"),
    )


def pmi_collocations(
    documents: DataFrame, k: int = 50, min_count: int = 5
) -> DataFrame:
    """Top-k adjacent-token collocations by pointwise mutual information
    — the statistic that separates true multi-word expressions from
    merely frequent pairs (Church & Hanks 1990):

        pmi = ln( p(w1,w2) / (p(w1) p(w2)) )
            = ln c_bigram + 2 ln N_uni - ln N_bigram - ln c_w1 - ln c_w2

    quantized ONCE per pair to integer micro-nats (floor), so the
    ranking and the hash are cross-engine exact — the bigram_logprob /
    tfidf quantization trick.

    Scale shape: unigram and bigram counts are groupBy aggregates over
    the same zip-shift pair stream bigram_logprob uses (map-side
    combine absorbs Zipf skew); the two corpus totals ride broadcast
    single-row cross joins; the min_count gate bounds the scored set
    BEFORE the unigram joins; the final top-k is a
    TakeOrderedAndProject, never a global sort.

    Output: rank, w1, w2, c_bigram, pmi_micro.
    """
    toks = F.col("_w")  # materialized below — see dedup.shingles_over
    pairs = F.when(
        F.array_size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.array_size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    arr = _fan_out(documents.select("doc_id", "text")).select(
        lower_tokens_col().alias("_w")
    )
    uni = arr.select(F.explode(toks).alias("token")).where(F.col("token") != "")
    bg = arr.select(F.explode(pairs).alias("bg")).select("bg.w1", "bg.w2")

    c_uni = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c_tok"))
    n_uni = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    c_bg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bigram"))
    n_bg = bg.agg(F.count(F.lit(1)).alias("n_bg"))

    scored = (
        c_bg.where(F.col("c_bigram") >= min_count)
        .join(c_uni.select(F.col("token").alias("w1"), F.col("c_tok").alias("c_w1")), "w1")
        .join(c_uni.select(F.col("token").alias("w2"), F.col("c_tok").alias("c_w2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bg))
        .select(
            "w1",
            "w2",
            "c_bigram",
            F.floor(
                (
                    F.log(F.col("c_bigram").cast("double"))
                    + F.lit(2.0) * F.log(F.col("n_uni").cast("double"))
                    - F.log(F.col("n_bg").cast("double"))
                    - F.log(F.col("c_w1").cast("double"))
                    - F.log(F.col("c_w2").cast("double"))
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    order = [F.col("pmi_micro").desc(), F.col("w1").asc(), F.col("w2").asc()]
    return topk(scored, k, order).select(
        "rank", "w1", "w2", "c_bigram", "pmi_micro"
    )


def continuation_counts(documents: DataFrame, min_count: int = 5) -> DataFrame:
    """Kneser-Ney continuation statistics per token: how many DISTINCT
    left contexts precede it (the KN lower-order numerator N1+(. w)) and
    how many distinct right contexts follow it — the counts that
    separate genuinely productive words from words frequent only inside
    one fixed phrase ("Francisco" is frequent but has one predecessor).

    Scale shape: both type counts are countDistinct aggregates over the
    zip-shift bigram stream — Spark plans them as two-phase partial
    distincts, absorbing Zipf skew map-side; the min_count gate bounds
    the output to the model vocabulary.

    Output: token, c_unigram, n_prec_types, n_succ_types.
    """
    toks = F.col("_w")  # materialized below — see dedup.shingles_over
    pairs = F.when(
        F.array_size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.array_size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    arr = _fan_out(documents.select("doc_id", "text")).select(
        lower_tokens_col().alias("_w")
    )
    uni = arr.select(F.explode(toks).alias("token")).where(F.col("token") != "")
    bg = arr.select(F.explode(pairs).alias("bg")).select("bg.w1", "bg.w2")

    c_uni = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c_unigram")).where(
        F.col("c_unigram") >= min_count
    )
    prec = bg.groupBy("w2").agg(F.countDistinct("w1").alias("n_prec_types")).select(
        F.col("w2").alias("token"), "n_prec_types"
    )
    succ = bg.groupBy("w1").agg(F.countDistinct("w2").alias("n_succ_types")).select(
        F.col("w1").alias("token"), "n_succ_types"
    )
    return (
        c_uni.join(prec, "token", "left")
        .join(succ, "token", "left")
        .select(
            "token",
            "c_unigram",
            F.coalesce("n_prec_types", F.lit(0)).cast("long").alias("n_prec_types"),
            F.coalesce("n_succ_types", F.lit(0)).cast("long").alias("n_succ_types"),
        )
    )


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document bigram log-probability under the corpus's own bigram
    MLE model — the classic cheap LM-quality signal (low = unusual token
    sequences; boilerplate scores high).

    sum_lp_micro = sum over bigrams (w1,w2) of
        floor( 1e6 * ln( c(w1 w2) / c(w1 ·) ) )
    where c(w1 ·) counts w1 occurrences in PREFIX position; the average
    log-prob is sum_lp_micro / (1e6 * n_bigrams) for downstream consumers.

    Scale shape: natural-language bigram keys are Zipfian, so corpus counts
    must NOT be window counts (`Window.partitionBy("w1")` funnels every
    "the …" row to one task). Instead the counts are groupBy AGGREGATES —
    map-side partial aggregation absorbs the skew before the shuffle — and
    the model table joins back onto the bigram stream (an equi-join AQE
    broadcasts when the model is small relative to the stream). Spark
    reuses the (w1, w2) exchange between the bigram-count aggregate and the
    join, so the extra derivations cost partial scans, not extra shuffles
    of the full stream.

    Numeric stability: each distinct bigram's log-prob is quantized ONCE to
    integer micro-nats and the per-doc statistic is an integer SUM —
    order-free exact across partitionings and engines, unlike a float
    avg() whose summation order varies (the quantize-to-int trick the
    LSH/IVF bucket oracles already rely on).

    Output: doc_id, n_bigrams, sum_lp_micro (all integers). Docs with <2
    tokens have no bigrams and are excluded.
    """
    toks = F.col("_w")  # materialized below — see dedup.shingles_over
    pairs = F.when(
        F.array_size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.array_size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    stream = (
        _fan_out(documents.select("doc_id", "text"))
        .select("doc_id", lower_tokens_col().alias("_w"))
        .select("doc_id", F.explode(pairs).alias("bg"))
        .select("doc_id", "bg.w1", "bg.w2")
    )

    # ONE aggregation of the exploded stream to the (doc_id, w1, w2)
    # grain; everything else derives from it. The per_doc subtree appears
    # twice in the plan (model derivation + scoring) with an identical
    # exchange, so ReuseExchange materializes the tokenize/explode pass
    # ONCE — the original three-scan shape re-ran the full split/explode
    # chain per derived table. c_prefix(w1) — w1's count in PREFIX
    # position — is exactly sum over w2 of c_bigram(w1, w2) (every prefix
    # occurrence forms one bigram), so it folds out of the tiny bg_counts
    # table instead of a third pass over the corpus stream.
    per_doc = stream.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    bg_counts = per_doc.groupBy("w1", "w2").agg(F.sum("c").alias("c_bigram"))
    pf_counts = bg_counts.groupBy("w1").agg(
        F.sum("c_bigram").alias("c_prefix")
    )
    model = bg_counts.join(pf_counts, "w1").select(
        "w1",
        "w2",
        F.floor(
            (
                F.log(F.col("c_bigram").cast("double"))
                - F.log(F.col("c_prefix").cast("double"))
            )
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    scored = per_doc.join(model, ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.sum(F.col("c") * F.col("lp_micro")).alias("sum_lp_micro"),
    )


#: Gopher-rule stopword probe (Rae et al. 2021 "Scaling Language Models" —
#: the document must contain >= GOPHER_MIN_STOP of these to pass R_STOP).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_STOP = 2

#: rule bit positions (flags bitmask; set bit = rule PASSED)
GOPHER_BITS = (
    "word_count",      # 0: GOPHER_MIN_WORDS <= n <= GOPHER_MAX_WORDS
    "mean_word_len",   # 1: 3 <= mean <= 10 (integer cross-multiplied)
    "symbol_ratio",    # 2: ('#' chars + '...' runs) <= 10% of words
    "bullet_lines",    # 3: bullet-started lines <= 90% of lines
    "ellipsis_lines",  # 4: '...'-ended lines <= 30% of lines
    "alpha_words",     # 5: >= 80% of words contain [a-z]
    "stopwords",       # 6: >= GOPHER_MIN_STOP distinct probe stopwords
)


def gopher_quality_flags(
    documents: DataFrame,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
    min_stop: int = GOPHER_MIN_STOP,
) -> DataFrame:
    """Gopher-rule document quality filter (Rae et al. 2021, Appendix A1.1),
    re-expressed with INTEGER-EXACT predicates: every threshold is a
    cross-multiplied integer inequality (3 <= sum/n <= 10 becomes
    3n <= sum AND sum <= 10n), so the pass/fail bit is identical on any
    engine — no float ratio ever materializes.

    Output per doc: the count evidence (n_words, n_lines, sum_word_len,
    n_symbols, n_bullet_lines, n_ellipsis_lines, n_alpha_words,
    n_stop_types), `flags` (bitmask, set bit = rule passed, bit order
    GOPHER_BITS) and `pass` (all rules).

    Scale shape: one scan, per-doc codegen'd expressions only — zero
    shuffles, embarrassingly parallel; the filter this feeds
    (clean_corpus/curate) stays a pushed-down predicate.
    """
    text = F.col("text")
    toks = F.col("_toks")  # materialized once — see dedup.shingles_over
    lines = F.col("_lines")
    n_words = F.when(F.trim(text) == "", F.lit(0)).otherwise(F.array_size(toks))
    sum_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    sum_len = F.when(F.trim(text) == "", F.lit(0)).otherwise(sum_len)
    n_hash = F.length(text) - F.length(F.expr("replace(text, '#', '')"))
    # `div`, not `/`: Column `/` is float division; the count must stay int
    n_ell = F.expr("(length(text) - length(replace(text, '...', ''))) div 3")
    n_lines = F.array_size(lines)
    n_bullet = F.array_size(
        F.filter(lines, lambda l: l.startswith("- ") | l.startswith("* "))
    )
    n_ell_lines = F.array_size(F.filter(lines, lambda l: l.endswith("...")))
    n_alpha = F.array_size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stop_arr = F.array(*[F.lit(w) for w in stopwords])
    n_stop_types = F.array_size(F.array_intersect(toks, stop_arr))

    pre = documents.select(
        "doc_id",
        "text",
        _tokens(ascii_lower(text)).alias("_toks"),
        F.split(text, "\n", -1).alias("_lines"),
    ).select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_lines.cast("long").alias("n_lines"),
        sum_len.cast("long").alias("sum_word_len"),
        (n_hash + n_ell).cast("long").alias("n_symbols"),
        n_bullet.cast("long").alias("n_bullet_lines"),
        n_ell_lines.cast("long").alias("n_ellipsis_lines"),
        n_alpha.cast("long").alias("n_alpha_words"),
        n_stop_types.cast("long").alias("n_stop_types"),
    )
    rules = [
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS),
        (F.col("n_words") > 0)
        & (F.lit(3) * F.col("n_words") <= F.col("sum_word_len"))
        & (F.col("sum_word_len") <= F.lit(10) * F.col("n_words")),
        F.lit(10) * F.col("n_symbols") <= F.col("n_words"),
        F.lit(10) * F.col("n_bullet_lines") <= F.lit(9) * F.col("n_lines"),
        F.lit(10) * F.col("n_ellipsis_lines") <= F.lit(3) * F.col("n_lines"),
        (F.col("n_words") > 0)
        & (F.lit(5) * F.col("n_alpha_words") >= F.lit(4) * F.col("n_words")),
        F.col("n_stop_types") >= min_stop,
    ]
    flags = F.lit(0)
    for i, r in enumerate(rules):
        flags = flags + F.when(r, F.lit(1 << i)).otherwise(F.lit(0))
    return pre.withColumn("flags", flags.cast("long")).withColumn(
        "pass", F.col("flags") == F.lit((1 << len(GOPHER_BITS)) - 1)
    )


#: C4 cleaning heuristics (Raffel et al. 2020, "Exploring the Limits of
#: Transfer Learning with a Unified Text-to-Text Transformer", §2.2).
#: Line-keep rule: ends in terminal punctuation AND >= C4_MIN_LINE_WORDS
#: words AND mentions neither "javascript" nor a policy phrase.
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
C4_TERMINALS = (".", "!", "?", '"')
C4_POLICY_PHRASES = ("terms of use", "privacy policy", "cookie policy", "uses cookies")
C4_BITS = (
    "no_lorem",      # 0: page does not contain "lorem ipsum"
    "no_brace",      # 1: page does not contain '{'
    "min_sentences", # 2: >= C4_MIN_SENTENCES sentence terminators in kept lines
    "no_badwords",   # 3: no token from the blocklist anywhere on the page
)


def encoding_damage(documents: DataFrame) -> DataFrame:
    """Mojibake / encoding-damage census — the webtext reality that a
    crawl mixes declared and actual charsets: count the three classic
    damage signatures per document.

      n_repl       U+FFFD replacement characters (a decoder already
                   gave up),
      n_c1         C1 control chars U+0080-009F (CP-1252 bytes decoded
                   as Latin-1 — almost never legitimate text),
      n_latin1_run non-overlapping runs of >= 2 consecutive U+0080-00FF
                   chars (UTF-8 multibyte sequences re-decoded as
                   Latin-1 produce "Ã©"-style digraph runs; a HEURISTIC
                   — rare legitimate digraphs exist — which is why it
                   only flags at >= 3 runs).

    All three are regexp_extract_all counts in the Java∩RE2 syntax
    (hex class escapes, greedy {2,} runs — both engines count
    non-overlapping matches identically). Pure codegen'd projection:
    zero shuffles, zero joins.

    Output: doc_id, n_repl, n_c1, n_latin1_run, is_suspect.
    """
    text = F.col("text")

    def n_of(pattern):
        return F.array_size(
            F.regexp_extract_all(text, F.lit(pattern), 0)
        ).cast("long")

    out = documents.select(
        "doc_id",
        n_of("�").alias("n_repl"),
        n_of("[\\x{80}-\\x{9F}]").alias("n_c1"),
        n_of("[\\x{80}-\\x{FF}]{2,}").alias("n_latin1_run"),
    )
    return out.select(
        "doc_id",
        "n_repl",
        "n_c1",
        "n_latin1_run",
        (
            (F.col("n_repl") > 0)
            | (F.col("n_c1") > 0)
            | (F.col("n_latin1_run") >= 3)
        ).alias("is_suspect"),
    )


def c4_quality_flags(
    documents: DataFrame,
    badwords: tuple[str, ...] = (),
    min_line_words: int = C4_MIN_LINE_WORDS,
    min_sentences: int = C4_MIN_SENTENCES,
) -> DataFrame:
    """C4-rule document filter (Raffel et al. 2020 §2.2) as count evidence
    plus a pass bitmask — the line-level sibling of gopher_quality_flags'
    document-level rules.

    Line keep-rule (all of): the space-trimmed line ends in a terminal
    punctuation mark (. ! ? "), has >= min_line_words whitespace tokens,
    and its ASCII-lowered form contains neither "javascript" nor any
    C4_POLICY_PHRASES entry. Document rules (bitmask, C4_BITS order):
    no "lorem ipsum", no '{', >= min_sentences terminators ([.!?] chars)
    across the KEPT lines, and no blocklist token anywhere on the page.
    Every predicate is an integer/string comparison over the pinned
    portable normalizers (space-only trim, explicit WS class, ASCII
    fold), so the bits are engine-exact.

    Scale shape: one scan, per-doc codegen'd array expressions — zero
    shuffles; `pass` feeds curation as a pushed-down predicate. The kept
    array is materialized in its own projection first (Spark codegen
    does not CSE across HOF lambda boundaries — dedup.shingles_over).

    Output: doc_id, n_lines, n_kept_lines, n_sentences, flags, pass.
    """
    text = F.col("text")

    def _low(col):
        return ascii_lower(col)

    def _line_kept(line):
        lt = F.trim(line)  # trim() == trim(x, ' ') — the pinned space-only trim
        low = _low(lt)
        kept = F.substring(lt, -1, 1).isin(*C4_TERMINALS)
        kept &= (lt != "") & (F.size(F.split(lt, WS_RE)) >= min_line_words)
        kept &= ~low.contains("javascript")
        for p in C4_POLICY_PHRASES:
            kept &= ~low.contains(p)
        return kept

    n_term = lambda line: (  # noqa: E731 — count of [.!?] chars in a line
        F.lit(3) * F.length(line)
        - F.length(F.regexp_replace(line, F.lit("\\."), F.lit("")))
        - F.length(F.regexp_replace(line, F.lit("!"), F.lit("")))
        - F.length(F.regexp_replace(line, F.lit("\\?"), F.lit("")))
    )

    pre = documents.select(
        "doc_id",
        "text",
        F.split(text, "\n", -1).alias("_lines"),
        lower_tokens_col().alias("_toks"),
    ).select(
        "doc_id",
        "text",
        "_lines",
        "_toks",
        F.filter(F.col("_lines"), _line_kept).alias("_kept"),
    )
    bad_arr = F.array(*[F.lit(w) for w in badwords]) if badwords else None
    counted = pre.select(
        "doc_id",
        F.array_size("_lines").cast("long").alias("n_lines"),
        F.array_size("_kept").cast("long").alias("n_kept_lines"),
        F.aggregate(
            F.col("_kept"), F.lit(0).cast("long"), lambda a, l: a + n_term(l)
        ).alias("n_sentences"),
        (~_low(text).contains("lorem ipsum")).alias("_b0"),
        (~text.contains("{")).alias("_b1"),
        (
            F.array_size(F.array_intersect(F.col("_toks"), bad_arr)) == 0
            if bad_arr is not None
            else F.lit(True)
        ).alias("_b3"),
    )
    flags = (
        F.when(F.col("_b0"), F.lit(1)).otherwise(F.lit(0))
        + F.when(F.col("_b1"), F.lit(2)).otherwise(F.lit(0))
        + F.when(F.col("n_sentences") >= min_sentences, F.lit(4)).otherwise(F.lit(0))
        + F.when(F.col("_b3"), F.lit(8)).otherwise(F.lit(0))
    )
    return counted.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        flags.cast("long").alias("flags"),
        (flags == F.lit((1 << len(C4_BITS)) - 1)).alias("pass"),
    )


#: Count-min sketch geometry (Cormode & Muthukrishnan 2005). depth
#: independent hash rows x width counters; estimate = min over rows.
CMS_DEPTH = 4
CMS_WIDTH = 512


def _cms_bucket(j: int, tok, width: int):
    """CMS row-j bucket of a token column: md5("j:" || t) first-4-hex mod
    width (the pinned md5-conv idiom, canary_md5_conv)."""
    h = F.md5(F.concat(F.lit(f"{j}:"), tok))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % width


def cms_cell_rows(
    tokens: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """(row, bucket) CMS cell-hit stream for a token column — the shared
    derivation of the batch aggregate (cms_heavy_hitters) and the
    streaming stateful counter (streaming.cms_stream): row j buckets
    token t at md5("j:" || t) first-4-hex mod width. No aggregation here
    so a streaming caller can count statefully; no fan-out either (batch
    callers apply _fan_out to the token source, streaming sources cannot
    answer the size probe)."""

    return tokens.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("row"),
                    _cms_bucket(j, F.col("token"), width).alias("bucket"),
                )
                for j in range(depth)
            ])
        ).alias("c")
    ).select("c.row", "c.bucket")


def cms_heavy_hitters(
    documents: DataFrame,
    k: int = 20,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Top-k token heavy hitters with a count-min-sketch estimate audited
    against the exact count — the frequency-sketch twin of
    corpus.cardinality_audit's HLL check.

    The sketch: depth independent hash rows of width counters; row j
    buckets token t at md5("j:" || t) first-4-hex mod width (the pinned
    md5-conv idiom, canary_md5_conv); est(t) = min over rows of its
    bucket's counter. The CMS side never keys a shuffle by token — the
    counter table is a (row, bucket) aggregate with map-side combine
    into <= depth*width cells, which is why it is the monitoring-path
    shape at 100 TB. The exact side (one token-keyed aggregate +
    TakeOrdered top-k) is this AUDIT's ground truth, the same role the
    brute-force side plays in ann_recall.

    Audit flag: overest * width <= 3 * n_total — the standard eps=3/width
    CMS overestimate bound as a cross-multiplied integer inequality
    (est >= exact always holds by construction; a flag flip means the
    sketch plumbing is wrong, not that the corpus changed).

    Output: rank, token, exact_n, cms_est, overest, within_bound.
    """

    toks = (
        _fan_out(documents.select("doc_id", "text"))
        .select(F.explode(lower_tokens_col()).alias("token"))
        .where(F.col("token") != "")
    )
    cells = (
        cms_cell_rows(toks, depth=depth, width=width)
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    order = [F.col("n_occurrences").desc(), F.col("token").asc()]
    top = topk(exact, k, order)
    probes = top.select(
        "rank",
        "token",
        F.col("n_occurrences").alias("exact_n"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("row"),
                    _cms_bucket(j, F.col("token"), width).alias("bucket"),
                )
                for j in range(depth)
            ])
        ).alias("p"),
    ).select("rank", "token", "exact_n", F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(cells), ["row", "bucket"])
        .groupBy("rank", "token", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )
    over = F.col("cms_est") - F.col("exact_n")
    return est.crossJoin(F.broadcast(total)).select(
        "rank",
        "token",
        "exact_n",
        "cms_est",
        over.cast("long").alias("overest"),
        (over * F.lit(width) <= F.lit(3) * F.col("n_total")).alias("within_bound"),
    )


#: BPE symbol separator inside the working string representation. Words
#: are gated to ^[a-z0-9]+$ before training, so \x1f can never collide.
BPE_SEP = "\x1f"
BPE_WORD_RE = "^[a-z0-9]+$"


def bpe_train(documents: DataFrame, n_merges: int = 6) -> DataFrame:
    """Train a byte-pair-encoding merge table (Sennrich et al. 2016): the
    iterative-algorithm flagship for text, the full loop whose single
    step bpe_pair_counts ranks.

    Each round counts adjacent symbol pairs weighted by word frequency,
    takes the max (count desc, then lexicographic — deterministic), and
    merges that pair greedily left-to-right in every word. The working
    representation is the DOUBLE-separator symbol string
    `SEP SEP sym1 SEP SEP sym2 ... SEP SEP`: the merge is the literal
    `replace(s, SEP||l||SEP SEP||r||SEP, SEP||l||r||SEP)`, which consumes
    one SEP of each flanking boundary pair — so a match can never start
    or end inside a multi-character symbol, and adjacent merge sites
    never share consumed characters (plain left-to-right non-overlapping
    replace IS greedy BPE, identically in Spark and DuckDB: "aaaa" under
    a+a -> [aa, aa], [b an an a] under an+a -> [b an ana]).

    Scale shape — the reason BPE training is cheap at 100 TB: the corpus
    is scanned ONCE into the word-frequency table (map-side-combined
    aggregate, checkpointed), which is bounded by VOCABULARY, not
    corpus size; every merge round then runs on that bounded table. Per
    round: one pair aggregate + a single-row driver pull (the max pair —
    the same bounded-collect class as IVF's Lloyd step) + one codegen'd
    replace projection, re-checkpointed so lineage stays one round deep
    (the pagerank pattern).

    Ceiling: rounds are SEQUENTIAL driver-coordinated jobs (two per
    merge), so a production 32k-merge vocab means ~64k tiny Spark jobs
    on the vocab-bounded table — hours of scheduler latency, not data
    cost. That grain suits the analytics/audit merge counts this catalog
    targets; a full tokenizer build would hoist the merge loop driver-
    side after the ONE corpus scan (collect the word table — it is
    vocabulary-bounded — and run the classic in-memory loop).

    Output: one row per executed merge — step, lhs, rhs, pair_count —
    fewer than n_merges rows iff the pair supply runs dry.
    """
    spark = documents.sparkSession
    words = materialize(
        _fan_out(documents.select("doc_id", "text"))
        .select(F.explode(lower_tokens_col()).alias("word"))
        .where(F.col("word").rlike(BPE_WORD_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.lit(BPE_SEP * 2),
                F.array_join(
                    F.regexp_extract_all("word", F.lit("."), 0), BPE_SEP * 2
                ),
                F.lit(BPE_SEP * 2),
            ).alias("syms"),
            "cnt",
        )
    )
    return _bpe_merge_loop(spark, words, n_merges)


def bpe_train_bytes(documents: DataFrame, n_merges: int = 6) -> DataFrame:
    """Byte-level BPE trainer (GPT-2 style, Radford et al. 2019): the
    initial symbols are the UTF-8 BYTES of each whitespace token —
    hex-encoded two-char symbols ('68', 'C3', ...) — so ANY input
    tokenizes with zero OOV: no word gate, no character alphabet
    assumption; non-ASCII, emoji, and control characters all reduce to
    byte symbols. Merges then grow multi-byte symbols ('68C3') exactly
    as the character-level trainer grows multi-char ones.

    The double-separator working representation and the merge loop are
    shared with bpe_train verbatim (_bpe_merge_loop): hex symbols are
    drawn from [0-9A-F] so the \\x1f separator can never collide, and
    the greedy literal-replace argument holds unchanged. Same scale
    shape too — ONE corpus scan into the vocabulary-bounded word table,
    then per-round work bounded by vocabulary, not corpus size.

    Output: one row per executed merge — step, lhs, rhs (hex byte
    strings), pair_count."""
    spark = documents.sparkSession
    hexed = F.hex(F.encode(F.col("word"), "UTF-8"))
    words = materialize(
        _fan_out(documents.select("doc_id", "text"))
        .select(F.explode(lower_tokens_col()).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.lit(BPE_SEP * 2),
                F.array_join(
                    F.regexp_extract_all(hexed, F.lit(".."), 0), BPE_SEP * 2
                ),
                F.lit(BPE_SEP * 2),
            ).alias("syms"),
            "cnt",
        )
    )
    return _bpe_merge_loop(spark, words, n_merges)


def _bpe_merge_loop(spark, words: DataFrame, n_merges: int) -> DataFrame:
    """The shared BPE merge loop over a double-separator symbol-string
    word-frequency table (see bpe_train for the representation and the
    greedy-replace argument). Per round: one pair aggregate + a 1-row
    driver pull + one codegen'd replace, re-checkpointed so lineage
    stays one round deep."""
    from pyspark.sql import types as T

    merges = []
    for step in range(1, n_merges + 1):
        arr = F.col("_a")
        pair_structs = F.when(
            F.array_size(arr) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.array_size(arr) - 1),
                lambda i: F.struct(
                    F.element_at(arr, i).alias("lhs"),
                    F.element_at(arr, i + 1).alias("rhs"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
        top = (
            words.select(
                F.filter(
                    F.split("syms", BPE_SEP * 2), lambda x: x != ""
                ).alias("_a"),
                "cnt",
            )
            .select(F.explode(pair_structs).alias("p"), "cnt")
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["pair_count"]
        merges.append((step, lhs, rhs, int(cnt)))
        words = materialize(
            words.select(
                F.replace(
                    "syms",
                    F.lit(BPE_SEP + lhs + BPE_SEP * 2 + rhs + BPE_SEP),
                    F.lit(BPE_SEP + lhs + rhs + BPE_SEP),
                ).alias("syms"),
                "cnt",
            )
        )
    schema = T.StructType(
        [
            T.StructField("step", T.IntegerType()),
            T.StructField("lhs", T.StringType()),
            T.StructField("rhs", T.StringType()),
            T.StructField("pair_count", T.LongType()),
        ]
    )
    return spark.createDataFrame(merges, schema)


def bpe_apply(
    documents: DataFrame, merges: tuple[tuple[str, str], ...]
) -> DataFrame:
    """Encode every document with a FIXED merge table — bpe_train's
    inference half. Each word is re-expressed in the double-separator
    symbol representation and the merge list is applied IN TRAINING
    ORDER as a chain of literal replaces (same greedy semantics as
    training, see bpe_train); the output counts pieces before/after so
    compression is tracked per doc.

    Scale shape: a pure projection chain — zero shuffles, zero joins;
    the merge table rides inside the codegen'd expressions as literals
    (at real scale: a broadcast variable feeding generated SQL, same
    plan shape).

    Output: doc_id, n_words, n_chars, n_pieces (piece count after all
    merges; equals n_chars when the merge list never fires).
    """
    words = F.filter(
        lower_tokens_col(), lambda w: w.rlike(BPE_WORD_RE)
    )
    b = BPE_SEP * 2
    enc = lambda w: F.concat(  # noqa: E731
        F.lit(b), F.array_join(F.regexp_extract_all(w, F.lit("."), 0), b), F.lit(b)
    )
    pre = documents.select("doc_id", words.alias("_w")).select(
        "doc_id", "_w", F.transform(F.col("_w"), enc).alias("_s")
    )
    col = F.col("_s")
    for lhs, rhs in merges:
        col = F.transform(
            col,
            lambda s: F.replace(
                s,
                F.lit(BPE_SEP + lhs + b + rhs + BPE_SEP),
                F.lit(BPE_SEP + lhs + rhs + BPE_SEP),
            ),
        )
    n_pieces = F.aggregate(
        col,
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.array_size(F.filter(F.split(s, b), lambda x: x != "")),
    )
    n_chars = F.aggregate(
        F.col("_w"),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.length(w),
    )
    return pre.select(
        "doc_id",
        F.array_size("_w").cast("long").alias("n_words"),
        # NULL-text docs: F.aggregate over a NULL array yields NULL; the
        # oracle COALESCEs to 0 — mirror it so the engines agree
        F.coalesce(n_chars, F.lit(0).cast("long")).alias("n_chars"),
        F.coalesce(n_pieces, F.lit(0).cast("long")).alias("n_pieces"),
    )


#: Heaps-law growth curve buckets: vocabulary size after the first
#: 1/8, 2/8, ... 8/8 of the corpus (by doc_id order).
VOCAB_GROWTH_BUCKETS = 8


def vocab_growth(
    documents: DataFrame, n_buckets: int = VOCAB_GROWTH_BUCKETS
) -> DataFrame:
    """Heaps-law vocabulary growth: distinct-token count after each
    successive eighth of the corpus (doc_id order) — the curve that sizes
    a tokenizer's vocab budget before training it.

    The trick that makes it ONE pass instead of n_buckets prefix scans:
    a token is new to prefix k iff its FIRST APPEARANCE (min doc-order
    bucket) is <= k, so one (token -> min bucket) aggregate + a per-bucket
    count + a cumulative sum over the <= n_buckets rows gives every
    prefix's vocabulary at once. The only window runs on n_buckets rows.

    Bucket = doc_id's rank-free ntile substitute: doc_id % n_buckets is
    NOT a prefix; instead bucket i covers doc_id in [i*ceil(N/n), ...) —
    computed against the broadcast corpus doc count, deterministic.

    Output: bucket (1-based), n_docs_cum, vocab_cum, new_tokens.
    """
    toks = (
        _fan_out(documents.select("doc_id", "text"))
        .select("doc_id", F.explode(lower_tokens_col()).alias("token"))
        .where(F.col("token") != "")
    )
    # bucket of a doc: 1 + (its rank-by-doc_id - 1) * n_buckets / N — but a
    # rank would be a global sort; doc_ids are dense in the fixtures and
    # monotone with ingest order, so bucket directly on the id value vs
    # max(doc_id)+1 (same contract the oracle uses).
    max_id = documents.agg((F.max("doc_id") + 1).cast("long").alias("_m"))
    first_seen = (
        toks.crossJoin(F.broadcast(max_id))
        .select(
            "token",
            F.expr(f"(doc_id * {n_buckets}) div _m").alias("_b"),
        )
        .groupBy("token")
        .agg(F.min("_b").alias("first_bucket"))
    )
    per_bucket = first_seen.groupBy("first_bucket").agg(
        F.count(F.lit(1)).alias("new_tokens")
    )
    buckets = (
        documents.crossJoin(F.broadcast(max_id))
        .select(
            F.expr(f"(doc_id * {n_buckets}) div _m").alias("_b")
        )
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    out = (
        buckets.join(per_bucket, buckets["_b"] == per_bucket["first_bucket"], "left")
        .select(
            (buckets["_b"] + 1).cast("long").alias("bucket"),
            "n_docs",
            F.coalesce("new_tokens", F.lit(0)).cast("long").alias("new_tokens"),
        )
    )
    return out.select(
        "bucket",
        F.sum("n_docs").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("n_docs_cum"),
        F.sum("new_tokens").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("vocab_cum"),
        "new_tokens",
    )


#: feature-hashing grid for hashed_tf (Weinberger et al. 2009 /
#: Spark MLlib HashingTF): token -> md5-conv bucket, counts per bucket.
HASHTF_BUCKETS = 256


def hashed_tf(documents: DataFrame, n_buckets: int = HASHTF_BUCKETS) -> DataFrame:
    """Feature-hashed term-frequency document vectors (the HashingTF
    featurizer, exposed): token t lands in bucket md5(t) first-4-hex mod
    n_buckets (the pinned md5-conv idiom, canary_md5_conv), emitted as
    the SPARSE (doc_id, bucket, tf) triple stream — the input shape for
    any hashed linear model or the quality classifier's weight join.

    Scale shape: one explode + one (doc_id, bucket) aggregate with
    map-side combine; output bounded by docs x n_buckets, no vocabulary
    table, no global state — why the hash trick exists.

    Output: doc_id, bucket, tf.
    """
    toks = (
        _fan_out(documents.select("doc_id", "text"))
        .select("doc_id", F.explode(lower_tokens_col()).alias("token"))
        .where(F.col("token") != "")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 4), 16, 10).cast("long")
        % n_buckets
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def freq_spectrum(documents: DataFrame) -> DataFrame:
    """Zipf frequency-of-frequencies spectrum: how many distinct token
    TYPES occur exactly f times, for every observed corpus frequency f —
    the diagnostic curve behind Good-Turing smoothing and the standard
    sanity check that a scraped corpus is natural language (log-log
    slope ~ -2) rather than boilerplate or spam floods.

    Scale shape: the classic two-level aggregation — explode + (token)
    count with map-side combine (shuffle volume = vocabulary, never the
    corpus), then a second aggregate over the count DOMAIN (distinct
    frequencies: thousands at any corpus size). No windows, no joins.

    Output: freq, n_types.
    """
    toks = (
        _fan_out(documents.select("doc_id", "text"))
        .select(F.explode(lower_tokens_col()).alias("token"))
        .where(F.col("token") != "")
    )
    per_token = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return per_token.groupBy("freq").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    ).select(F.col("freq").cast("long").alias("freq"), "n_types")


#: sentence boundary class shared with the SQL oracle — a literal char
#: class, so Java regex and RE2 agree by construction.
SENT_SPLIT_RE = "[.!?]+"


def sentence_stats(documents: DataFrame) -> DataFrame:
    """Per-document sentence segmentation stats: split on terminal
    punctuation runs, keep pieces with non-space content, report count /
    longest / total trimmed length — the inputs to readability-style
    quality rules (avg sentence length bounds) a curation pass applies
    after the Gopher/C4 word-level rules.

    Each array stage is materialized in its OWN projection before the
    next higher-order function touches it (codegen does not CSE across
    HOF lambda boundaries — the dedup.shingles_over contract).

    Scale shape: a single codegen'd scan, zero shuffles, zero joins.

    Output: doc_id, n_sentences, max_sent_len, sum_sent_len.
    """
    pieces = F.split(F.coalesce(F.col("text"), F.lit("")), SENT_SPLIT_RE)
    kept = F.filter(F.col("_p"), lambda x: F.trim(x) != "")
    lens = F.transform(F.col("_k"), lambda x: F.length(F.trim(x)))
    return (
        documents.select("doc_id", pieces.alias("_p"))
        .select("doc_id", kept.alias("_k"))
        .select("doc_id", F.array_size("_k").alias("_n"), lens.alias("_l"))
        .select(
            "doc_id",
            F.col("_n").cast("long").alias("n_sentences"),
            F.coalesce(F.array_max("_l"), F.lit(0)).cast("long").alias("max_sent_len"),
            F.aggregate(
                "_l", F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("sum_sent_len"),
        )
    )


def unicode_nfc(documents: DataFrame) -> DataFrame:
    """Unicode NFC normalization audit: is each document already in
    canonical composed form, and how long is it after composing? Web
    text mixes NFC and NFD producers (macOS filenames, some CMSes emit
    decomposed accents), and every dedup/fingerprint key upstream
    assumes one canonical form — this op measures how much of the corpus
    would change under the normalize-first policy.

    The one Python stage in this module: Spark has no built-in Unicode
    normalizer, so this is an Arrow-batched mapInPandas over
    unicodedata.normalize (NFC is stability-frozen by the Unicode
    standard, so Python's tables and the oracle engine's utf8proc agree
    on every assigned codepoint). Integer outputs only.

    Scale shape: pure map stage — no shuffle, no state; the Python cost
    is one vectorized pass per Arrow batch.

    Output: doc_id, is_nfc (1/0), raw_len, nfc_len (codepoints).
    """

    def run(batches):
        import unicodedata

        import pandas as pd

        for pdf in batches:
            txt = pdf["text"].fillna("")
            nfc = txt.map(lambda s: unicodedata.normalize("NFC", s))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "is_nfc": (txt == nfc).astype("int32"),
                    "raw_len": txt.str.len().astype("int64"),
                    "nfc_len": nfc.str.len().astype("int64"),
                }
            )

    return (
        _fan_out(documents.select("doc_id", "text"))
        .mapInPandas(run, "doc_id long, is_nfc int, raw_len long, nfc_len long")
    )


def char_entropy(documents: DataFrame) -> DataFrame:
    """Per-document character-level Shannon entropy in integer micro-nats
    — the gibberish/binary-junk quality signal (natural prose sits around
    2.5-4.5 nats; base64 blobs and key-mash spam push toward ln(alphabet),
    single-char floods toward 0).

    H = ln(n) - (1/n) * sum_i c_i ln c_i over per-character counts c_i,
    realized as floor(1e6*ln(n)) - (sum_i floor(1e6 * c_i * ln(c_i)))
    div n. EVERY transcendental term is floored to an INTEGER before the
    sum (the bigram_logprob lp_micro idiom): the distributed sum is then
    order-free, and ln of the same integer-valued double is bit-identical
    across engines (parity-swept over 1..3000, 1e6, 1e9).

    Scale shape: char explode -> (doc_id, char) count with map-side
    combine (bounded by each doc's alphabet) -> one doc_id aggregate.
    Zero joins, zero windows. The char split is codepoint-grain in BOTH
    engines (verified incl. astral plane + combining marks).

    Output: doc_id, n_chars, entropy_micro. Empty/NULL-text docs have no
    rows (both engines agree).
    """
    chars = (
        _fan_out(documents.select("doc_id", "text"))
        .select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .where(F.col("ch") != "")
    )
    per = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    term = F.floor(
        F.log(F.col("c").cast("double")) * F.col("c") * F.lit(1000000)
    ).cast("long")
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_chars"),
            F.sum(term).cast("long").alias("_s"),
        )
        .select(
            "doc_id",
            "n_chars",
            (
                F.floor(
                    F.log(F.col("n_chars").cast("double")) * F.lit(1000000)
                ).cast("long")
                - F.expr("_s div n_chars")
            ).alias("entropy_micro"),
        )
    )


# Log-template mining masks, shared with the SQL oracle. Java∩RE2 syntax
# only (the PII discipline): character classes, bounded repetition, \b.
# HEX runs first (8+ lowercase hex chars — ids, hashes, session tokens)
# so a long id is one <HEX>, not a <NUM>-splintered mess; pure digit runs
# of 8+ also read as <HEX>, a deterministic tie both engines share.
TPL_HEX = r"\b[0-9a-f]{8,}\b"
TPL_NUM = r"\d+"


def log_templates(documents: DataFrame, min_count: int = 2) -> DataFrame:
    """Drain/Spell-style log-template mining, the flagship log-analytics
    reduction: every newline-delimited line is normalized by masking the
    variable parts (hex ids then digit runs) and the surviving constant
    skeletons are counted — 10^12 raw lines collapse to the template
    vocabulary an operator can actually read.

    Staged deterministically like pii_scrub (HEX mask applied before NUM
    on the trimmed line) so overlap resolves identically in any engine.
    Shape: explode -> one (template) hash aggregate with map-side
    combine absorbing the template skew (the dedup_lines discipline);
    count-distinct docs is the standard two-phase expansion. Templates
    below `min_count` lines are noise and dropped in-aggregate, so the
    output is the template dictionary, not a second copy of the corpus.

    Output: template, n_lines (BIGINT), n_docs (BIGINT).
    """
    line = F.trim(F.col("line"))
    tpl = F.regexp_replace(
        F.regexp_replace(line, TPL_HEX, "<HEX>"), TPL_NUM, "<NUM>"
    )
    return (
        documents.select(
            "doc_id", F.explode(F.split(F.col("text"), "\n")).alias("line")
        )
        .select("doc_id", tpl.alias("template"))
        .where(F.col("template") != "")
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_lines") >= min_count)
    )


#: BM25 constants in fixed-point hundredths (k1=1.2, b=0.75) — shared with
#: the SQL oracle; change together.
BM25_K1_X100 = 120
BM25_B_X100 = 75


def bm25_topk(
    documents: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval — the web-search scoring function over the
    corpus's own statistics: score(d) = sum over matched query terms of
    idf(t) * tf_saturation(t, d), with the Lucene always-positive idf
    ln(1 + (N - df + .5)/(df + .5)) = ln((2N + 2)/(2df + 1)) and the
    (k1, b) length-normalized saturation.

    All arithmetic is engine-exact: idf is floored ONCE per term to
    integer micro-nats from a ratio of exact integers (the tfidf_topk
    idiom), and the saturation term is integer fixed-point — dl/avgdl
    becomes (b100 * dl * N) DIV total_len, the denominator lives at
    scale 100, and the term score is one integer DIV in basis points, so
    no float summation order exists for the engines to disagree on.

    Scale shape: the token stream explodes ONCE; dl/N/avgdl are map-side
    combined aggregates (corpus stats attach as a broadcast single-row
    cross join, no driver collect); tf is pre-filtered to the query's
    own terms, so the scored relation is |matching docs x terms|, not
    the corpus; the final top-k is `topk` without groups, a
    TakeOrderedAndProject — never a single-reducer window over every
    matching document.

    Output: rank (INT), doc_id, n_terms (BIGINT), score (BIGINT).
    """
    terms = [str(t) for t in query_terms]
    toks = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(lower_tokens_col()).alias("token")
    ).where(F.col("token") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    tf = (
        toks.where(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    k1, b = BM25_K1_X100, BM25_B_X100
    scored = (
        tf.join(df_tbl, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.floor(
                    F.log(
                        (2 * F.col("n_docs") + F.lit(2)).cast("double")
                        / (2 * F.col("df") + F.lit(1)).cast("double")
                    )
                    * F.lit(1000000.0)
                ).cast("long")
                * F.expr(
                    f"tf * {(k1 + 100) * 10000} DIV "
                    f"(tf * 100 + ({k1} * ({100 - b} + "
                    f"({b} * dl * n_docs) DIV total_len)) DIV 100)"
                )
            ).alias("term_score"),
        )
    )
    ds = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("term_score").alias("score"),
    )
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    return topk(ds, k, order).select("rank", "doc_id", "n_terms", "score")


#: vowel-group syllable heuristic (ASCII, Java∩RE2): each maximal
#: [aeiouy]+ run is one syllable, floor 1 per word — the standard
#: Flesch-style approximation; shared with the SQL oracle.
SYLLABLE_RE = "[aeiouy]+"


def readability(documents: DataFrame) -> DataFrame:
    """Flesch reading-ease in integer centi-points — the classic
    readability quality signal (206.835 - 1.015*(W/S) - 84.6*(Y/W)),
    computed with the corpus's shared deterministic rules: words from
    the common whitespace tokenizer, sentences from the sentence_stats
    [.!?]+ split (non-blank pieces), syllables as lowercase vowel-group
    runs with a floor of one per word. The three ratios are integer
    floor divisions on guarded denominators (greatest(1, ...)), so the
    score is bit-identical across engines:

      fre_centi = 20683 - (1015 * W) DIV (10 * max(S, 1))
                        - (8460 * Y) DIV max(W, 1)

    Scale shape: every stage is a higher-order function over arrays
    materialized in their OWN projections (the shingles_over CSE
    contract) — a single codegen'd scan, zero shuffles, zero joins,
    zero Python.

    Output: doc_id, n_words, n_sents, n_syll (BIGINT), fre_centi (BIGINT).
    """
    toks = lower_tokens_col()
    sents = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), SENT_SPLIT_RE),
        lambda x: F.trim(x) != "",
    )
    staged = (
        documents.select("doc_id", toks.alias("_t"), sents.alias("_s"))
        .select(
            "doc_id",
            F.filter(F.col("_t"), lambda x: x != "").alias("_w"),
            F.array_size("_s").alias("_ns"),
        )
        .select(
            "doc_id",
            F.array_size("_w").alias("_nw"),
            "_ns",
            F.transform(
                F.col("_w"),
                lambda x: F.greatest(
                    F.lit(1),
                    F.array_size(F.regexp_extract_all(x, F.lit(SYLLABLE_RE), 0)),
                ),
            ).alias("_sy"),
        )
        .select(
            "doc_id",
            "_nw",
            "_ns",
            F.aggregate(
                "_sy", F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("_ny"),
        )
    )
    return staged.select(
        "doc_id",
        F.col("_nw").cast("long").alias("n_words"),
        F.col("_ns").cast("long").alias("n_sents"),
        F.col("_ny").alias("n_syll"),
        F.expr(
            "20683 - (1015 * _nw) DIV (10 * greatest(_ns, 1))"
            " - (8460 * _ny) DIV greatest(_nw, 1)"
        ).cast("long").alias("fre_centi"),
    )


def token_fertility(
    documents: DataFrame, merges: tuple[tuple[str, str], ...]
) -> DataFrame:
    """Tokenizer fertility by language — the readout that decides whether
    a merge table needs more multilingual data: pieces-per-word
    (fertility) and chars-per-piece (compression) per language, in basis
    points. High fertility on a language means the tokenizer shreds it
    into short pieces, inflating its effective sequence length and
    training cost (the standard multilingual-tokenizer audit).

    Composition: bpe_apply's per-doc counts (a pure zero-shuffle
    projection) joined back to the doc's language — one doc-grain
    equi-join — then a language-grain integer aggregate. All ratios are
    integer DIV on the SUMS (not averages of per-doc ratios), so the
    result is engine-exact and weights long docs correctly.

    Output: lang, n_docs, n_words, n_pieces (BIGINT), fertility_bp,
    chars_per_piece_bp (BIGINT).
    """
    enc = bpe_apply(documents, merges)
    lang = documents.select("doc_id", "lang")
    return (
        enc.join(lang, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum("n_chars").alias("_n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_pieces",
            F.expr("n_pieces * 10000 DIV greatest(n_words, 1)").alias(
                "fertility_bp"
            ),
            F.expr("_n_chars * 10000 DIV greatest(n_pieces, 1)").alias(
                "chars_per_piece_bp"
            ),
        )
    )


#: Dirichlet smoothing mass for query-likelihood retrieval (Zhai &
#: Lafferty 2001's recommended order of magnitude) — shared with the
#: SQL oracle.
QL_MU = 2000


def query_likelihood_topk(
    documents: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    mu: int = QL_MU,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001) — the language-modeling counterpart to bm25_topk:

      score(q, d) = sum over t in q of ln((tf + mu*p(t|C)) / (dl + mu))

    with collection model p(t|C) = cf(t)/total. Everything reduces to
    floored-ln micro-nats of EXACT integer arguments, by the convention

      score = sum_t flnu(tf*total + mu*cf_t)          [present terms]
            + sum_t flnu(mu*cf_t)                     [absent terms]
            - |q| * (flnu(dl + mu) + flnu(total))

    where flnu(x) = floor(1e6 * ln(x)) — each ln floored ONCE on an
    exact integer (the bm25/tfidf idf idiom), so the distributed sum is
    order-free and engine-exact. The absent-term block is computed as
    (all-terms constant) - (present-terms adjustment), so only docs
    containing >= 1 query term are ever scored.

    Scale shape: identical to bm25_topk — one token explode, map-side
    combined dl/cf/total aggregates, corpus stats broadcast as a
    single-row cross join, scored relation bounded by |matching docs x
    terms|, `topk` without groups.

    Output: rank (INT), doc_id, n_terms (BIGINT), score_micro (BIGINT).
    """
    terms = [str(t) for t in query_terms]
    nq = len(terms)
    toks = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(lower_tokens_col()).alias("token")
    ).where(F.col("token") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    total = dl.agg(F.sum("dl").alias("total"))

    def flnu(col):
        return F.floor(F.log(col.cast("double")) * F.lit(1000000.0)).cast(
            "long"
        )

    qtoks = toks.where(F.col("token").isin(terms))
    cf = qtoks.groupBy("token").agg(F.count(F.lit(1)).alias("cf"))
    # sum over ALL query terms of flnu(mu * cf_t) — a single tiny row
    const = cf.agg(F.sum(flnu(F.lit(mu) * F.col("cf"))).alias("const_all"))
    tf = qtoks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    present = (
        tf.join(cf, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (
                flnu(
                    F.col("tf") * F.col("total")
                    + F.lit(mu) * F.col("cf")
                )
                - flnu(F.lit(mu) * F.col("cf"))
            ).alias("adj"),
        )
    )
    ds = present.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("adj").alias("adj_sum"),
    )
    scored = (
        ds.join(dl, "doc_id")
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(const))
        .select(
            "doc_id",
            "n_terms",
            (
                F.col("const_all")
                + F.col("adj_sum")
                - F.lit(nq)
                * (flnu(F.col("dl") + F.lit(mu)) + flnu(F.col("total")))
            ).alias("score_micro"),
        )
    )
    order = [F.col("score_micro").desc(), F.col("doc_id").asc()]
    return topk(scored, k, order).select(
        "rank", "doc_id", "n_terms", "score_micro"
    )


def prf_expansion(
    documents: DataFrame,
    query_terms: Sequence[str],
    r: int = 10,
    k: int = 20,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio 1971 /
    blind feedback): run the BM25 ranking for the original query, ASSUME
    its top-r page is relevant, and rank every term those feedback docs
    contain (minus the query's own terms) by its Rocchio centroid weight

        score(t) = idf(t) * sum over feedback docs of tf(t, d)

    with the same Lucene idf as bm25_topk, floored once to integer
    micro-nats — so the expansion inherits the retrieval stack's
    cross-engine exactness. The top-k terms are what a second-round
    query would add.

    Scale shape: the feedback set is bm25_topk's bounded top-r,
    broadcast-semi-joined into the token stream —
    the candidate relation is r docs' vocabulary, never the corpus's;
    corpus df computes only for that candidate set (broadcast join onto
    the token stream, map-side-combined distinct count); the final
    top-k is TakeOrderedAndProject over the candidate-sized relation.

    Output: rank (INT), token, n_fb_docs, total_tf, rocchio_score.
    """
    terms = [str(t) for t in query_terms]
    fb = bm25_topk(documents, terms, k=r).select("doc_id")
    toks = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(lower_tokens_col()).alias("token")
    ).where(F.col("token") != "")
    n_docs = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    fbtok = toks.join(F.broadcast(fb), "doc_id").where(
        ~F.col("token").isin(terms)
    )
    tfq = fbtok.groupBy("token").agg(
        F.count(F.lit(1)).alias("total_tf"),
        F.countDistinct("doc_id").alias("n_fb_docs"),
    )
    dfx = (
        toks.join(F.broadcast(tfq.select("token")), "token")
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    sc = (
        tfq.join(dfx, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "n_fb_docs",
            "total_tf",
            (
                F.floor(
                    F.log(
                        (2 * F.col("n_docs") + F.lit(2)).cast("double")
                        / (2 * F.col("df") + F.lit(1)).cast("double")
                    )
                    * F.lit(1000000.0)
                ).cast("long")
                * F.col("total_tf")
            ).alias("rocchio_score"),
        )
    )
    order = [F.col("rocchio_score").desc(), F.col("token").asc()]
    return topk(sc, k, order).select(
        "rank", "token", "n_fb_docs", "total_tf", "rocchio_score"
    )


#: Kneser-Ney absolute discount, fixed-point x100 (D = 0.75).
KN_DISCOUNT_X100 = 75
KN_MIN_BIGRAM = 3
#: probability scale: parts per million.
KN_SCALE = 1_000_000


def kneser_ney_bigram(
    documents: DataFrame,
    min_bigram: int = KN_MIN_BIGRAM,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the classic
    n-gram LM smoothing (Kneser & Ney 1995; Chen & Goodman 1999's
    recommended form), and the model whose continuation counts
    `continuation_counts` already certifies:

        P(w2|w1) = max(c(w1w2) - D, 0)/c(w1.)
                 + D * N1+(w1,.)/c(w1.) * N1+(.,w2)/|bigram types|

    Everything is integer fixed-point with ONE floor per division
    (documented and mirrored exactly by the oracle):

        term1_ppm  = max(100*c - 75, 0) * 1e6 DIV (100 * c_w1)
        lambda_ppm = 75 * n_succ(w1) * 1e6 DIV (100 * c_w1)
        pcont_ppm  = n_prec(w2) * 1e6 DIV n_bigram_types
        p_ppm      = term1_ppm + lambda_ppm * pcont_ppm DIV 1e6

    so the smoothed probability is engine-exact, no float log-sums.

    Scale shape: one zip-shift bigram stream (no self-join), three
    map-side-combined aggregates over it (bigram counts, left-context
    sums, distinct-successor/predecessor types), the global type count
    attached as a broadcast scalar; output bounded by the >= min_bigram
    collocation vocabulary.

    Output: w1, w2, c_bigram, term1_ppm, pcont_ppm, p_ppm.
    """
    toks = F.col("_w")
    pairs = F.when(
        F.array_size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.array_size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = (
        _fan_out(documents.select("doc_id", "text"))
        .select(lower_tokens_col().alias("_w"))
        .select(F.explode(pairs).alias("bg"))
        .select("bg.w1", "bg.w2")
    )
    cbg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bigram"))
    c_w1 = cbg.groupBy("w1").agg(F.sum("c_bigram").alias("c_left"))
    succ = cbg.groupBy("w1").agg(F.count(F.lit(1)).alias("n_succ"))
    prec = cbg.groupBy("w2").agg(F.count(F.lit(1)).alias("n_prec"))
    n_types = cbg.agg(F.count(F.lit(1)).alias("n_types"))
    d = KN_DISCOUNT_X100
    s = KN_SCALE
    return (
        cbg.where(F.col("c_bigram") >= min_bigram)
        .join(c_w1, "w1")
        .join(succ, "w1")
        .join(prec, "w2")
        .crossJoin(F.broadcast(n_types))
        .select(
            "w1",
            "w2",
            "c_bigram",
            F.expr(
                f"greatest(100 * c_bigram - {d}, 0) * {s}"
                " DIV (100 * c_left)"
            ).alias("term1_ppm"),
            F.expr(f"n_prec * {s} DIV n_types").alias("pcont_ppm"),
            (
                F.expr(
                    f"greatest(100 * c_bigram - {d}, 0) * {s}"
                    " DIV (100 * c_left)"
                )
                + F.expr(
                    f"({d} * n_succ * {s} DIV (100 * c_left))"
                    f" * (n_prec * {s} DIV n_types) DIV {s}"
                )
            ).alias("p_ppm"),
        )
    )


def query_matches(
    documents: DataFrame,
    queries: Sequence[tuple[str, Sequence[str], Sequence[str], int]],
) -> DataFrame:
    """Percolator / saved-search matching — the alerting primitive run
    backwards: a small standing table of boolean queries is matched
    against EVERY incoming document (Elasticsearch's percolate, the
    "tell me when a page about X appears" pipeline stage).

    Each query is (query_id, must_terms, should_terms, min_should): a
    doc matches when its token SET contains every must term and at
    least min_should of the should terms. Matching is set algebra on
    the shared corpus tokenizer — array_contains/forall and
    array_intersect (both engines return DISTINCT intersections), no
    regex, no scoring.

    Scale shape: the query table broadcasts (it is tiny by definition);
    the token set materializes once per doc (shingles_over CSE
    contract) and every predicate evaluates in the scan stage — ZERO
    shuffles, embarrassingly parallel, which is the whole point of a
    percolator at 100 TB/day.

    Output: query_id, doc_id, n_should_hit (matching docs only).
    """
    rows = [
        (str(qid), [str(t) for t in must], [str(t) for t in should],
         int(min_should))
        for qid, must, should, min_should in queries
    ]
    spark = documents.sparkSession
    qdf = spark.createDataFrame(
        rows,
        "query_id string, must array<string>, should array<string>, "
        "min_should int",
    )
    toks = documents.select(
        "doc_id", lower_tokens_col().alias("_w")
    ).select("doc_id", F.array_distinct("_w").alias("_t"))
    joined = toks.crossJoin(F.broadcast(qdf))
    must_ok = F.forall(
        F.col("must"), lambda t: F.array_contains(F.col("_t"), t)
    )
    n_should = F.size(F.array_intersect(F.col("should"), F.col("_t")))
    return (
        joined.where(must_ok & (n_should >= F.col("min_should")))
        .select(
            "query_id",
            "doc_id",
            n_should.cast("long").alias("n_should_hit"),
        )
    )


#: posting-compression segment width: in-segment gap windows are bounded
#: by this many candidate doc ids, so no term's full Zipf-length posting
#: list ever funnels through one partition.
POSTING_SEG = 1024


def _varint_bytes(gap):
    """LEB128 byte count of a positive gap: 1 + one per 7-bit overflow
    threshold — a branch-free boolean ladder both engines evaluate
    identically."""
    return (
        F.lit(1)
        + (gap >= 128).cast("long")
        + (gap >= 16384).cast("long")
        + (gap >= 2097152).cast("long")
        + (gap >= 268435456).cast("long")
    )


def posting_compression(
    documents: DataFrame, min_df: int = 16, seg: int = POSTING_SEG
) -> DataFrame:
    """Inverted-index size planning: per term, the byte cost of its
    posting list under delta-gap varint (LEB128) coding vs raw 64-bit
    ids — the number that decides an index's memory budget and the
    measured reason search engines d-gap-compress (Zipf-head terms
    compress ~8x: dense postings mean gap 1 = one byte).

    The gap stream is computed SEGMENTED, never per-term-global: doc
    ids bucket into range segments (doc_id DIV seg — order-preserving),
    in-segment gaps ride a window bounded by the segment width, and the
    cross-segment boundary gaps ride a second window over the SEGMENT
    SUMMARY relation (<= corpus/seg rows per term) — so "the"'s
    billion-row posting list never funnels through one partition (a
    group limit cannot bound a statistic over EVERY posting, so the
    segments bound it). The first posting stores doc_id + 1 (gaps stay
    >= 1).

    Output: token, df, bytes_varint, bytes_raw (8*df), ratio_bp.
    """
    toks = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(lower_tokens_col()).alias("token")
    ).where(F.col("token") != "")
    postings = toks.select("token", "doc_id").distinct().withColumn(
        "_seg", F.expr(f"doc_id DIV {int(seg)}")
    )
    w_in = Window.partitionBy("token", "_seg").orderBy("doc_id")
    with_gap = postings.withColumn(
        "_gap", F.col("doc_id") - F.lag("doc_id").over(w_in)
    )
    seg_sum = with_gap.groupBy("token", "_seg").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("doc_id").alias("_mn"),
        F.max("doc_id").alias("_mx"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_gap").isNotNull(), _varint_bytes(F.col("_gap"))
                )
            ),
            F.lit(0),
        ).alias("_b_in"),
    )
    w_tok = Window.partitionBy("token").orderBy("_seg")
    bounded = seg_sum.withColumn(
        "_bgap",
        F.coalesce(
            F.col("_mn") - F.lag("_mx").over(w_tok),
            F.col("_mn") + 1,
        ),
    )
    agg = bounded.groupBy("token").agg(
        F.sum("_n").alias("df"),
        (
            F.sum("_b_in") + F.sum(_varint_bytes(F.col("_bgap")))
        ).alias("bytes_varint"),
    )
    return (
        agg.where(F.col("df") >= min_df)
        .select(
            "token",
            "df",
            "bytes_varint",
            (F.col("df") * 8).alias("bytes_raw"),
            F.expr("bytes_varint * 10000 DIV (df * 8)").alias("ratio_bp"),
        )
    )


#: script census ranges (BMP, endpoints embedded as literal chars so the
#: Java and RE2 engines see identical codepoint classes).
SCRIPT_RANGES = (
    ("latin", "A-Za-z"),
    ("digit", "0-9"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("cjk", "一-鿿"),
)


def script_mix(documents: DataFrame) -> DataFrame:
    """Unicode script census per source — the signal a multilingual
    curation pipeline keys routing and spam triage on: how much of a
    source's text is Latin / digit / Cyrillic / Greek / CJK, and how
    many of its docs MIX Latin with a non-Latin script (the classic
    look-alike-spam and mis-tagged-language symptom).

    Counts are regexp_count over explicit codepoint ranges with the
    endpoints embedded as literal characters — Java regex and RE2 give
    identical classes for literal BMP ranges (no \\p{Script} property
    classes, whose tables differ by engine/version).

    Scale shape: five codegen'd per-row counts in the scan stage, one
    map-side-combined source aggregate. Zero joins, zero windows.

    Output: source, n_docs, n_latin, n_digit, n_cyrillic, n_greek,
    n_cjk, n_mixed.
    """
    counts = [
        F.regexp_count(F.col("text"), F.lit(f"[{rng}]")).cast("long").alias(
            f"n_{name}"
        )
        for name, rng in SCRIPT_RANGES
    ]
    per_doc = documents.where(F.col("text").isNotNull()).select(
        "source", *counts
    )
    non_latin = (
        F.col("n_cyrillic") + F.col("n_greek") + F.col("n_cjk")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(f"n_{name}").alias(f"n_{name}")
            for name, _ in SCRIPT_RANGES
        ],
        F.count_if((F.col("n_latin") > 0) & (non_latin > 0)).alias(
            "n_mixed"
        ),
    )


def llr_collocations(
    documents: DataFrame, k: int = 50, min_count: int = 5
) -> DataFrame:
    """Top-k adjacent-token collocations by Dunning's log-likelihood
    ratio (Dunning 1993) — the statistic of record for rare-event
    collocations, because unlike PMI it does not explode for
    low-frequency pairs. Over the 2x2 contingency of the bigram event
    space (k11 = c(w1,w2), row marginal r1 = bigrams with first
    position w1, column marginal c1 = bigrams with second position w2,
    N = all bigrams):

        llr_micro = 2 * ( xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22)
                          + xlx(N) - xlx(r1) - xlx(r2)
                          - xlx(c1) - xlx(c2) )

    with xlx(c) = c * floor(ln(c) * 1e6) and xlx(0) = 0. Every floor is
    ln of an INTEGER (the parity_ln_floor idiom), and everything after
    is integer products and sums — order-free, so the score is
    engine-exact with no combined-float-expression trust. Position
    marginals come from the same bigram stream as k11, so all four
    cells are >= 0 by construction.

    Scale shape: identical to pmi_collocations — the zip-shift pair
    stream, map-side-combined counts, the min_count gate BEFORE the
    marginal joins, broadcast one-row N, TakeOrderedAndProject top-k.
    Int64 headroom: |xlx| <= N * ln(N) * 1e6, which overflows past
    N ~ 3e11 bigrams — above that, score per shard or drop to
    milli-nat quantization (a one-constant change mirrored in the
    oracle).

    Output: rank, w1, w2, c_bigram, llr_micro.
    """
    toks = F.col("_w")
    pairs = F.when(
        F.array_size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.array_size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    arr = _fan_out(documents.select("doc_id", "text")).select(
        lower_tokens_col().alias("_w")
    )
    bg = arr.select(F.explode(pairs).alias("bg")).select("bg.w1", "bg.w2")

    def xlx(c):
        c = c.cast("long")
        return F.when(
            c > 0,
            c
            * F.floor(F.log(c.cast("double")) * F.lit(1000000.0)).cast(
                "long"
            ),
        ).otherwise(F.lit(0).cast("long"))

    c_bg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bigram"))
    c_l = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_left"))
    c_r = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c_right"))
    n_bg = bg.agg(F.count(F.lit(1)).alias("n_bg"))

    cells = (
        c_bg.where(F.col("c_bigram") >= min_count)
        .join(c_l, "w1")
        .join(c_r, "w2")
        .crossJoin(F.broadcast(n_bg))
        .select(
            "w1",
            "w2",
            "c_bigram",
            F.col("c_bigram").alias("k11"),
            (F.col("c_left") - F.col("c_bigram")).alias("k12"),
            (F.col("c_right") - F.col("c_bigram")).alias("k21"),
            (
                F.col("n_bg")
                - F.col("c_left")
                - F.col("c_right")
                + F.col("c_bigram")
            ).alias("k22"),
            F.col("c_left").alias("r1"),
            (F.col("n_bg") - F.col("c_left")).alias("r2"),
            F.col("c_right").alias("c1"),
            (F.col("n_bg") - F.col("c_right")).alias("c2"),
            F.col("n_bg"),
        )
    )
    scored = cells.select(
        "w1",
        "w2",
        "c_bigram",
        (
            F.lit(2)
            * (
                xlx(F.col("k11"))
                + xlx(F.col("k12"))
                + xlx(F.col("k21"))
                + xlx(F.col("k22"))
                + xlx(F.col("n_bg"))
                - xlx(F.col("r1"))
                - xlx(F.col("r2"))
                - xlx(F.col("c1"))
                - xlx(F.col("c2"))
            )
        ).alias("llr_micro"),
    )
    order = [
        F.col("llr_micro").desc(),
        F.col("w1").asc(),
        F.col("w2").asc(),
    ]
    return topk(scored, k, order).select(
        "rank", "w1", "w2", "c_bigram", "llr_micro"
    )


ZIPF_TOPK = 256  # fitted head; bounded so the rank window never skews


def zipf_fit(documents: DataFrame, k: int = ZIPF_TOPK) -> DataFrame:
    """Zipf rank-frequency fit over the corpus head — the one-row
    distribution health check (a natural-language corpus fits
    log f ~ -1.0 * log r; boilerplate floods and template spam bend the
    slope). Least squares over (x, y) = (floor(ln rank * 1e3),
    floor(ln count * 1e3)) for the top-k terms:

        slope_milli = (n*Sxy - Sx*Sy) * 1000 / (n*Sxx - Sx^2)

    Every log is ln-of-integer floored once (parity_ln_floor idiom) in
    MILLI-nats, all moments integer sums, and the one division is
    SIGN-SPLIT (the pca_power rule: Spark DIV truncates, DuckDB //
    floors — they agree only on non-negatives). Milli quantization is
    deliberate int64 headroom: micro-nat x*y terms would put n*Sxy at
    ~1.3e19 > int64. The intercept reuses the already-rounded slope —
    deterministic in both engines because both fold the same integers.

    Scale shape: term counts are one map-side-combined aggregate; the
    top-k head is TakeOrderedAndProject; the rank window runs over the
    k-row result, never the vocabulary.

    Output: n_terms, c_top, slope_milli, intercept_milli.
    """
    arr = _fan_out(documents.select("doc_id", "text")).select(
        lower_tokens_col().alias("_w")
    )
    uni = arr.select(F.explode(F.col("_w")).alias("token")).where(
        F.col("token") != ""
    )
    counts = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c_tok"))
    order = [F.col("c_tok").desc(), F.col("token").asc()]
    head = topk(counts, k, order).withColumn("rank", F.col("rank").cast("long"))

    def flog3(c):
        return F.floor(F.log(c.cast("double")) * F.lit(1000.0)).cast(
            "long"
        )

    xy = head.select(
        flog3(F.col("rank")).alias("x"),
        flog3(F.col("c_tok")).alias("y"),
        F.col("c_tok"),
    )
    mom = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max("c_tok").alias("c_top"),
    )

    mom2 = mom.select(
        F.col("n").alias("n_terms"),
        "c_top",
        "sx",
        "sy",
        F.col("n"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .alias("den"),
    )
    with_slope = mom2.select(
        "n_terms",
        "c_top",
        F.expr(
            "CASE WHEN num < 0 THEN -((abs(num) * 1000) DIV den)"
            " ELSE (num * 1000) DIV den END"
        ).alias("slope_milli"),
        "sx",
        "sy",
        "n",
    )
    return with_slope.select(
        "n_terms",
        "c_top",
        "slope_milli",
        F.expr(
            "CASE WHEN sy * 1000 - slope_milli * sx < 0"
            " THEN -(abs(sy * 1000 - slope_milli * sx) DIV (n * 1000))"
            " ELSE (sy * 1000 - slope_milli * sx) DIV (n * 1000) END"
        ).alias("intercept_milli"),
    )


def score_calibration(
    scores: DataFrame, verdicts: DataFrame, bin_width: int = 200
) -> DataFrame:
    """Reliability table for a learned quality scorer against an
    independent rule verdict — the calibration audit run before
    trusting a classifier threshold to prune a corpus: per score bin,
    how often does the rule-based filter (e.g. the C4 pass bit) agree?
    A well-calibrated scorer shows a monotone pass-rate column; a flat
    one means the score carries no signal at the chosen cut.

    `scores` is any per-doc (doc_id, score, label) relation
    (quality_classifier's shape); `verdicts` any per-doc
    (doc_id, pass) relation (c4/gopher flags' shape). Bin =
    floor(score / bin_width) via DOUBLE floor — exact and identical in
    both engines for |score| < 2^53, and true floor (not truncation)
    for negative scores, so no sign-split is needed.

    Scale shape: one doc_id equi-join of two per-doc relations (both
    already aggregated), then one map-side-combined aggregate over the
    bounded bin domain. Rate in basis points by integer DIV.

    Output: bin, n_docs, n_keep, n_pass, pass_rate_bp.
    """
    j = scores.select(
        "doc_id",
        F.floor(F.col("score").cast("double") / F.lit(float(bin_width)))
        .cast("long")
        .alias("bin"),
        (F.col("label") == "keep").cast("long").alias("_keep"),
    ).join(
        verdicts.select(
            "doc_id", F.col("pass").cast("long").alias("_pass")
        ),
        "doc_id",
    )
    return (
        j.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_keep").alias("n_keep"),
            F.sum("_pass").alias("n_pass"),
        )
        .select(
            "bin",
            "n_docs",
            "n_keep",
            "n_pass",
            F.expr("(n_pass * 10000) DIV n_docs").alias("pass_rate_bp"),
        )
    )


def good_turing(documents: DataFrame, max_r: int = 10) -> DataFrame:
    """Good-Turing count-of-counts table — the classic smoothed
    frequency estimator (Good 1953): for each raw count r, how many
    token types carry it (N_r), and the adjusted count
    r* = (r+1) * N_{r+1} / N_r in integer ppm. The r = 1 row's mass is
    the standard estimate of unseen-token probability, the quantity an
    OOV budget is sized from.

    Scale shape: token counts are one map-side-combined aggregate; the
    count-of-counts relation is bounded by the distinct count DOMAIN
    (tiny); the r+1 shift is a self-join of that tiny relation — no
    windows, no skew surface. r_star_ppm floors once per row
    ((r+1) * N_{r+1} * 1e6 DIV N_r — all integers); rows with no
    successor coalesce to 0, never NULL (the nullable-int gate rule).

    Output: r (the max_r smallest counts present), n_types,
    n_types_next, r_star_ppm.
    """
    arr = _fan_out(documents.select("doc_id", "text")).select(
        lower_tokens_col().alias("_w")
    )
    uni = arr.select(F.explode(F.col("_w")).alias("token")).where(
        F.col("token") != ""
    )
    counts = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    nr = counts.groupBy("c").agg(F.count(F.lit(1)).alias("n_types"))
    # the Good-Turing region is the low-count TAIL wherever it sits:
    # keep the max_r smallest distinct counts present (a synthetic or
    # boilerplate-heavy corpus may have no singletons at all)
    cur = (
        nr.orderBy(F.col("c").asc())
        .limit(max_r)
        .select(F.col("c").alias("r"), "n_types")
    )
    nxt = nr.select(
        (F.col("c") - 1).alias("r"), F.col("n_types").alias("_nn")
    )
    return (
        cur.join(F.broadcast(nxt), "r", "left")
        .select(
            "r",
            "n_types",
            F.coalesce("_nn", F.lit(0)).cast("long").alias(
                "n_types_next"
            ),
            F.expr(
                "((r + 1) * coalesce(_nn, 0) * 1000000) DIV n_types"
            ).alias("r_star_ppm"),
        )
    )


def lexical_richness(documents: DataFrame) -> DataFrame:
    """Type-token lexical diversity per source — the richness signal
    that separates organic prose (fat type inventory, thick hapax
    tail) from template spam (huge token mass, tiny vocabulary):
    type-token ratio and the hapax-legomena share, both in integer
    basis points.

    Scale shape: one (source, token) map-side-combined count — the
    only shuffle — then a per-source rollup of that bounded-by-
    vocabulary relation; no windows, no joins. TTR is corpus-size
    sensitive by nature; comparisons should be at like sizes (the
    n_tokens column is emitted so the consumer can stratify).

    Output: source, n_tokens, n_types, n_hapax, ttr_bp, hapax_bp.
    """
    arr = _fan_out(documents.select("source", "text")).select(
        "source", lower_tokens_col().alias("_w")
    )
    toks = arr.select(
        "source", F.explode(F.col("_w")).alias("token")
    ).where(F.col("token") != "")
    per_tok = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_tok.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("n_types * 10000 DIV n_tokens").alias("ttr_bp"),
            F.expr("n_hapax * 10000 DIV n_types").alias("hapax_bp"),
        )
    )


def token_burstiness(documents: DataFrame, k: int = 64) -> DataFrame:
    """Token burstiness (Fano factor) for the corpus head — the
    dispersion statistic (Church & Gale 1995) that separates BURSTY
    content words (a doc that says "spark" once says it ten times)
    from evenly-sprinkled function words, even at equal total counts.
    Over per-doc occurrence counts c_d (zero for absent docs):

        fano_bp = (N * s2 - s1^2) * 10000 DIV (N * s1)

    with s1 = sum c_d, s2 = sum c_d^2, N = corpus doc count — the
    variance-to-mean ratio scaled to basis points (10000 = Poisson;
    above = bursty). The numerator is >= 0 by Cauchy-Schwarz, so the
    single DIV never sees a negative (no sign-split needed). Absent
    docs contribute zero to both moments, so only occurrence rows are
    ever touched.

    Scale shape: one (doc, token) count aggregate, one per-token
    moment aggregate (both map-side combined), broadcast one-row N,
    TakeOrderedAndProject head by (s1 desc, token asc). Headroom:
    s1^2 overflows int64 past ~3e9 occurrences of one token —
    milli-scale the statistic past that.

    Output: rank, token, df, s1, fano_bp.
    """
    arr = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", lower_tokens_col().alias("_w")
    )
    toks = arr.select(
        "doc_id", F.explode(F.col("_w")).alias("token")
    ).where(F.col("token") != "")
    per_doc = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    mom = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    n = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = mom.crossJoin(F.broadcast(n)).select(
        "token",
        "df",
        "s1",
        F.expr(
            "(n_docs * s2 - s1 * s1) * 10000 DIV (n_docs * s1)"
        ).alias("fano_bp"),
    )
    order = [F.col("s1").desc(), F.col("token").asc()]
    return topk(scored, k, order).select("rank", "token", "df", "s1", "fano_bp")


def bigram_holdout(documents: DataFrame) -> DataFrame:
    """Held-out next-token prediction accuracy — the evaluation loop
    every language-model pipeline needs: train a bigram argmax
    predictor on the even-doc_id half, score top-1 accuracy on the odd
    half. The predictor per w1 is the max(struct(n, w2)) winner —
    lexicographic struct comparison in both engines (the landing_exit
    parity fact), deterministic under count ties (largest w2 wins).
    Unseen-context pairs (test w1 never trained) are counted
    separately — the coverage number that says whether accuracy even
    means anything.

    Shape: two zip-shift bigram streams (one per half, the
    bigram_logprob machinery), one (w1, w2) train aggregate, argmax
    per w1 as a second bounded aggregate, then ONE equi-join of test
    pairs against the vocabulary-bounded predictor relation — no
    windows, no skew surface (the predictor side is vocab-bounded and
    the join key is w1, map-side combinable).

    Output (1 row): n_pairs, n_covered, n_hits, coverage_bp, acc_bp
    (accuracy over covered pairs).
    """
    toks = F.col("_w")
    pairs = F.when(
        F.array_size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.array_size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    arr = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", lower_tokens_col().alias("_w")
    )
    bg = arr.select(
        (F.col("doc_id") % 2 == 0).alias("_train"),
        F.explode(pairs).alias("bg"),
    ).select("_train", "bg.w1", "bg.w2")

    train = (
        bg.where(F.col("_train"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pred = train.groupBy("w1").agg(
        F.max(
            F.struct(F.col("n"), F.col("w2").alias("p"))
        )["p"].alias("pred")
    )
    test = bg.where(~F.col("_train")).select("w1", "w2")
    scored = test.join(pred, "w1", "left")
    return scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("pred").isNotNull().cast("long")).alias(
            "n_covered"
        ),
        F.sum(
            (F.col("pred").isNotNull() & (F.col("pred") == F.col("w2")))
            .cast("long")
        ).alias("n_hits"),
    ).select(
        "n_pairs",
        "n_covered",
        "n_hits",
        F.expr(
            "n_covered * 10000 DIV greatest(n_pairs, 1)"
        ).alias("coverage_bp"),
        F.expr(
            "n_hits * 10000 DIV greatest(n_covered, 1)"
        ).alias("acc_bp"),
    )


def prefix_completions(
    documents: DataFrame, plen: int = 3, min_count: int = 5
) -> DataFrame:
    """Autocomplete table — the product feature a query-log pipeline
    feeds: for every `plen`-character prefix, the most frequent
    completion token and how dominant it is. Ties break to the LARGER
    token (the max(struct) winner — the engine-shared lexicographic
    rule), stated rather than invented around.

    Shape: one token-count aggregate, one (prefix) aggregate of that
    vocabulary-bounded relation with the max(struct(n, token)) winner
    and the prefix totals in the same pass — no windows, no joins;
    min_count gates noise prefixes. Output bounded by the prefix
    domain (<= alphabet^plen).

    Output: prefix, top_token, top_n, n_prefix_tokens,
    dominance_bp (top_n * 10000 DIV prefix total).
    """
    arr = _fan_out(documents.select("doc_id", "text")).select(
        lower_tokens_col().alias("_w")
    )
    uni = arr.select(F.explode(F.col("_w")).alias("token")).where(
        F.length("token") >= plen
    )
    counts = uni.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    per_prefix = (
        counts.select(
            F.substring("token", 1, plen).alias("prefix"),
            "token",
            "n",
        )
        .groupBy("prefix")
        .agg(
            F.max(
                F.struct(F.col("n"), F.col("token").alias("t"))
            ).alias("_top"),
            F.sum("n").alias("_tot"),
        )
    )
    return per_prefix.where(F.col("_tot") >= min_count).select(
        "prefix",
        F.col("_top.t").alias("top_token"),
        F.col("_top.n").cast("long").alias("top_n"),
        F.col("_tot").cast("long").alias("n_prefix_tokens"),
        F.expr("_top.n * 10000 DIV _tot").alias("dominance_bp"),
    )


def stump_finder(
    labeled: DataFrame, bucket: int = 64
) -> DataFrame:
    """Decision-stump trainer — the engine-side primitive of
    tree-based curation models: find the single length threshold that
    best separates a boolean label (e.g. the C4 pass bit), by exact
    integer information gain. Lengths histogram into `bucket`-char
    buckets; every bucket boundary is a candidate split; the winner
    maximizes

        score(t) = sum over sides of ( xlx(pos) + xlx(neg) - xlx(n) )

    which is -N * H(children) in the micro-nat xlx quantization
    (xlx(c) = c * floor(ln c * 1e6), the llr_collocations idiom) — so
    the argmax is the max-IG split, bit-exact in both engines.
    Tie-break: the SMALLEST winning threshold (min_by on the
    (-score, t) ordering via min(struct)).

    `labeled` is any (doc_id, n_chars-like value, label boolean)
    relation — the driver query feeds c4_quality_flags.

    Shape: one (bucket) histogram aggregate with conditional counts;
    the candidate sweep is a cumulative window over the BOUNDED bucket
    relation; the winner is a one-row struct-min. No per-doc work
    after the first aggregate.

    Output (1 row): split_bucket (right side starts here),
    n_left, n_left_pos, n_right, n_right_pos, score_micro.
    """
    def xlx(c):
        c = c.cast("long")
        return F.when(
            c > 0,
            c
            * F.floor(F.log(c.cast("double")) * F.lit(1000000.0)).cast(
                "long"
            ),
        ).otherwise(F.lit(0).cast("long"))

    hist = (
        labeled.select(
            (F.col("value").cast("long") / bucket)
            .cast("long")
            .alias("b"),
            F.col("label").cast("long").alias("_pos"),
        )
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_pos").alias("n_pos"),
        )
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = hist.agg(
        F.sum("n").alias("_tn"), F.sum("n_pos").alias("_tp")
    )
    cum = (
        hist.select(
            "b",
            F.sum("n").over(w).alias("ln"),
            F.sum("n_pos").over(w).alias("lp"),
        )
        .crossJoin(F.broadcast(tot))
        .where(F.col("ln") < F.col("_tn"))  # both sides non-empty
        .select(
            (F.col("b") + 1).alias("split_bucket"),
            F.col("ln").alias("n_left"),
            F.col("lp").alias("n_left_pos"),
            (F.col("_tn") - F.col("ln")).alias("n_right"),
            (F.col("_tp") - F.col("lp")).alias("n_right_pos"),
        )
    )
    scored = cum.select(
        "*",
        (
            xlx(F.col("n_left_pos"))
            + xlx(F.col("n_left") - F.col("n_left_pos"))
            - xlx(F.col("n_left"))
            + xlx(F.col("n_right_pos"))
            + xlx(F.col("n_right") - F.col("n_right_pos"))
            - xlx(F.col("n_right"))
        ).alias("score_micro"),
    )
    return scored.agg(
        F.min(
            F.struct(
                (-F.col("score_micro")).alias("ns"),
                F.col("split_bucket").alias("sb"),
                F.col("n_left").alias("nl"),
                F.col("n_left_pos").alias("nlp"),
                F.col("n_right").alias("nr"),
                F.col("n_right_pos").alias("nrp"),
            )
        ).alias("w")
    ).select(
        F.col("w.sb").alias("split_bucket"),
        F.col("w.nl").alias("n_left"),
        F.col("w.nlp").alias("n_left_pos"),
        F.col("w.nr").alias("n_right"),
        F.col("w.nrp").alias("n_right_pos"),
        (-F.col("w.ns")).alias("score_micro"),
    )


def nb_lang_holdout(documents: DataFrame) -> DataFrame:
    """Naive Bayes trained and evaluated inside the engine — the
    proof the pipeline can fit a real (if simple) classifier, not just
    score a shipped one: multinomial NB predicting the `lang` column
    from tokens, trained on even doc_ids, top-1 accuracy on odd.

    Integer discipline: every log-likelihood is ln of a ratio of
    integers floored ONCE to micro-nats (the tfidf/bm25 proven
    idiom) — Laplace-smoothed ((c+1) / (c_lang + V)) over the FULL
    vocab x lang grid so every train-vocab token scores under every
    language; priors likewise. A document's class score is then an
    integer SUM (order-free) and the argmax a max(struct) winner
    (ties to the larger lang, stated). Test tokens outside the train
    vocabulary contribute nothing (stated; the coverage column says
    how often that bites).

    Shape: train counts and the vocab x lang smoothing grid are
    vocabulary-bounded relations; scoring is ONE equi-join of the
    test token stream against that grid (map-side combinable on the
    token key), one (doc, lang) aggregate, one doc argmax, one final
    rollup. No windows.

    Output (1 row): n_train, n_test, n_scored, n_hits, acc_bp.
    """
    arr = _fan_out(documents.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", lower_tokens_col().alias("_w")
    )
    toks = arr.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 2 == 0).alias("_train"),
        F.explode(F.col("_w")).alias("token"),
    ).where(F.col("token") != "")

    tr = toks.where(F.col("_train"))
    c_lt = tr.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    c_l = tr.groupBy("lang").agg(F.count(F.lit(1)).alias("c_lang"))
    vocab = tr.select("token").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).alias("v"))
    grid = (
        vocab.crossJoin(F.broadcast(c_l))  # langs are tiny: broadcast
        # nested-loop, never a cartesian of the vocabulary
        .join(c_lt, ["lang", "token"], "left")
        .crossJoin(F.broadcast(v_size))
        .select(
            "token",
            "lang",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast(
                        "double"
                    )
                    / (F.col("c_lang") + F.col("v")).cast("double")
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("ll_micro"),
        )
    )
    n_docs = documents.select("doc_id", "lang").where(
        F.col("doc_id") % 2 == 0
    )
    n_train = n_docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("nd")
    )
    n_tot = n_docs.agg(F.count(F.lit(1)).alias("nt"))
    prior = n_train.crossJoin(F.broadcast(n_tot)).select(
        "lang",
        F.floor(
            F.log(F.col("nd").cast("double") / F.col("nt").cast("double"))
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("prior_micro"),
    )

    test = toks.where(~F.col("_train")).select(
        "doc_id", F.col("lang").alias("true_lang"), "token"
    )
    scored = (
        test.join(
            grid.withColumnRenamed("lang", "cand_lang"), "token"
        )
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(F.sum("ll_micro").alias("_s"))
        .join(
            F.broadcast(prior.withColumnRenamed("lang", "cand_lang")),
            "cand_lang",
        )
        .select(
            "doc_id",
            "true_lang",
            "cand_lang",
            (F.col("_s") + F.col("prior_micro")).alias("score"),
        )
    )
    pred = scored.groupBy("doc_id", "true_lang").agg(
        F.max(
            F.struct(F.col("score"), F.col("cand_lang").alias("p"))
        )["p"].alias("pred")
    )
    n_test_docs = documents.where(F.col("doc_id") % 2 != 0).agg(
        F.count(F.lit(1)).alias("n_test")
    )
    n_train_docs = n_tot.select(F.col("nt").alias("n_train"))
    return (
        pred.agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum(
                (F.col("pred") == F.col("true_lang")).cast("long")
            ).alias("n_hits"),
        )
        .crossJoin(F.broadcast(n_test_docs))
        .crossJoin(F.broadcast(n_train_docs))
        .select(
            "n_train",
            "n_test",
            "n_scored",
            "n_hits",
            F.expr(
                "n_hits * 10000 DIV greatest(n_scored, 1)"
            ).alias("acc_bp"),
        )
    )


def ngram_novelty(documents: DataFrame, max_n: int = 3) -> DataFrame:
    """N-gram novelty between corpus halves — the memorization /
    generalization dial of LLM data work (how much of tomorrow's text
    is literally yesterday's?): for n = 1..max_n, the share of the odd
    half's n-gram OCCURRENCES whose n-gram type never appears in the
    even half. High unigram novelty means vocabulary shift; high
    trigram novelty with low unigram novelty means new COMPOSITIONS of
    known words — the distinction that matters for dedup policy.

    Shape: per n one zip-shift gram stream per half (the bigram
    machinery generalized by joining n token slots), the train TYPE
    set map-side dedups, and novelty is a LEFT ANTI count — one
    equi-join per n on the gram key, everything vocabulary-bounded on
    the build side. Output: max_n rows.

    Output: n, n_test_grams, n_unseen, novelty_bp.
    """
    arr = _fan_out(documents.select("doc_id", "text")).select(
        "doc_id", lower_tokens_col().alias("_w")
    )
    out = None
    for n in range(1, max_n + 1):
        toks = F.col("_w")
        grams = F.when(
            F.array_size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.array_size(toks) - (n - 1)),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(toks, i + j) for j in range(n)],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        g = arr.select(
            (F.col("doc_id") % 2 == 0).alias("_train"),
            F.explode(grams).alias("gram"),
        ).where(F.col("gram") != "")
        train_types = g.where(F.col("_train")).select("gram").distinct()
        test = g.where(~F.col("_train")).select("gram")
        totals = test.agg(F.count(F.lit(1)).alias("n_test_grams"))
        unseen = test.join(train_types, "gram", "left_anti").agg(
            F.count(F.lit(1)).alias("n_unseen")
        )
        r = (
            totals.crossJoin(F.broadcast(unseen))
            .select(
                F.lit(n).alias("n"),
                "n_test_grams",
                "n_unseen",
                F.expr(
                    "n_unseen * 10000 DIV greatest(n_test_grams, 1)"
                ).alias("novelty_bp"),
            )
        )
        out = r if out is None else out.unionByName(r)
    return out


def serp_diversity(
    documents: DataFrame, terms: tuple, k: int = 20
) -> DataFrame:
    """Result-page diversity audit — the anti-domination check a
    search product runs on its own ranking: within the BM25 top-k,
    how many distinct sources appear and how big a share the most
    frequent one holds (one host owning the page is a relevance AND an
    abuse smell). Composes the exact bm25_topk ranking with a doc_id
    join back to the source column and one bounded rollup; the modal
    source is the max(struct(n, source)) winner (ties to the larger
    name, the engine-shared rule).

    Output (1 row): n_results, n_sources, top_source, top_n,
    top_share_bp.
    """
    top = bm25_topk(documents, terms, k=k).select("doc_id")
    j = top.join(documents.select("doc_id", "source"), "doc_id")
    per_src = j.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    return per_src.agg(
        F.sum("n").alias("n_results"),
        F.count(F.lit(1)).alias("n_sources"),
        F.max(
            F.struct(F.col("n"), F.col("source").alias("s"))
        ).alias("_top"),
    ).select(
        "n_results",
        "n_sources",
        F.col("_top.s").alias("top_source"),
        F.col("_top.n").cast("long").alias("top_n"),
        F.expr(
            "_top.n * 10000 DIV greatest(n_results, 1)"
        ).alias("top_share_bp"),
    )


def skipgram_counts(
    documents: DataFrame,
    window: int = 3,
    k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Skip-gram co-occurrence counts — the word2vec / GloVe corpus
    statistic (tokens co-occurring within a `window`-token span), the
    generalization of pmi_collocations' adjacent-only pairs. The
    window is materialized WITHOUT a self-join: one shifted zip-stream
    per offset 1..window (the bigram transform at i+o), unioned — each
    co-occurrence appears exactly once, in position order, then pairs
    canonicalize to (least, greatest) so left/right contexts merge.

    Scale shape: zero joins before the count — the pair stream is
    `window` projections of the same token arrays; one map-side-
    combined (a, b) aggregate; TakeOrderedAndProject top-k.

    Output: rank, w_a, w_b, n_cooc.
    """
    toks = F.col("_w")
    arr = _fan_out(documents.select("doc_id", "text")).select(
        lower_tokens_col().alias("_w")
    )
    def _pair_fn(o):
        # single-arg closure: a 2-arg lambda would make PySpark pass
        # the ARRAY INDEX as the second argument, clobbering `o`
        def f(i):
            return F.struct(
                F.least(
                    F.element_at(toks, i), F.element_at(toks, i + o)
                ).alias("a"),
                F.greatest(
                    F.element_at(toks, i), F.element_at(toks, i + o)
                ).alias("b"),
            )

        return f

    streams = []
    for o in range(1, window + 1):
        pairs = F.when(
            F.array_size(toks) >= o + 1,
            F.transform(
                F.sequence(F.lit(1), F.array_size(toks) - o),
                _pair_fn(o),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        streams.append(
            arr.select(F.explode(pairs).alias("p")).select(
                "p.a", "p.b"
            )
        )
    bg = streams[0]
    for s in streams[1:]:
        bg = bg.unionByName(s)
    counts = (
        bg.where((F.col("a") != "") & (F.col("b") != ""))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .where(F.col("n_cooc") >= min_count)
    )
    order = [F.col("n_cooc").desc(), F.col("a").asc(), F.col("b").asc()]
    return topk(counts, k, order).select(
        "rank", F.col("a").alias("w_a"), F.col("b").alias("w_b"), "n_cooc"
    )


VOCAB_BUDGETS = (256, 1024, 4096)


def vocab_coverage(
    documents: DataFrame, budgets: tuple = VOCAB_BUDGETS
) -> DataFrame:
    """Tokenizer-budget coverage curve — the sizing question every
    vocab decision answers: what share of all token OCCURRENCES does a
    top-k vocabulary cover? Computed EXACTLY without ever ranking the
    vocabulary: from the count-of-counts histogram (bounded by the
    distinct count DOMAIN), a cumulative window from the largest count
    down gives, for each budget k, the mass of all types strictly
    above the boundary count plus the partial tie slice
    (k - types_above) * c_boundary — the engagement_gini rank-block
    trick applied to coverage. Budgets where the whole vocabulary fits
    report full mass.

    Shape: one token-count aggregate, one count-domain histogram, one
    cumulative window over that tiny relation, budgets exploded
    against it. Output: len(budgets) rows.

    Output: budget, n_types_total, total_mass, covered_mass,
    coverage_bp.
    """
    arr = _fan_out(documents.select("doc_id", "text")).select(
        lower_tokens_col().alias("_w")
    )
    uni = arr.select(F.explode(F.col("_w")).alias("token")).where(
        F.col("token") != ""
    )
    counts = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    hist = counts.groupBy("c").agg(
        F.count(F.lit(1)).alias("m")
    ).select("c", "m", (F.col("c") * F.col("m")).alias("mass"))
    w = (
        Window.orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "c",
        "m",
        "mass",
        F.coalesce(F.sum("m").over(w), F.lit(0)).alias("_ta"),
        F.coalesce(F.sum("mass").over(w), F.lit(0)).alias("_ma"),
    )
    tot = hist.agg(
        F.sum("m").alias("n_types_total"),
        F.sum("mass").alias("total_mass"),
    )
    b = F.explode(
        F.array(*[F.lit(int(k)) for k in budgets])
    ).alias("budget")
    exploded = cum.select("*", b)
    boundary = exploded.where(
        (F.col("_ta") < F.col("budget"))
        & (F.col("_ta") + F.col("m") >= F.col("budget"))
    ).select(
        "budget",
        (
            F.col("_ma")
            + (F.col("budget") - F.col("_ta")) * F.col("c")
        ).alias("_bmass"),
    )
    budget_rows = counts.sparkSession.createDataFrame(
        [(int(k),) for k in budgets], "budget int"
    )
    return (
        budget_rows.crossJoin(F.broadcast(tot))
        .join(F.broadcast(boundary), "budget", "left")
        .select(
            "budget",
            "n_types_total",
            "total_mass",
            # no boundary row => the whole vocabulary fits the budget
            F.coalesce("_bmass", F.col("total_mass"))
            .cast("long")
            .alias("covered_mass"),
        )
        .select(
            "budget",
            "n_types_total",
            "total_mass",
            "covered_mass",
            F.expr(
                "covered_mass * 10000 DIV total_mass"
            ).alias("coverage_bp"),
        )
    )
