"""Per-sink aggregations, plus the skew-proof join for Zipf-heavy keys.

Domains are Zipf-distributed (the head domain owns ~20% of all pages), but
a count per (sink, domain) needs no salt: map-side combine (the partial
HashAggregate) sends at most one row per map task for any key, so the
hot key's reducer gets one row per map task however hot the key is.
Among this module's aggregates and joins, only `salted_skew_join` salts: a
non-broadcast join has no map-side combine to lean on. A top-k rank
needs no salt either: `topk`, the one top-k cut of the whole catalog,
leaves the map-side cut to Spark's window group limit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .session import materialize

DEFAULT_SALT_BUCKETS = 16


def epoch_day(col: str = "ts") -> Column:
    """The day of timestamp `col` (a column name or SQL expression) as
    a BIGINT count of days since 1970-01-01: the one epoch-day
    expression of the package. Under the UTC session every day starts
    at an epoch second divisible by 86400, so `epoch_day() * 86400` is
    the epoch second of the day's midnight."""
    return F.expr(f"unix_timestamp(date_trunc('day', {col})) DIV 86400")


def topk(
    df: DataFrame, k: int, order: Sequence[Column], by: Sequence = ()
) -> DataFrame:
    """The first k rows of `df` under `order` in each group of `by` (in
    the whole frame when `by` is empty), numbered 1..k in a new INT
    column `rank`. End `order` on a column unique within a group, so the
    cut is the same in any engine and on any input split.

    One `row_number()` window, filtered `rank <= k` directly above it:
    the shape Spark's InsertWindowGroupLimit optimizer rule rewrites
    when k is a literal no larger than
    `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000; no k
    in this catalog is above a few hundred). With `by`, each map task
    keeps k rows per group (`WindowGroupLimit ... Partial`) before the
    Exchange and the reducer cuts again (`... Final`), so a hot group
    sends at most k rows per map task however hot it is. Without `by`,
    the cut is a TakeOrderedAndProject (per-partition heaps) and the
    window numbers only its k rows. No task ranks a whole group, and no
    salt is needed."""
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def sink_counts(records: DataFrame) -> DataFrame:
    """Per-sink record counts (O4 grouped emission: zero-row sinks produce
    no group — 'lazy creation' for free)."""
    return records.groupBy("sink").agg(F.count(F.lit(1)).alias("records"))


def domain_counts(records: DataFrame) -> DataFrame:
    """Per-(sink, domain) record counts."""
    # try_parse_url: under ANSI mode (Spark 4 default) parse_url THROWS on
    # a malformed url and would fail the whole job; malformed -> NULL domain
    domain = F.try_parse_url(F.col("url"), F.lit("HOST")).alias("domain")
    return records.groupBy("sink", domain).agg(F.count(F.lit(1)).alias("records"))


def salted_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_col: str,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join for when `key` is Zipf-heavy in `fact` and
    `dim` is too large to broadcast: the fact side gets a deterministic
    row salt (hash of `salt_col`), the dim side is replicated once per
    salt value, and the join runs on (key, salt) — the head key's rows
    spread across `salt_buckets` reducers instead of one. Dim inflation
    costs |dim|·S rows, the price of removing the straggler. AQE's skew
    split stays on as a runtime net; the salt makes the plan skew-proof
    by construction.
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        # right/full-outer would surface each unmatched DIM key once per
        # salt replica (salt_buckets copies) — not equivalent to the
        # unsalted join, so refuse instead of silently duplicating
        raise ValueError(
            f"salted_skew_join supports fact-preserving joins only, got {how!r}"
        )
    fsalt = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(salt_buckets))
    )
    dsalt = dim.withColumn(
        "_salt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(salt_buckets - 1).cast("long"))
        ),
    )
    return fsalt.join(dsalt, [key, "_salt"], how).drop("_salt")


def trace_rollup(events: DataFrame, key: str = "trace_id") -> DataFrame:
    """Per-trace (or per-span) summary — the rollup a telemetry store
    serves ("how many events, when, which kinds") re-expressed as one
    aggregate: event order inside a group is recovered with sort_array
    over (ts_ns, name) structs, NOT a per-key window — the groupBy absorbs
    skewed traces map-side, and the digest is order-stable so any engine
    reproduces it.

    Output: <key>, n_events, first_ts_ns, last_ts_ns, names_md5.
    """
    return (
        events.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_ns").alias("first_ts_ns"),
            F.max("ts_ns").alias("last_ts_ns"),
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    F.col("ts_ns").alias("t"),
                                    F.col("event_name").alias("n"),
                                )
                            )
                        ),
                        lambda s: s["n"],
                    ),
                )
            ).alias("names_md5"),
        )
    )


def keyed_quota(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user daily quota enforcement — the crawl-budget/rate-cap
    operator: within each (user, event-time day) the first `k` arrivals
    (by ts, then event_id — deterministic) are `allowed`, the rest are
    deferred. The batch twin of streaming.keyed_quota_stateful, and the
    oracle-checked definition both must satisfy.

    Scale shape: ONE window partitioned by (user, day) — a bounded
    stratum (a user's single day), never a user's full history and never
    SinglePartition; the quota decision therefore shuffles each event
    exactly once on the same key the downstream per-key work would use.

    Output: event_id, user_id, win_start (epoch s), seq, allowed.
    """
    win = (epoch_day() * 86400).alias("win_start")
    w = Window.partitionBy("user_id", "win_start").orderBy("ts", "event_id")
    return (
        events.select("event_id", "user_id", "ts", win)
        .withColumn("seq", F.row_number().over(w))
        .select(
            "event_id",
            "user_id",
            "win_start",
            "seq",
            (F.col("seq") <= k).alias("allowed"),
        )
    )


#: the conversion funnel over the events table.
FUNNEL_STAGES = ("view", "click", "purchase")
#: default conversion window: each stage must complete within a day of
#: the previous one.
FUNNEL_WINDOW_S = 86_400


def funnel_stages(
    events: DataFrame, window_s: int = FUNNEL_WINDOW_S
) -> DataFrame:
    """Ordered conversion funnel — per user, how deep into the
    FUNNEL_STAGES sequence did they get, where stage i only counts if its FIRST
    qualifying event is STRICTLY after the user's stage-(i-1) completion
    time and within the window_s conversion window (a purchase before
    any click does not complete the funnel; one a month later does not
    either).

    Shape: one conditional-min aggregate per stage, chained — stage i's
    completion time is min(ts) of stage-i events joined against the
    stage-(i-1) table and filtered to ts > t_{i-1}. Everything is
    user-grain aggregates and equi-joins (bounded, uniform keys): no
    windows, no per-user collect_list, so one hyperactive user never
    funnels a task and memory stays flat. Since reaching stage i implies
    stage i-1, stage = sum of reached-flags.

    Output: user_id, stage (0..len(FUNNEL_STAGES)).
    """
    users = events.select("user_id").distinct()
    reached: list[DataFrame] = []
    prev: DataFrame | None = None
    for i, s in enumerate(FUNNEL_STAGES):
        ev = events.where(F.col("event_type") == s).select("user_id", "ts")
        if prev is None:
            cur = ev.groupBy("user_id").agg(F.min("ts").alias(f"_t{i}"))
        else:
            prev_t = F.col(f"_t{i - 1}")
            cur = (
                ev.join(prev, "user_id")
                .where(
                    (F.col("ts") > prev_t)
                    & (
                        F.col("ts")
                        <= prev_t + F.expr(f"INTERVAL {window_s} SECOND")
                    )
                )
                .groupBy("user_id")
                .agg(F.min("ts").alias(f"_t{i}"))
            )
        reached.append(cur.select("user_id", F.lit(1).alias(f"_s{i}")))
        prev = cur
    out = users
    for r in reached:
        out = out.join(r, "user_id", "left")
    stage = None
    for i in range(len(FUNNEL_STAGES)):
        flag = F.coalesce(F.col(f"_s{i}"), F.lit(0))
        stage = flag if stage is None else stage + flag
    return out.select("user_id", stage.cast("int").alias("stage"))


#: attribution policy of the batch operators and their streaming twins:
#: a conversion event is credited to the same user's touch events that
#: precede it within a 7-day lookback window.
ATTRIBUTION_TOUCH_TYPES = ("view", "click")
ATTRIBUTION_CONVERSION_TYPE = "purchase"
ATTRIBUTION_WINDOW_S = 7 * 86_400
ATTRIBUTION_WINDOW_US = ATTRIBUTION_WINDOW_S * 1_000_000


def cohort_retention(events: DataFrame) -> DataFrame:
    """Classic retention triangle: users are cohorted by the day of their
    first `signup` event; a cohort's day-N retention is the number
    of distinct cohort members with ANY activity N days after cohorting
    (day 0 = the cohort day itself; pre-cohort activity is excluded).

    Shape: one user-grain min-aggregate (the cohort table), one equi-join
    back to events on the user key, then a distinct over the bounded
    triple (cohort_day, offset, user) and a count — every stage is an
    algebraic aggregate or a uniform-key join; no windows, no per-user
    history materialization, so the plan is the same at 150 users and
    10^9 users (the distinct's key-space is users x horizon-days, the
    same order as the input).

    Output: cohort_day_s (epoch s, BIGINT), day_offset (INT),
    n_users (BIGINT).
    """
    day_s = epoch_day() * 86400
    cohort = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day_s).alias("cohort_day_s"))
    )
    return (
        events.select("user_id", day_s.alias("_day_s"))
        .join(cohort, "user_id")
        .where(F.col("_day_s") >= F.col("cohort_day_s"))
        .select(
            "cohort_day_s",
            F.expr("CAST((_day_s - cohort_day_s) DIV 86400 AS INT)").alias(
                "day_offset"
            ),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_day_s", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def _attribution_candidates(
    events: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The conversions (conv_id, user_id, conv_us) and every (conversion,
    touch) candidate pair of the attribution policy: the touch is the
    same user's, strictly earlier in (ts, event_id) order and within
    ATTRIBUTION_WINDOW_US. Both sides are bucketed by floor(ts_us /
    window); a conversion in bucket b can only match touches in buckets
    {b-1, b}, so each conversion probes exactly two buckets."""
    # parquet timestamps read as NTZ, which unix_micros rejects; the UTC
    # session timezone makes the LTZ cast an identical-instant no-op
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    window_us = ATTRIBUTION_WINDOW_US
    etype = F.col("event_type")
    conv = events.where(etype == ATTRIBUTION_CONVERSION_TYPE).select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id"),
        ts_us.alias("conv_us"),
    )
    touch = events.where(etype.isin(list(ATTRIBUTION_TOUCH_TYPES))).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id"),
        ts_us.alias("touch_us"),
        F.col("event_type").alias("touch_type"),
    )
    probes = conv.select(
        "conv_id",
        "user_id",
        "conv_us",
        F.explode(
            F.array(
                F.expr(f"conv_us DIV {window_us}"),
                F.expr(f"conv_us DIV {window_us} - 1"),
            )
        ).alias("_bucket"),
    )
    cand = probes.join(
        touch.withColumn("_bucket", F.expr(f"touch_us DIV {window_us}")),
        ["user_id", "_bucket"],
    ).where(
        (
            (F.col("touch_us") < F.col("conv_us"))
            | (
                (F.col("touch_us") == F.col("conv_us"))
                & (F.col("touch_id") < F.col("conv_id"))
            )
        )
        & (F.col("conv_us") - F.col("touch_us") <= F.lit(window_us))
    )
    return conv, cand


def attribution_last_touch(events: DataFrame) -> DataFrame:
    """Last-touch attribution — an as-of join: each conversion is matched
    to the user's latest touch event (view/click) that is strictly
    earlier (in (ts, event_id) order) and within the lookback window;
    conversions with no qualifying touch stay unattributed (-1 / 'none').

    Shape: a bounded RANGE-BUCKET join, not a per-user history window.
    Both sides are bucketed by floor(ts / window); a conversion in bucket
    b can only match touches in buckets {b-1, b}, so the conversion side
    is exploded into exactly two probe rows and equi-joined on
    (user, bucket). Candidates per conversion are bounded by the user's
    touches in <= 2 windows — a hyperactive user's multi-year history is
    never scanned, unlike the naive Window.partitionBy(user) as-of plan.
    The winner is one max(struct) aggregate per conversion (struct
    ordering = (ts_us, event_id): deterministic under ts ties).

    Output: conv_id, user_id, touch_id (-1 if none), touch_type ('none'
    if none), delta_us (-1 if none) — nullables coalesced in-engine so
    the oracle dtypes stay integral.
    """
    conv, cand = _attribution_candidates(events)
    cand = cand.groupBy("conv_id").agg(
        F.max(F.struct("touch_us", "touch_id", "touch_type")).alias("_t")
    )
    return conv.join(cand, "conv_id", "left").select(
        "conv_id",
        "user_id",
        F.coalesce(F.col("_t.touch_id"), F.lit(-1)).alias("touch_id"),
        F.coalesce(F.col("_t.touch_type"), F.lit("none")).alias("touch_type"),
        F.coalesce(
            F.col("conv_us") - F.col("_t.touch_us"), F.lit(-1)
        ).alias("delta_us"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """Day-scoped user-journey transition matrix: for each user, order
    the day's events by (ts, event_id) and count consecutive
    (from_type -> to_type) pairs, then normalize each row of the matrix
    to basis points of its from-state total. Cross-midnight edges are
    dropped BY DESIGN: the lag window is partitioned by (user, day) — a
    bounded stratum, never a user's full history — the same discipline
    as keyed_quota, so one hyperactive multi-year user cannot funnel a
    task.

    p_bp is integer floor division (n * 10000 DIV from_total): bit-exact
    across engines, no float summation order to disagree on.

    Output: from_type, to_type, n (BIGINT), p_bp (BIGINT).
    """
    w = Window.partitionBy("user_id", "_day_s").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "event_id", "ts",
                      (epoch_day() * 86400).alias("_day_s"),
                      F.col("event_type").alias("to_type"))
        .withColumn("from_type", F.lag("to_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("_tot"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 10000 DIV _tot").alias("p_bp"),
    )


#: width of the fixed value buckets of the HDR histograms: floor(value /
#: width) is a value's bucket in every histogram operator and its
#: streaming twin.
HDR_BUCKET_WIDTH = 10.0


def value_percentiles(
    events: DataFrame,
    qs: Sequence[int] = (50, 95, 99),
    key_col: str = "event_type",
) -> DataFrame:
    """HDR-histogram percentiles — the production latency-SLO shape: the
    raw double is quantized to fixed-width buckets with floor(value /
    width) (one IEEE divide + floor, bit-identical across engines — no
    round(), whose half-up/half-even rules differ), the per-(key, bucket)
    histogram is a map-side-combined aggregate, and percentile q is the
    smallest bucket whose running count reaches ceil(q% of total),
    computed with integer arithmetic ((q*total + 99) DIV 100).

    Shape: the cumulative window runs over the AGGREGATED histogram —
    bounded by keys x buckets, never per-event — so shuffle volume after
    the first aggregate is the histogram size, independent of row count;
    the same fixed-memory sketch discipline as heavy_hitters' CMS grid.
    Per-key totals come from a SECOND window over the same partition key
    (unbounded frame) rather than a separate aggregate branch: one events
    scan, one histogram exchange, zero joins — the naive totals-join plan
    scans the event stream twice.

    Output: <key_col>, q (INT), bucket (INT) — bucket * HDR_BUCKET_WIDTH
    is the percentile's lower bound.
    """
    b = F.floor(F.col("value") / F.lit(HDR_BUCKET_WIDTH)).cast("int")
    hist = (
        events.select(key_col, b.alias("bucket"))
        .groupBy(key_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(key_col)
    cum = hist.select(
        key_col,
        "bucket",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("_total"),
    )
    return (
        cum.select(
            key_col,
            "bucket",
            "cum",
            "_total",
            F.explode(F.array(*[F.lit(int(q)) for q in qs])).alias("q"),
        )
        .where(F.col("cum") >= F.expr("(q * _total + 99) DIV 100"))
        .groupBy(key_col, "q")
        .agg(F.min("bucket").alias("bucket"))
    )


def drift_psi(events: DataFrame) -> DataFrame:
    """Population-stability-index drift monitor — the production check
    that a metric's distribution has not shifted between two periods:
    events split into baseline/current by epoch-day parity (a
    content-independent rule), values histogram by the shared
    floor(value/width) bucketing, and

      PSI = sum over buckets of (pA - pB) * ln(pA / pB)

    computed entirely in integers: Laplace add-one smoothing on counts,
    probabilities in parts-per-million by integer DIV (floored at 1 so
    the log never sees zero), and each ln of the exact-integer ppm ratio
    floored ONCE per bucket to micro-nats (the char_entropy idiom) — so
    the distributed sum is order-free and bit-identical across engines.

    Shape: one scan, one (key, bucket) map-side-combined aggregate with
    conditional counts for the two sides, per-key totals broadcast back,
    and a final per-key sum — everything after the first aggregate is
    bounded by keys x buckets, independent of event count (the
    value_percentiles sketch discipline).

    Output: event_type, n_base, n_cur, psi_sum (all BIGINT; psi_sum is in
    ppm x micro-nat units — 1e-12 of a natural PSI point).
    """
    b = F.floor(F.col("value") / F.lit(HDR_BUCKET_WIDTH)).cast("int")
    g = (
        events.select(
            "event_type",
            b.alias("bucket"),
            (epoch_day() % 2 == 0).alias("_is_base"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count_if(F.col("_is_base")).alias("ca"),
            F.count_if(~F.col("_is_base")).alias("cb"),
        )
    )
    tot = g.groupBy("event_type").agg(
        F.sum(F.col("ca") + 1).alias("ta"),
        F.sum(F.col("cb") + 1).alias("tb"),
    )
    joined = (
        g.join(F.broadcast(tot), "event_type")
        .withColumn(
            "pa", F.expr("greatest(1, (ca + 1) * 1000000 DIV ta)")
        )
        .withColumn(
            "pb", F.expr("greatest(1, (cb + 1) * 1000000 DIV tb)")
        )
        .withColumn(
            "_term",
            (F.col("pa") - F.col("pb"))
            * F.floor(
                F.log(
                    F.col("pa").cast("double") / F.col("pb").cast("double")
                )
                * F.lit(1000000.0)
            ).cast("long"),
        )
    )
    return joined.groupBy("event_type").agg(
        F.sum("ca").alias("n_base"),
        F.sum("cb").alias("n_cur"),
        F.sum("_term").alias("psi_sum"),
    )


def bot_gap_stats(events: DataFrame) -> DataFrame:
    """Bot/automation signal from inter-event timing — the log-security
    classic: humans produce bursty, irregular gaps; scripted clients
    produce many events at near-constant intervals. Per (user, day) the
    consecutive-event gaps (milliseconds) are reduced to integer moments
    (n, sum, sum of squares, min, max), from which the caller reads the
    variance via n*sum2 - sum^2 without ever materializing a float.

    is_regular flags strata whose gaps are both numerous (>= 5) and
    near-constant — scaled variance below (mean/4)^2 per gap, expressed
    as the integer inequality n*sum2 - sum*sum < n * (sum DIV (4*n))^2 *
    n — engine-exact, no float thresholds.

    Shape: the lag window is partitioned by the bounded (user, day)
    stratum (the keyed_quota discipline — never a user's full history),
    then one map-side-combined aggregate; gap units are milliseconds, so
    sum-of-squares is day-bounded (<= day_ms * max_gap_ms ~ 7.5e15) and
    n * sum2 stays inside int64 up to ~1200 gaps per stratum — beyond
    that (pathological single-key floods) narrow the stratum to hours or
    widen the moments to DECIMAL.

    Output: user_id, win_start (epoch s), n_gaps, sum_gap_ms,
    sum_gap2_ms, min_gap_ms, max_gap_ms (BIGINT), is_regular (INT).
    """
    win = (epoch_day() * 86400).alias("win_start")
    ts_ms = F.expr("unix_micros(CAST(ts AS TIMESTAMP_LTZ)) DIV 1000")
    w = Window.partitionBy("user_id", "win_start").orderBy(
        "_ts_ms", "event_id"
    )
    gaps = (
        events.select("event_id", "user_id", win, ts_ms.alias("_ts_ms"))
        .withColumn("_gap", F.col("_ts_ms") - F.lag("_ts_ms").over(w))
        .where(F.col("_gap").isNotNull())
    )
    agg = gaps.groupBy("user_id", "win_start").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("_gap").alias("sum_gap_ms"),
        F.sum(F.col("_gap") * F.col("_gap")).alias("sum_gap2_ms"),
        F.min("_gap").alias("min_gap_ms"),
        F.max("_gap").alias("max_gap_ms"),
    )
    return agg.withColumn(
        "is_regular",
        (
            (F.col("n_gaps") >= 5)
            & (
                F.col("n_gaps") * F.col("sum_gap2_ms")
                - F.col("sum_gap_ms") * F.col("sum_gap_ms")
                < F.col("n_gaps")
                * F.expr("(sum_gap_ms DIV (4 * n_gaps))")
                * F.expr("(sum_gap_ms DIV (4 * n_gaps))")
                * F.col("n_gaps")
            )
        ).cast("int"),
    )


def anomaly_days(events: DataFrame) -> DataFrame:
    """Robust daily-volume anomaly monitor — the on-call dashboard
    classic: per key, flag days whose event count sits more than 3 MADs
    from the median. Median and MAD (median absolute deviation) are the
    robust location/scale pair that a single incident day cannot drag,
    unlike mean/stddev.

    Exactness: both medians are LOWER medians — the value at
    row_number (n+1) DIV 2 under a total order ((cnt, day) then
    (dev, day)) — so every statistic is an integer the engines agree on
    bit-for-bit; no float percentile interpolation. The anomaly rule
    dev > 3 * mad is a pure integer inequality (with mad = 0 it
    degenerates to dev > 0, exactly what a constant series wants).

    Shape: one events scan into a (key, day) map-side-combined count —
    after that everything is bounded by keys x days (a few thousand rows
    at any corpus size), so the two median windows partition by key over
    day-grain strata; per-event data never enters a window. The same
    aggregate-first discipline as value_percentiles.

    Output: event_type, n_days, med_cnt, mad, n_anomalies, max_dev
    (all BIGINT).
    """
    daily = (
        events.select("event_type", epoch_day().alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_all = Window.partitionBy("event_type")
    w_cnt = Window.partitionBy("event_type").orderBy("cnt", "day")
    # staged: window functions cannot nest, so rank/size land first and
    # the pick-the-median max-over runs in a second projection
    ranked = daily.select(
        "event_type",
        "day",
        "cnt",
        F.row_number().over(w_cnt).alias("_rn"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
    )
    med = ranked.select(
        "event_type",
        "day",
        "cnt",
        F.max(
            F.when(F.col("_rn") == F.expr("(_n + 1) DIV 2"), F.col("cnt"))
        )
        .over(w_all)
        .alias("med_cnt"),
    ).withColumn("dev", F.abs(F.col("cnt") - F.col("med_cnt")))
    w_dev = Window.partitionBy("event_type").orderBy("dev", "day")
    ranked_dev = med.select(
        "event_type",
        "med_cnt",
        "dev",
        F.row_number().over(w_dev).alias("_rn"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
    )
    scored = ranked_dev.select(
        "event_type",
        "med_cnt",
        "dev",
        F.max(
            F.when(F.col("_rn") == F.expr("(_n + 1) DIV 2"), F.col("dev"))
        )
        .over(w_all)
        .alias("mad"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("med_cnt").alias("med_cnt"),
        F.max("mad").alias("mad"),
        F.count_if(F.col("dev") > F.lit(3) * F.col("mad")).alias(
            "n_anomalies"
        ),
        F.max("dev").alias("max_dev"),
    )


def dau_wau(events: DataFrame) -> DataFrame:
    """DAU / trailing-WAU stickiness — the growth metric every product
    dashboard leads with: for each day, the distinct users active that
    day (DAU) and in the trailing 7-day window ending that
    day (WAU), plus stickiness = DAU/WAU in basis points (integer DIV).

    Shape: the event stream collapses FIRST to distinct (user, day) —
    map-side-combined, the only pass over raw events — then each
    user-day explodes into the 7 trailing windows it
    contributes to (a fixed 7x fan-out of the already-deduplicated
    user-day relation, NOT of the event stream), and a count-distinct
    per window day finishes the job. Phantom windows past the observed
    day range are dropped by an inner join against the tiny distinct-day
    relation (broadcast — it is bounded by the calendar). No windows over
    user histories, no range self-join; everything after the first
    aggregate is user-day grain.

    Output: day_s (epoch seconds, BIGINT), dau, wau (BIGINT),
    stickiness_bp (BIGINT).
    """
    ud = events.select("user_id", epoch_day().alias("d")).distinct()
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(
        F.count_distinct(F.col("user_id")).alias("dau")
    )
    wau = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.col("d") + F.lit(6))
            ).alias("wd"),
        )
        .join(F.broadcast(days.withColumnRenamed("d", "wd")), "wd")
        .groupBy("wd")
        .agg(F.count_distinct(F.col("user_id")).alias("wau"))
    )
    return (
        dau.join(wau, dau["d"] == wau["wd"])
        .select(
            (F.col("d") * 86400).alias("day_s"),
            "dau",
            "wau",
            F.expr("dau * 10000 DIV wau").alias("stickiness_bp"),
        )
    )


def session_paths(events: DataFrame) -> DataFrame:
    """Top-20 user-journey prefixes — the product-analytics "what do
    sessions look like" query: each (user, day) session is reduced to
    the '>'-joined sequence of its first 5 event types (ordered by ts,
    then event_id for engine-exact ties), identical prefixes are
    counted, and the 20 most common are ranked.

    Shape: the first 5 events are a `topk` by the bounded (user, day)
    stratum (the keyed_quota discipline); the prefix is assembled by
    sorting the collected (rank, type) structs INSIDE each group —
    array_sort on <= 5 elements, no second window. The final
    global top-k is `topk` without groups: Spark's group limit rule
    plans it as a TakeOrderedAndProject, so no task sorts the
    (unbounded) distinct-path domain.

    Output: rank (INT), path (STRING), n_sessions (BIGINT).
    """
    typed = events.select(
        "user_id",
        "event_id",
        "ts",
        (epoch_day() * 86400).alias("_day_s"),
        F.col("event_type").alias("_et"),
    )
    by_ts = [F.col("ts"), F.col("event_id")]
    paths = (
        topk(typed, 5, by_ts, by=["user_id", "_day_s"])
        .groupBy("user_id", "_day_s")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rank", "_et"))
                    ),
                    lambda x: x["_et"],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    order = [F.col("n_sessions").desc(), F.col("path").asc()]
    return topk(paths, 20, order).select("rank", "path", "n_sessions")


#: hex digits whose low bit is 0 — md5-parity arm assignment shared
#: with the SQL oracle (Spark md5 == DuckDB md5, lowercase hex).
AB_EVEN_HEX = ("0", "2", "4", "6", "8", "a", "c", "e")


def ab_metrics(events: DataFrame) -> DataFrame:
    """Deterministic A/B experiment readout — the growth-engineering
    staple: users are assigned an arm by the parity of the first hex
    digit of md5(user_id) (sticky, uniform, engine-portable — both
    engines produce identical lowercase-hex md5), then per event type
    the per-arm user counts, event counts, and value totals (floored to
    integer cents: one IEEE multiply + floor, bit-identical) are
    aggregated, with the events-per-user lift between arms in basis
    points by integer DIV.

    Shape: a single events scan into one map-side-combined aggregate
    with conditional branches per arm; count_distinct expands to the
    standard two-phase expand-aggregate. No joins, no windows, no
    per-user state — grain is event types.

    Output: event_type, a_users, b_users, a_events, b_events,
    a_value_c, b_value_c, lift_bp (all BIGINT).
    """
    is_a = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
        *AB_EVEN_HEX
    )
    cents = F.floor(F.col("value") * 100).cast("long")
    per_arm = events.select(
        "event_type",
        F.col("user_id").alias("_u"),
        is_a.alias("_a"),
        cents.alias("_c"),
    ).groupBy("event_type").agg(
        F.count_distinct(F.when(F.col("_a"), F.col("_u"))).alias("a_users"),
        F.count_distinct(F.when(~F.col("_a"), F.col("_u"))).alias("b_users"),
        F.count_if(F.col("_a")).alias("a_events"),
        F.count_if(~F.col("_a")).alias("b_events"),
        F.coalesce(
            F.sum(F.when(F.col("_a"), F.col("_c"))), F.lit(0)
        ).alias("a_value_c"),
        F.coalesce(
            F.sum(F.when(~F.col("_a"), F.col("_c"))), F.lit(0)
        ).alias("b_value_c"),
    )
    return per_arm.withColumn(
        "lift_bp",
        F.expr("a_events * 10000 DIV greatest(a_users, 1)")
        - F.expr("b_events * 10000 DIV greatest(b_users, 1)"),
    )


def trimmed_mean(events: DataFrame) -> DataFrame:
    """Robust (winsorizing) mean per key — the revenue/latency metric a
    single whale or timeout cannot drag: drop the histogram buckets
    whose mass lies entirely inside the bottom/top 5 percent,
    then average what remains. Trimming is BUCKET-grain (a boundary
    bucket straddling the cut is dropped whole): deterministic,
    documented, and engine-exact — the alternative, per-event rank
    trimming, needs an unbounded per-key sort at scale.

    A kept bucket satisfies cum_before >= lo AND cum <= hi with
    lo = (5*n + 99) DIV 100 and hi = (95*n) DIV 100 — pure
    integer thresholds on the cumulative histogram. Values enter as
    floor(value*100) cents (one IEEE multiply + floor, bit-identical),
    so the trimmed mean is an integer DIV of exact integers. When the
    trim empties the histogram (a key whose mass sits in one or two
    buckets), the op FALLS BACK to the raw mean — a 0 sentinel would
    read as a fabricated metric downstream. NULL values are excluded
    up front (a NULL bucket would also sort differently across
    engines: Spark NULLS FIRST vs DuckDB NULLS LAST).

    Shape: ONE events scan into a (key, bucket) map-side-combined
    count+sum histogram; the cumulative window and a per-key total
    window run over the AGGREGATED histogram (the value_percentiles
    discipline) — shuffle volume after the first aggregate is the
    histogram size, independent of event count, and the raw mean reads
    off the same totals (no second scan, no join).

    Output: event_type, n_events, n_kept, sum_kept_c (BIGINT),
    trimmed_mean_c, raw_mean_c (BIGINT, integer cents).
    """
    b = F.floor(F.col("value") / F.lit(HDR_BUCKET_WIDTH)).cast("int")
    cents = F.floor(F.col("value") * 100).cast("long")
    hist = (
        events.where(F.col("value").isNotNull())
        .select("event_type", b.alias("bucket"), cents.alias("_c"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_c").alias("s"),
        )
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "n",
        "s",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("n_total"),
        F.sum("s").over(w_all).alias("s_total"),
    ).withColumn(
        "_keep",
        (
            (F.col("cum") - F.col("n"))
            >= F.expr("(5 * n_total + 99) DIV 100")
        )
        & (F.col("cum") <= F.expr("(95 * n_total) DIV 100")),
    )
    return cum.groupBy("event_type").agg(
        F.max("n_total").alias("n_events"),
        F.coalesce(
            F.sum(F.when(F.col("_keep"), F.col("n"))), F.lit(0)
        ).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("_keep"), F.col("s"))), F.lit(0)
        ).alias("sum_kept_c"),
        F.max("s_total").alias("_s_total"),
    ).select(
        "event_type",
        "n_events",
        "n_kept",
        "sum_kept_c",
        F.expr(
            "CASE WHEN n_kept > 0 THEN sum_kept_c DIV n_kept"
            " ELSE _s_total DIV greatest(n_events, 1) END"
        ).alias("trimmed_mean_c"),
        F.expr("_s_total DIV greatest(n_events, 1)").alias("raw_mean_c"),
    )


def _covisit_kept(events: DataFrame, stratum_cap: int) -> DataFrame:
    """Distinct (user, day, item) strata with 2..stratum_cap items —
    the shared candidate relation of item_covisitation and
    item_similarity (the cap bounds any later pair fan-out at
    C(cap, 2) per stratum)."""
    items = (
        events.where(F.col("props").isNotNull())
        .select(
            "user_id",
            epoch_day().alias("day"),
            F.get_json_object(F.col("props"), "$.k").cast("long").alias(
                "item"
            ),
        )
        .where(F.col("item").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("user_id", "day")
    return items.withColumn("_n", F.count(F.lit(1)).over(w)).where(
        (F.col("_n") >= 2) & (F.col("_n") <= stratum_cap)
    )


def item_covisitation(
    events: DataFrame, min_support: int = 3, stratum_cap: int = 20
) -> DataFrame:
    """Item co-visitation counts — the raw signal behind "users who
    engaged with A also engaged with B" recommenders: for every pair of
    items a user touched on the SAME day, how many (user, day) strata
    co-visited both. Items are the integer `k` property of the event
    props JSON (the shared get_json_object/json_extract parity idiom).

    Scale shape: the pair fan-out is the dangerous part — a bot hitting
    10^4 items in a day would square into 10^8 pairs. Strata are
    therefore CAPPED: (user, day) groups with more than `stratum_cap`
    distinct items are dropped whole (deterministic, engine-exact, and
    the right call for recommendations — a crawler's co-visits are noise
    anyway). After the cap, the self-join fans out at most C(cap, 2)
    pairs per stratum, and the count is one map-side-combined aggregate
    keyed by the item pair. The stratum size comes from a window over
    the already-capped-cardinality stratum, not a join back.

    Output: item_a, item_b, n_covisits (BIGINT), support >= min_support.
    """
    kept = _covisit_kept(events, stratum_cap)
    a, b = kept.alias("a"), kept.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.day") == F.col("b.day"))
        & (F.col("a.item") < F.col("b.item")),
    ).select(
        F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_covisits"))
        .where(F.col("n_covisits") >= min_support)
    )


#: the trailing-baseline z-test of daily_anomalies and its streaming
#: twin: a day is anomalous when |n - mean| > ANOMALY_Z * stddev of the
#: previous 7 observed days, given at least ANOMALY_MIN_BASE_DAYS of them.
ANOMALY_Z = 2
ANOMALY_MIN_BASE_DAYS = 3


def daily_anomalies(events: DataFrame) -> DataFrame:
    """Volume-anomaly detection on the per-key daily series — the
    ops monitor that pages when a route's traffic jumps or craters.
    Complements anomaly_days (global median+MAD, robust to outliers but
    blind to slow drift): here the baseline is TRAILING, so a series
    whose level legitimately moved re-baselines within a week. Each
    day's event count is compared against its trailing baseline
    (the previous 7 OBSERVED days of the same key), flagging when

        |n - mean| > ANOMALY_Z * stddev

    evaluated entirely in integers via the equivalent cross-multiplied
    form (w*n - s1)^2 > z^2 * (w*s2 - s1^2), where s1/s2 are the
    baseline's sum and sum-of-squares and w its day count — no floats,
    no sqrt, bit-identical across engines. Days with fewer than
    ANOMALY_MIN_BASE_DAYS of history never flag.

    Scale shape: ONE raw-event scan into a (key, day) map-side-combined
    count; every window below runs over that AGGREGATED series — its
    size is keys x days, independent of event volume (the
    value_percentiles discipline), so the day-ordered frames cost
    nothing at any scale.

    Output: event_type, day, n_events, base_days, base_sum, is_anomaly.
    """
    daily = (
        events.select("event_type", epoch_day().alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    base = daily.select(
        "event_type",
        "day",
        "n_events",
        F.coalesce(F.count("n_events").over(w), F.lit(0)).alias("base_days"),
        F.coalesce(F.sum("n_events").over(w), F.lit(0)).alias("base_sum"),
        F.coalesce(F.sum(F.col("n_events") * F.col("n_events")).over(w),
                   F.lit(0)).alias("_s2"),
    )
    lhs = F.col("base_days") * F.col("n_events") - F.col("base_sum")
    rhs = F.lit(ANOMALY_Z * ANOMALY_Z) * (
        F.col("base_days") * F.col("_s2")
        - F.col("base_sum") * F.col("base_sum")
    )
    return base.select(
        "event_type",
        "day",
        "n_events",
        "base_days",
        "base_sum",
        (
            (F.col("base_days") >= ANOMALY_MIN_BASE_DAYS) & (lhs * lhs > rhs)
        ).alias("is_anomaly"),
    )


def weekday_profile(events: DataFrame) -> DataFrame:
    """Weekly-seasonality detector per key: the day-of-week traffic
    profile plus a chi-square uniformity statistic — organic human
    traffic has a weekly rhythm, schedulers and bots are flat (or
    single-day spiky), so both tails are signals.

    Weekday is pure integer arithmetic on the epoch day ((day + 3) % 7,
    0 = Monday) — no calendar/locale functions whose week conventions
    differ across engines. The statistic is the chi-square sum with
    each term floored once:

      chi2 = sum over weekdays of (7*o_d - total)^2 DIV (7*total)

    (the exact (o-e)^2/e with e = total/7, cross-multiplied so no
    fraction ever materializes; each term floors independently, so the
    7-term sum is order-free). is_seasonal flags chi2 >= 13
    (~the df=6, alpha=.05 critical value 12.59 rounded up).

    The chi-square sum runs over ALL SEVEN cells, including weekdays
    with zero events — a 6-day cron pattern's signal lives almost
    entirely in its silent day's (0-e)^2/e term, so summing only the
    observed cells would systematically under-score exactly the
    patterns this monitor exists to catch. The emitted profile likewise
    carries the zero rows.

    Shape: one scan into a (key, weekday) map-side-combined count; the
    7-cell grid comes from exploding a literal sequence against the
    per-key totals (keys x 7 rows, trivially small at any event count).

    Output: event_type, weekday, n_events, total, chi2, is_seasonal
    (chi2/is_seasonal repeated on each of the key's 7 rows).
    """
    prof = (
        events.select("event_type", ((epoch_day() + 3) % 7).alias("weekday"))
        .groupBy("event_type", "weekday")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = prof.groupBy("event_type").agg(F.sum("n_events").alias("total"))
    grid = tot.select(
        "event_type",
        "total",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(6).cast("long")))
        .alias("weekday"),
    )
    full = grid.join(prof, ["event_type", "weekday"], "left").select(
        "event_type",
        "weekday",
        "total",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias(
            "n_events"
        ),
    )
    term = F.expr("(7 * n_events - total) * (7 * n_events - total)"
                  " DIV (7 * total)")
    chi = (
        full.select("event_type", term.alias("_t"))
        .groupBy("event_type")
        .agg(F.sum("_t").alias("chi2"))
    )
    return (
        full.join(F.broadcast(chi), "event_type")
        .select(
            "event_type",
            "weekday",
            "n_events",
            "total",
            "chi2",
            (F.col("chi2") >= 13).alias("is_seasonal"),
        )
    )


def traffic_rollup(events: DataFrame) -> DataFrame:
    """Multi-level traffic rollup — ONE pass producing the (type,
    weekday) cells, the per-type subtotals, and the grand total, via
    Spark's ROLLUP operator (Catalyst expands the grouping sets into a
    single partial-aggregate tree — three separate groupBys would scan
    the events three times). grouping_id disambiguates the levels; the
    rolled-up weekday coalesces to -1 and the rolled-up key to 'ALL'
    (sentinels, not NULLs — the oracle gate rejects nullable integer
    columns, and sentinels keep the dtypes integral on both engines).

    Output: event_type, weekday, gid (0 cell / 1 type subtotal /
    3 grand total), n_events.
    """
    weekday = ((epoch_day() + 3) % 7).alias("weekday")
    base = events.select("event_type", weekday)
    return (
        base.rollup("event_type", "weekday")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.grouping_id().alias("gid"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("weekday"), F.lit(-1)).cast("long").alias(
                "weekday"
            ),
            F.col("gid").cast("long").alias("gid"),
            "n_events",
        )
    )


def props_schema_census(events: DataFrame) -> DataFrame:
    """Schema inference over the semi-structured props JSON — the audit
    that tells you what keys actually flow through an event stream and
    whether their values are still integers before anything downstream
    hard-codes a type: per (event_type, key) the occurrence count and
    how many values are integer-shaped.

    Portability: the JSON explodes via from_json to map<string,string>
    (the oracle uses json_each) and the integer test is a shared
    '^-?[0-9]+$' regex on the value's string form — bare digits in both
    engines for JSON numbers, quoted (hence non-matching) for JSON
    strings, so the flag agrees without a cross-engine type system.

    Shape: one scan, explode bounded by keys-per-object, one map-side-
    combined (type, key) aggregate — output bounded by the real schema
    size, never the event count.

    Output: event_type, key, n, n_int.
    """
    kv = events.where(F.col("props").isNotNull()).select(
        "event_type",
        F.explode(
            F.from_json(F.col("props"), "map<string,string>")
        ).alias("key", "value"),
    )
    return kv.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("value").rlike("^-?[0-9]+$")).alias("n_int"),
    )


def cusum_alerts(events: DataFrame) -> DataFrame:
    """CUSUM change-point alerts on each key's daily-count series — the
    control-chart complement to daily_anomalies (which flags single-day
    spikes against a trailing window): CUSUM accumulates SMALL persistent
    upward shifts that no single day would trip, the classic detector
    for a slow-ramp bot, a retry storm, or a misdeployed client.

    The textbook recurrence S_i = max(0, S_{i-1} + x_i - k) is
    sequential, which is poison for a distributed engine — but it has an
    exact closed form over prefix sums:

        S_i = P_i - min(0, min_{j<=i} P_j),   P_i = sum_{t<=i}(x_t - k)

    so the whole chart is two ordered window functions (prefix SUM and
    running MIN), no recursion, no UDF. Everything stays integral by
    scaling through n_days: the zero-mean deviation is
    d_i = n_days*x_i - total (sums to 0 exactly), the slack is
    total DIV 4 (= n_days * mean/4), and the
    alarm threshold is one full mean-day of cumulative excess,
    cusum > total — no floats, no division remainder games,
    bit-identical across engines.

    Scale shape: ONE raw-event scan collapses to the (key, day) series
    via a map-side-combined count; the per-key totals ride an
    unordered window over that aggregated series and the prefix
    sum/min ride an ordered one — the value_percentiles discipline
    (window work is keys x days, independent of event volume).

    Output: event_type, day, n_events, cusum (scaled by n_days),
    is_alarm.
    """
    daily = (
        events.select("event_type", epoch_day().alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w_key = Window.partitionBy("event_type")
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = daily.select(
        "event_type",
        "day",
        "n_events",
        F.sum("n_events").over(w_key).alias("_total"),
        F.count(F.lit(1)).over(w_key).alias("_ndays"),
    ).withColumn(
        "_step",
        F.col("_ndays") * F.col("n_events")
        - F.col("_total")
        - F.expr("_total DIV 4"),
    )
    prefix = scored.select(
        "event_type",
        "day",
        "n_events",
        "_total",
        F.sum("_step").over(w_ord).alias("_p"),
    ).withColumn("_pmin", F.min("_p").over(w_ord))
    cusum = F.col("_p") - F.least(F.lit(0), F.col("_pmin"))
    return prefix.select(
        "event_type",
        "day",
        "n_events",
        cusum.alias("cusum"),
        (cusum > F.col("_total")).alias("is_alarm"),
    )


def km_hazard(events: DataFrame) -> DataFrame:
    """Kaplan-Meier risk table over user lifetimes — the survival-
    analysis view of churn: how long does a user stay active, with the
    still-active tail handled honestly as RIGHT-CENSORED instead of
    counted as churn (the mistake naive retention averages make).

    Lifetime = last active day - first active day. A user whose last
    activity is within 7 days of the corpus's last day is
    censored (they may still be alive). Per distinct lifetime t the
    classic risk-table ingredients:

        n_at_risk(t) = users with lifetime >= t
        n_churned(t) = uncensored users with lifetime exactly t
        n_censored(t) = censored users with lifetime exactly t
        hazard_bp(t) = n_churned * 10000 DIV n_at_risk

    The S(t) product itself is deliberately NOT emitted: a sequential
    product of per-step ratios has no exact integer closed form, while
    the (n, d) table is the estimator's sufficient statistic — any
    consumer can fold it. Everything here is exact integer arithmetic,
    bit-identical across engines.

    Scale shape: ONE raw scan into the per-user min/max aggregate
    (map-side combined, keyed by user); the global last day, the
    per-lifetime rollup, and the reverse-cumulative n_at_risk all ride
    windows over relations bounded by users and distinct lifetimes —
    never event volume.

    Output: lifetime, n_at_risk, n_churned, n_censored, hazard_bp.
    """
    spans = (
        events.select("user_id", epoch_day().alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("d_first"), F.max("day").alias("d_last"))
    )
    dmax = spans.agg(F.max("d_last").alias("_dmax"))
    per_user = spans.crossJoin(F.broadcast(dmax)).select(
        (F.col("d_last") - F.col("d_first")).alias("lifetime"),
        (F.col("_dmax") - F.col("d_last") <= 7).alias("_cens"),
    )
    per_t = per_user.groupBy("lifetime").agg(
        F.count(F.lit(1)).alias("_n"),
        F.count_if(~F.col("_cens")).alias("n_churned"),
        F.count_if(F.col("_cens")).alias("n_censored"),
    )
    w_rev = (
        Window.partitionBy()
        .orderBy(F.col("lifetime").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at_risk = per_t.withColumn("n_at_risk", F.sum("_n").over(w_rev))
    return at_risk.select(
        "lifetime",
        "n_at_risk",
        "n_churned",
        "n_censored",
        F.expr("(n_churned * 10000) DIV n_at_risk").alias("hazard_bp"),
    )


def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the classic
    customer-value grid: per user the days since last activity, the
    event count, and the summed per-event floor(value*100) cents, each
    scored into quintiles 1..5 and fused into one rfm_code.

    Quintiles are EXACT and tie-consistent: every user sharing a metric
    value gets the same score, q(v) = 1 + (cum_users(<=v)-1)*5 DIV n —
    unlike ntile, which splits ties by arbitrary row order and needs a
    single global sort of all users. All three score maps come out of
    ONE pass: the per-user metrics melt (stack) into (metric, value)
    rows, one map-side-combined histogram groups them, and the
    cumulative windows run PARTITIONED BY METRIC over distinct values
    only (bounded by each metric's domain, not the user count); the
    tiny maps broadcast-join back. Recency inverts (6 - q) so score 5 =
    most recent, the standard RFM orientation.

    Scale shape: raw events scanned once per per-user-aggregate use
    (the scored base and the melt — two branches); no global sort, no
    single-partition pass over users anywhere, every window keyed.

    Output: user_id, recency, frequency, monetary_cents, r_score,
    f_score, m_score, rfm_code (r*100 + f*10 + m).
    """
    cents = F.floor(F.col("value") * F.lit(100)).cast("long")
    agg = (
        events.select(
            "user_id", epoch_day().alias("day"), cents.alias("_cents")
        )
        .groupBy("user_id")
        .agg(
            F.max("day").alias("_d_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("_cents").alias("monetary_cents"),
        )
    )
    dmax = agg.agg(F.max("_d_last").alias("_dmax"))
    per_user = agg.crossJoin(F.broadcast(dmax)).select(
        "user_id",
        (F.col("_dmax") - F.col("_d_last")).alias("recency"),
        "frequency",
        "monetary_cents",
    )
    melt = per_user.select(
        F.expr(
            "stack(3, 'recency', recency, 'frequency', frequency,"
            " 'monetary_cents', monetary_cents) AS (m, v)"
        )
    )
    hist = melt.groupBy("m", "v").agg(F.count(F.lit(1)).alias("_c"))
    w_cum = (
        Window.partitionBy("m")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qmap = hist.select(
        "m",
        "v",
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("m")).alias("_n"),
    ).select(
        "m", "v", (F.lit(1) + F.expr("((_cum - 1) * 5) DIV _n")).alias("q")
    )
    scored = per_user
    for metric in ("recency", "frequency", "monetary_cents"):
        mq = qmap.where(F.col("m") == metric).select(
            F.col("v").alias(metric), F.col("q").alias(f"_q_{metric}")
        )
        scored = scored.join(F.broadcast(mq), metric)
    return scored.select(
        "user_id",
        "recency",
        "frequency",
        "monetary_cents",
        (F.lit(6) - F.col("_q_recency")).alias("r_score"),
        F.col("_q_frequency").alias("f_score"),
        F.col("_q_monetary_cents").alias("m_score"),
        (
            (F.lit(6) - F.col("_q_recency")) * 100
            + F.col("_q_frequency") * 10
            + F.col("_q_monetary_cents")
        ).alias("rfm_code"),
    )


def engagement_gini(events: DataFrame) -> DataFrame:
    """Gini concentration of user activity per event type — the
    one-number answer to "is this feature used broadly or by a whale
    tail?", and the drift signal fraud teams watch (a bot cohort
    spikes concentration overnight).

    The Gini is EXACT, from the classic sorted-rank identity

        G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x))

    but computed WITHOUT any global sort of users: per distinct count
    value v with multiplicity m starting after cumulative rank r0, the
    block's rank-weighted mass is v * (m*r0 + m(m+1)/2) — so S comes
    from a cumulative window over the DISTINCT-COUNT HISTOGRAM (the
    rfm_segments discipline), m(m+1) is always even (exact), and the
    final bp value is one floor division.

    Scale shape: raw events collapse to (type, user) counts map-side;
    the histogram is (type, distinct count) — tiny; every window is
    partitioned by type over that histogram. No user-grain sort, no
    single-partition pass.

    Output: event_type, n_users, total_events, gini_bp.
    """
    per_user = (
        events.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hist = per_user.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).alias("m")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    blocks = hist.select(
        "event_type",
        "c",
        "m",
        (F.sum("m").over(w_cum) - F.col("m")).alias("r0"),
    ).select(
        "event_type",
        (F.col("m") * F.col("c")).alias("_t"),
        (
            F.col("c")
            * (
                F.col("m") * F.col("r0")
                + F.expr("m * (m + 1) DIV 2")
            )
        ).alias("_s"),
        F.col("m").alias("_m"),
    )
    agg = blocks.groupBy("event_type").agg(
        F.sum("_m").alias("n_users"),
        F.sum("_t").alias("total_events"),
        F.sum("_s").alias("_s_sum"),
    )
    return agg.select(
        "event_type",
        "n_users",
        "total_events",
        F.expr(
            "(2 * _s_sum - (n_users + 1) * total_events) * 10000"
            " DIV (n_users * total_events)"
        ).alias("gini_bp"),
    )


def user_entropy(events: DataFrame) -> DataFrame:
    """Per-user behavioral entropy over the event-type distribution, in
    integer micro-nats — the classic bot feature next to bot_gap_stats'
    timing signal: scripted clients hammer one action (H -> 0), organic
    users mix (H -> ln(n_types)).

    Same exact integer recipe as char_entropy (every transcendental
    term floored BEFORE the distributed sum, ln of integer-valued
    doubles proven bit-identical): H_micro = floor(1e6*ln(n)) -
    (sum_i floor(1e6 * c_i * ln(c_i))) DIV n.

    Scale shape: one (user, type) map-side-combined count (bounded by
    each user's type alphabet), one user_id aggregate. Zero joins, zero
    windows.

    Output: user_id, n_events, n_types, entropy_micro.
    """
    per = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    term = F.floor(
        F.log(F.col("c").cast("double")) * F.col("c") * F.lit(1000000)
    ).cast("long")
    return (
        per.groupBy("user_id")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(term).cast("long").alias("_s"),
        )
        .select(
            "user_id",
            "n_events",
            "n_types",
            (
                F.floor(
                    F.log(F.col("n_events").cast("double")) * F.lit(1000000)
                ).cast("long")
                - F.expr("_s DIV n_events")
            ).alias("entropy_micro"),
        )
    )


#: Poisson(1) pmf thresholds scaled to 2^16 (cum 0.36788, 0.73576,
#: 0.91970): a 16-bit hash below t0 -> weight 0, t1 -> 1, t2 -> 2,
#: else 3. Truncating at 3 changes total mass by < 2%% — documented
#: approximation, identical in both engines.
BOOTSTRAP_T = (24109, 48218, 60273)
BOOTSTRAP_B = 32


def bootstrap_ci(events: DataFrame) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-type mean value
    — the one-pass, shuffle-light resampling trick production analytics
    uses at scale (Chamandy et al., "Estimating uncertainty for massive
    data streams", Google 2012): instead of materializing B resamples,
    each row gets an independent pseudo-Poisson(1) weight per replicate
    and every replicate's mean is just a weighted aggregate.

    Determinism: the weight is a threshold ladder over the 16-bit
    prefix of md5('bs:' || event_id || ':' || replicate) (the
    canary_md5_conv idiom) against BOOTSTRAP_T — no RNG, identical
    replicas on any engine, any partitioning, any re-run. Replicate
    means are integer cents (one DIV); the CI is the 2nd-smallest /
    2nd-largest of the B=32 replicate means (a ~93.75% interval),
    picked from a sorted bounded array — no percentile interpolation
    to disagree on.

    Scale shape: the replicate fan-out explodes only (type, cents,
    weight-hash inputs) 32x in the scan stage; one map-side-combined
    (type, replicate) aggregate (32 x types rows), then a bounded
    collect_list per type. The full-sample mean rides its own tiny
    aggregate, broadcast-joined.

    Output: event_type, n_events, mean_c, ci_lo_c, ci_hi_c.
    """
    t0, t1, t2 = BOOTSTRAP_T
    cents = F.floor(F.col("value") * 100).cast("long")
    base = events.select(
        "event_type", F.col("event_id"), cents.alias("_c")
    ).withColumn(
        "_b", F.explode(F.sequence(F.lit(0), F.lit(BOOTSTRAP_B - 1)))
    )
    h16 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("bs:"),
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("_b").cast("string"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    weighted = base.withColumn(
        "_w",
        F.when(h16 < t0, F.lit(0))
        .when(h16 < t1, F.lit(1))
        .when(h16 < t2, F.lit(2))
        .otherwise(F.lit(3))
        .cast("long"),
    )
    reps = weighted.groupBy("event_type", "_b").agg(
        F.expr("sum(_w * _c) DIV greatest(sum(_w), 1)").alias("_mean")
    )
    ci = reps.groupBy("event_type").agg(
        F.sort_array(F.collect_list("_mean")).alias("_ms")
    )
    full = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "sum(cast(floor(value * 100) as bigint)) DIV count(*)"
        ).alias("mean_c"),
    )
    return full.join(F.broadcast(ci), "event_type").select(
        "event_type",
        "n_events",
        "mean_c",
        F.element_at("_ms", 2).alias("ci_lo_c"),
        F.element_at("_ms", BOOTSTRAP_B - 1).alias("ci_hi_c"),
    )


#: trending_items and its streaming twin weigh an item's last 16 days
#: and call it trending when most of the weight is in the last 3.
TRENDING_WINDOW_DAYS = 16
TRENDING_RECENT_DAYS = 3


def trending_items(events: DataFrame, min_events: int = 3) -> DataFrame:
    """Exponentially-decayed item popularity with a trending flag — the
    half-life-weighted leaderboard ("what is hot NOW, not what was hot
    all month") every product-analytics surface runs. Items are the
    integer `k` props key (the item_covisitation parity idiom); the
    decay is EXACT: a day aged `a` days (newest = 0) weighs
    2^(TRENDING_WINDOW_DAYS-1-a), a power-of-two BIGINT shift, so every
    weight, sum, and comparison is integer — no float half-life anywhere.
    Days older than TRENDING_WINDOW_DAYS carry zero weight and are dropped in
    the scan (a deliberate truncated tail: with a 1-day half-life the
    dropped mass is < 2^-15 of the head).

    `trending` fires when more than half the decayed mass landed in the
    last TRENDING_RECENT_DAYS days — an integer cross-multiply, no ratios.

    Scale shape: one scan -> one map-side-combined aggregate keyed by
    item; the newest day is a broadcast one-row scalar; output is
    bounded by the live-item domain. Weight headroom: 2^15 * count
    overflows int64 only past ~2.8e14 events per item-day.

    Output: item, n_events, w_total, w_recent, trending (0/1).
    """
    it = (
        events.where(
            F.col("props").isNotNull()
            & F.get_json_object("props", "$.k").isNotNull()
        )
        .select(
            F.get_json_object("props", "$.k").cast("long").alias("item"),
            epoch_day().alias("_day"),
        )
    )
    dmax = it.agg(F.max("_day").alias("_dmax"))
    aged = (
        it.crossJoin(F.broadcast(dmax))
        .where(F.col("_dmax") - F.col("_day") < TRENDING_WINDOW_DAYS)
        .select(
            "item",
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST({TRENDING_WINDOW_DAYS - 1} - (_dmax - _day) AS INT))"
            ).alias("w"),
            (F.col("_dmax") - F.col("_day") < TRENDING_RECENT_DAYS).alias(
                "_rec"
            ),
        )
    )
    agg = aged.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("w").alias("w_total"),
        F.sum(F.when(F.col("_rec"), F.col("w")).otherwise(0)).alias(
            "w_recent"
        ),
    )
    return agg.where(F.col("n_events") >= min_events).select(
        "item",
        "n_events",
        "w_total",
        "w_recent",
        (2 * F.col("w_recent") > F.col("w_total"))
        .cast("long")
        .alias("trending"),
    )


def item_similarity(events: DataFrame, min_support: int = 5) -> DataFrame:
    """Item-item cosine similarity over co-visitation strata — the
    normalization step that turns raw "bought together" counts into a
    recommender's neighbor lists (frequent items stop winning merely by
    being frequent). Over the same capped (user, day, item) relation as
    item_covisitation:

        sim_sq_bp = n_covisits^2 * 10000 DIV (n_a * n_b)

    the SQUARED cosine in basis points — squaring instead of rooting
    keeps the entire statistic integer (no sqrt exists that both
    engines floor identically). n_a is the number of kept strata
    containing item a, so the marginals and the pair counts come from
    the same relation by construction.

    Scale shape: the pair fan-out inherits item_covisitation's stratum
    cap (C(cap,2) per stratum, worst case); the per-item degree is one
    map-side aggregate over the kept relation, broadcast back onto the
    (already support-gated) pair relation; the final top-50 is `topk`
    (a TakeOrderedAndProject). Headroom: n_covisits^2 * 10^4 overflows
    int64 past ~10^7 co-visits per pair.

    Output: rank, item_a, item_b, n_covisits, n_a, n_b, sim_sq_bp.
    """
    kept = _covisit_kept(events, 20)
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .select(
            F.col("a.item").alias("item_a"),
            F.col("b.item").alias("item_b"),
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_covisits"))
        .where(F.col("n_covisits") >= min_support)
    )
    deg = kept.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    scored = (
        pairs.join(
            F.broadcast(
                deg.select(
                    F.col("item").alias("item_a"),
                    F.col("n_item").alias("n_a"),
                )
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                deg.select(
                    F.col("item").alias("item_b"),
                    F.col("n_item").alias("n_b"),
                )
            ),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "n_covisits",
            "n_a",
            "n_b",
            F.expr(
                "(n_covisits * n_covisits * 10000) DIV (n_a * n_b)"
            ).alias("sim_sq_bp"),
        )
    )
    order = [
        F.col("sim_sq_bp").desc(),
        F.col("item_a").asc(),
        F.col("item_b").asc(),
    ]
    return topk(scored, 50, order).select(
        "rank", "item_a", "item_b", "n_covisits", "n_a", "n_b", "sim_sq_bp"
    )


def disorder_audit(events: DataFrame) -> DataFrame:
    """Event-time disorder census — the measurement that SIZES a
    watermark: how late does an event arrive relative to the newest
    event already ingested in its stratum, in exact microseconds?
    Ingest order is the monotone event_id; an event is late when its
    timestamp precedes the running maximum of previously-ingested
    timestamps. `max_late_us` is the smallest watermark delay that
    would have lost nothing; the late share tells you what a tighter
    one drops.

    Scale shape: the running max is a window over (user, day) STRATA
    ordered by event_id — bounded per stratum, never a global or
    per-day-only ordering (the posting_lists skew rule), at the
    documented cost that cross-day and cross-user disorder is not
    measured (intra-stratum disorder is what intraday watermarks care
    about). Timestamps go through the TIMESTAMP_LTZ cast so
    unix_micros matches DuckDB's epoch_us exactly (parity_epoch_us).

    Output per event_type: n_events, n_late, max_late_us, sum_late_us.
    """
    ts_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP_LTZ))")
    w = (
        Window.partitionBy("user_id", "_day")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rows = events.select(
        "event_id",
        "user_id",
        "event_type",
        epoch_day().alias("_day"),
        ts_us.alias("_us"),
    ).withColumn("_runmax", F.max("_us").over(w))
    late = rows.select(
        "event_type",
        F.when(
            F.col("_runmax").isNotNull() & (F.col("_us") < F.col("_runmax")),
            F.col("_runmax") - F.col("_us"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("late_us"),
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("late_us") > 0).cast("long")).alias("n_late"),
        F.max("late_us").alias("max_late_us"),
        F.sum("late_us").alias("sum_late_us"),
    )


def _benford_pm() -> list:
    """floor(log10(1 + 1/d) * 1000) for d = 1..9 — computed ONCE here
    and embedded as literals in both engines (301, 176, 124, ...)."""
    import math

    return [
        math.floor(math.log10(1 + 1 / d) * 1000) for d in range(1, 10)
    ]


def benford_audit(events: DataFrame) -> DataFrame:
    """Benford first-digit census of the value column — the
    fraud/synthetic-data smell test: organically-grown magnitudes lead
    with 1 about 30.1% of the time; fabricated or uniformly-generated
    ones don't. Per (event_type, digit): observed count, observed share
    in per-mille, the quantized Benford expectation, and the signed
    deviation.

    Integer discipline: amounts go through the one floored-cents
    projection (pricing_rollup rule); the first digit is the first
    character of the BIGINT's decimal string (identical rendering in
    both engines — no float log10 per row); expectations are the
    _benford_pm literals; shares are integer DIV per-mille. Zero and
    negative amounts carry no leading digit and are excluded by the
    same predicate in both engines.

    Scale shape: one scan -> one map-side-combined (type, digit)
    aggregate (<= 9 rows per type); per-type totals via a SECOND
    window over the same tiny relation (the value_percentiles
    one-scan-zero-joins trick).

    Output: event_type, digit, n_total, n_obs, obs_pm, p_pm, dev_pm.
    """
    pm = _benford_pm()
    digits = (
        events.select(
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("_c"),
        )
        .where(F.col("_c") > 0)
        .select(
            "event_type",
            F.substring(F.col("_c").cast("string"), 1, 1)
            .cast("int")
            .alias("digit"),
        )
    )
    agg = digits.groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    w = Window.partitionBy("event_type")
    p_expr = F.element_at(
        F.array(*[F.lit(p) for p in pm]), F.col("digit")
    ).cast("long")
    return (
        agg.withColumn("n_total", F.sum("n_obs").over(w))
        .select(
            "event_type",
            "digit",
            "n_total",
            "n_obs",
            F.expr("(n_obs * 1000) DIV n_total").alias("obs_pm"),
            p_expr.alias("p_pm"),
            (
                F.expr("(n_obs * 1000) DIV n_total") - p_expr
            ).alias("dev_pm"),
        )
    )


KMV_K = 64
KMV_HASH_BITS = 52  # 13 md5 hex digits: (k-1) * 2^52 stays inside int64


def kmv_audit(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """K-minimum-values distinct-count sketch with its exact audit —
    the third leg of the sketch stool next to CMS (frequency) and HLL
    (the engine's own distinct estimator): KMV is the one you build
    when the sketch must be MERGEABLE across shards with plain min
    logic and auditable from first principles. Per event type, hash
    every distinct user to 52 bits (13 md5 hex digits, the
    canary_md5_conv conv idiom — 52 and not 60 because the estimator
    multiplies (k-1) * 2^bits and 63 * 2^60 would overflow int64),
    keep the k smallest, and estimate

        est = (k - 1) * 2^52 DIV h_k      (h_k = the kth smallest)

    with the exact distinct count and the error in bp beside it. Keys
    with fewer than k distinct users report their exact count
    (est = n, err = 0) — the sketch IS exact below k.

    Scale shape: the distinct (type, user) relation map-side dedups;
    the k-smallest selection is `topk` per type, whose map-side group
    limit keeps a Zipf-hot type from funneling one task; everything
    after runs on <= k rows per type. The estimate is pure BIGINT;
    bottom-of-range hash collisions at 52 bits are birthday-negligible
    for the k smallest even at billions of keys.

    Output: event_type, n_exact, h_k, est, err_bp.
    """
    pairs = events.select("event_type", "user_id").distinct()
    # the k-min set is over DISTINCT HASH VALUES (the standard KMV
    # formulation) — this is what makes the sketch maintainable in a
    # fixed-width streaming state (kmv_stream's twin contract); it
    # coincides with distinct-user k-mins absent 52-bit collisions
    hashed = pairs.select(
        "event_type",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id"))), 1, 13
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    kept = topk(hashed, k, [F.col("h").asc()], by=["event_type"])
    sk = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.max("h").alias("h_k"),
    )
    exact = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    two60 = 1 << KMV_HASH_BITS
    return (
        exact.join(F.broadcast(sk), "event_type")
        .select(
            "event_type",
            "n_exact",
            "h_k",
            F.when(
                F.col("_n_kept") < k, F.col("n_exact")
            )
            .otherwise(
                F.expr(f"({k} - 1) * CAST({two60} AS BIGINT) DIV h_k")
            )
            .cast("long")
            .alias("est"),
        )
        .select(
            "event_type",
            "n_exact",
            "h_k",
            "est",
            F.expr(
                "abs(est - n_exact) * 10000 DIV n_exact"
            ).alias("err_bp"),
        )
    )


def conversion_latency(events: DataFrame) -> DataFrame:
    """Time-to-convert distribution — the funnel-health number behind
    "how long after the ad click does the purchase land": the as-of
    attribution join's delta_us, bucketed to minutes and reduced to
    HDR percentiles (p50 and p95). Composes two proven shapes end to
    end: the RANGE-BUCKET as-of join (attribution_last_touch — bounded probe
    fan-out, never a user-history window) feeds the histogram
    percentile rule (value_percentiles — cumulative window over the
    bounded (touch_type, bucket) domain, percentile q = smallest
    bucket whose running count reaches ceil(q% of total), integer
    ((q*total + 99) DIV 100)). Unattributed conversions (delta -1)
    are excluded before bucketing; delta_us >= 0 so the DIV is
    sign-safe.

    Output: touch_type, q (INT), bucket (INT — bucket * 1 min is the
    percentile's lower bound), n_conv.
    """
    at = attribution_last_touch(events).where(F.col("delta_us") >= 0)
    hist = (
        at.select(
            "touch_type",
            F.expr("CAST(delta_us DIV 60000000 AS INT)").alias("bucket"),
        )
        .groupBy("touch_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_cum = (
        Window.partitionBy("touch_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("touch_type")
    cum = hist.select(
        "touch_type",
        "bucket",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("_total"),
    )
    return (
        cum.select(
            "touch_type",
            "bucket",
            "cum",
            "_total",
            F.explode(F.array(F.lit(50), F.lit(95))).alias("q"),
        )
        .where(F.col("cum") >= F.expr("(q * _total + 99) DIV 100"))
        .groupBy("touch_type", "q")
        .agg(
            F.min("bucket").alias("bucket"),
            F.min("_total").alias("n_conv"),
        )
    )


def apdex_score(events: DataFrame) -> DataFrame:
    """Apdex — the industry-standard satisfaction rollup of a latency
    column with T = 10: satisfied (value <= T), tolerating
    (T < value <= 4T), frustrated (the rest); score = (satisfied +
    tolerating/2) / total,
    here in exact per-mille: (1000*sat + 500*tol) DIV total. The
    thresholds compare the raw double against the T literals directly
    (no quantization needed — comparisons are exact in IEEE), so both
    engines count identical sets.

    Scale shape: one scan, one map-side-combined aggregate per event
    type with three conditional counts — the cheapest SLO dashboard
    query there is.

    Output: event_type, n_events, n_satisfied, n_tolerating,
    apdex_pm.
    """
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("value") <= 10.0).cast("long")
            ).alias("n_satisfied"),
            F.sum(
                (
                    (F.col("value") > 10.0)
                    & (F.col("value") <= 40.0)
                ).cast("long")
            ).alias("n_tolerating"),
        )
        .select(
            "event_type",
            "n_events",
            "n_satisfied",
            "n_tolerating",
            F.expr(
                "(1000 * n_satisfied + 500 * n_tolerating)"
                " DIV n_events"
            ).alias("apdex_pm"),
        )
    )


def landing_exit(events: DataFrame) -> DataFrame:
    """Landing / exit / bounce report — the classic session-edge
    dashboard: treating each (user, day) stratum as a session, which
    event type opens it, which closes it, and how many sessions are
    single-event bounces of that type.

    Shape: ONE window-free aggregate over (user, day) using
    min/max OF A STRUCT (ts_us, event_id, event_type) — lexicographic
    field-order comparison in BOTH engines (Spark struct ordering ==
    DuckDB named-struct ordering; arg_min/arg_max were rejected
    because DuckDB's take only scalar keys) — deterministic under
    timestamp ties via the event_id field; then a bounded rollup per
    event type. No per-user history window anywhere (the keyed_quota
    stratum discipline).

    Output per event_type: n_landing, n_exit, n_bounce.
    """
    ts_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP_LTZ))")
    key = F.struct(
        ts_us.alias("u"),
        F.col("event_id").alias("e"),
        F.col("event_type").alias("t"),
    )
    sess = events.groupBy("user_id", epoch_day().alias("_day")).agg(
        F.min(key)["t"].alias("landing"),
        F.max(key)["t"].alias("exit"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    landing = sess.groupBy(F.col("landing").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_landing"),
        F.sum((F.col("n_ev") == 1).cast("long")).alias("n_bounce"),
    )
    exits = sess.groupBy(F.col("exit").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_exit")
    )
    return (
        landing.join(F.broadcast(exits), "event_type", "full")
        .select(
            "event_type",
            F.coalesce("n_landing", F.lit(0)).cast("long").alias(
                "n_landing"
            ),
            F.coalesce("n_exit", F.lit(0)).cast("long").alias("n_exit"),
            F.coalesce("n_bounce", F.lit(0)).cast("long").alias(
                "n_bounce"
            ),
        )
    )


def data_quality_checks(
    events: DataFrame, customer: DataFrame
) -> DataFrame:
    """Deequ-style constraint suite — the validation pass a pipeline
    runs BEFORE publishing a table, as data: one row per check with
    the violation count, so regressions are diffable instead of
    boolean. Checks: primary-key uniqueness (event_id), non-negative
    amounts, timestamps inside the sane [2020, 2030) window,
    referential integrity of user_id against the customer dimension
    (LEFT ANTI against a broadcast key set), and props being a valid
    JSON OBJECT when present (Spark's from_json-NULL == DuckDB's
    json_valid AND json_type='OBJECT' — checked for the
    valid-but-not-object '5' / '[1]' edge in the pytest).

    Shape: each check is one scan-stage predicate folded into a single
    shared aggregate (one pass over events), except the FK check's
    anti-join — broadcast, so the fact never shuffles; the result is a
    6-row relation.

    Output: check_name, n_checked, n_violations, passed (0/1).
    """
    ts_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP_LTZ))")
    lo = 1577836800000000  # 2020-01-01 UTC in us
    hi = 1893456000000000  # 2030-01-01 UTC in us
    base = events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.sum((F.col("value") < 0).cast("long")).alias("n_neg"),
        F.sum(((ts_us < lo) | (ts_us >= hi)).cast("long")).alias(
            "n_ts_bad"
        ),
        F.sum(
            (
                F.col("props").isNotNull()
                & F.from_json(
                    F.col("props"), "map<string,string>"
                ).isNull()
            ).cast("long")
        ).alias("n_json_bad"),
        F.sum(F.col("props").isNotNull().cast("long")).alias(
            "n_props"
        ),
    )
    fk_bad = (
        events.select("user_id")
        .join(
            F.broadcast(customer.select(F.col("c_custkey").alias("user_id"))),
            "user_id",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_fk_bad"))
    )
    j = base.crossJoin(F.broadcast(fk_bad))
    checks = [
        ("pk_unique_event_id", "n_rows", "n_rows - n_ids"),
        ("value_non_negative", "n_rows", "n_neg"),
        ("ts_in_sane_range", "n_rows", "n_ts_bad"),
        ("fk_user_in_customer", "n_rows", "n_fk_bad"),
        ("props_valid_json_object", "n_props", "n_json_bad"),
    ]
    rows = None
    for name, checked, viol in checks:
        r = j.select(
            F.lit(name).alias("check_name"),
            F.expr(checked).cast("long").alias("n_checked"),
            F.expr(viol).cast("long").alias("n_violations"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.select(
        "check_name",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).cast("long").alias("passed"),
    )


def table_profile(events: DataFrame) -> DataFrame:
    """Column-level data profile — the Deequ/Great-Expectations
    "describe this table" pass, one row per column: null count, exact
    distinct count, min/max, and the modal value with its frequency.
    Every value is CANONICALIZED to a cross-engine-stable string
    first: BIGINTs render identically everywhere, so doubles go
    through floored cents and timestamps through epoch micros (LTZ
    cast) BEFORE any min/max/top — never a raw double-to-string
    render, whose scientific-notation cutoffs differ by engine.

    Shape: one mini-aggregate per column (count/nulls/distinct/min/
    max) plus a value-frequency aggregate whose modal row is the
    max(struct(n, value)) winner — deterministic under frequency ties
    (largest value wins); the per-column relations are tiny and union
    into a 6-row profile. The distinct/top aggregates on a unique key
    column shuffle its full domain — the honest cost of exact
    profiling; the production dial is swapping in approx_count_distinct
    and a CMS top-k (both already in the catalog).

    Output: col_name, n_rows, n_null, n_distinct, min_v, max_v,
    top_v, top_n (values as canonical strings).
    """
    ts_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP_LTZ))")
    cols = [
        ("event_id", F.col("event_id")),
        ("user_id", F.col("user_id")),
        ("event_type", F.col("event_type")),
        ("value_cents", F.floor(F.col("value") * 100).cast("long")),
        ("ts_us", ts_us),
        ("props", F.col("props")),
    ]
    out = None
    for name, expr in cols:
        v = events.select(expr.alias("v"))
        stats = v.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").isNull().cast("long")).alias("n_null"),
            F.countDistinct("v").alias("n_distinct"),
            F.min("v").cast("string").alias("min_v"),
            F.max("v").cast("string").alias("max_v"),
        )
        top = (
            v.where(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.max(
                    F.struct(
                        F.col("n"), F.col("v").cast("string").alias("s")
                    )
                ).alias("t")
            )
            .select(
                F.col("t.s").alias("top_v"),
                F.col("t.n").cast("long").alias("top_n"),
            )
        )
        r = stats.crossJoin(F.broadcast(top)).select(
            F.lit(name).alias("col_name"),
            "n_rows",
            "n_null",
            "n_distinct",
            "min_v",
            "max_v",
            "top_v",
            "top_n",
        )
        out = r if out is None else out.unionByName(r)
    return out


def activity_histogram(events: DataFrame) -> DataFrame:
    """Power-user curve — the growth-accounting histogram behind
    "L28" charts: how many users were active exactly d distinct days?
    Casual-heavy products slope down fast; habit products grow a
    right-side bump. Also emits each bucket's share of total EVENT
    volume, the "your top users carry the product" number, in bp.

    Shape: distinct (user, day) -> per-user day count (+ per-user
    event count in the same pass via two aggregates over different
    grains: one distinct count, one raw count joined back on user) —
    all map-side-combined; output bounded by the day-domain size.

    Output: days_active, n_users, n_events, events_share_bp.
    """
    per_user = events.select("user_id", epoch_day().alias("_day")).groupBy(
        "user_id"
    ).agg(
        F.countDistinct("_day").alias("days_active"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    hist = per_user.groupBy("days_active").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_ev").alias("n_events"),
    )
    total = events.agg(F.count(F.lit(1)).alias("_tot"))
    return hist.crossJoin(F.broadcast(total)).select(
        "days_active",
        "n_users",
        "n_events",
        F.expr("n_events * 10000 DIV _tot").alias("events_share_bp"),
    )


def schema_drift(events: DataFrame) -> DataFrame:
    """Schema-evolution monitor over the props JSON — the alert that a
    producer deploy changed the event contract: per key, presence
    rates (per-mille of props-bearing events) in the baseline vs
    current halves of the stream (epoch-day parity, drift_psi's
    content-independent split rule), plus is-new / vanished flags.
    Key-rate drift is how you catch a renamed field BEFORE the
    downstream from_json silently starts yielding NULLs.

    Shape: one scan, one (key, side) map-side-combined aggregate (the
    explode is bounded by keys-per-object), per-side totals broadcast
    back; output bounded by the real key domain. Rates coalesce to 0
    (never NULL) per the gate rule.

    Output: key, n_base, n_cur, base_pm, cur_pm, dev_pm,
    is_new (0/1), vanished (0/1).
    """
    day = epoch_day()
    kv = events.where(F.col("props").isNotNull()).select(
        (day % 2 == 0).alias("_base"),
        F.explode(
            F.from_json(F.col("props"), "map<string,string>")
        ).alias("key", "_v"),
    )
    per_key = kv.groupBy("key").agg(
        F.sum(F.col("_base").cast("long")).alias("n_base"),
        F.sum((~F.col("_base")).cast("long")).alias("n_cur"),
    )
    tot = events.where(F.col("props").isNotNull()).agg(
        F.sum((day % 2 == 0).cast("long")).alias("_tb"),
        F.sum((day % 2 != 0).cast("long")).alias("_tc"),
    )
    return per_key.crossJoin(F.broadcast(tot)).select(
        "key",
        "n_base",
        "n_cur",
        F.expr("n_base * 1000 DIV greatest(_tb, 1)").alias("base_pm"),
        F.expr("n_cur * 1000 DIV greatest(_tc, 1)").alias("cur_pm"),
        F.expr(
            "n_cur * 1000 DIV greatest(_tc, 1)"
            " - n_base * 1000 DIV greatest(_tb, 1)"
        ).alias("dev_pm"),
        (F.col("n_base") == 0).cast("long").alias("is_new"),
        (F.col("n_cur") == 0).cast("long").alias("vanished"),
    )


MARKOV_ITERS = 8


def markov_stationary(
    events: DataFrame, iters: int = MARKOV_ITERS
) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain — where
    the event stream settles if today's transition matrix keeps
    running: fixed-round integer power iteration over
    event_transitions' bp matrix. Each round is one join + one
    aggregate over the STATE DOMAIN (a handful of event types — the
    matrix relation, never the event stream), with the vector
    renormalized to sum 10000 every round (v * 10000 DIV sum, floor)
    so the integers never drift in scale; states absent from the
    matrix's from-side hold their mass (self-loop convention, stated).
    Fixed iters = fixed semantics (the connected_components rule): the
    output is round-`iters` of the iteration, bit-exact, not an
    approximation claim.

    Output: event_type, p_bp (the round-`iters` vector, sums to
    <= 10000 with floor loss).
    """
    m = materialize(
        event_transitions(events).select(
            "from_type", "to_type", F.col("p_bp").alias("p_bp_m")
        )
    )
    states = materialize(
        m.select(F.col("from_type").alias("event_type"))
        .unionByName(m.select(F.col("to_type").alias("event_type")))
        .distinct()
    )
    n_states = states.count()
    v = states.select(
        "event_type",
        F.lit(10000 // max(n_states, 1)).cast("long").alias("p_bp"),
    )
    for _ in range(iters):
        moved = (
            v.join(m, v["event_type"] == m["from_type"])
            .groupBy(F.col("to_type").alias("event_type"))
            .agg(
                F.sum(
                    F.expr("p_bp * p_bp_m DIV 10000").cast("long")
                ).alias("p_new")
            )
        )
        # self-loop convention: a state with no outgoing row keeps its
        # mass (the matrix rows always sum to ~10000, so moved mass
        # covers every from-state; states never seen as from keep p)
        kept = v.join(
            m.select("from_type").distinct(),
            v["event_type"] == F.col("from_type"),
            "left_anti",
        ).select("event_type", F.col("p_bp").alias("p_new"))
        nxt = moved.unionByName(kept).groupBy("event_type").agg(
            F.sum("p_new").alias("p_raw")
        )
        tot = nxt.agg(F.sum("p_raw").alias("_t"))
        v = materialize(
            nxt.crossJoin(F.broadcast(tot))
            .select(
                "event_type",
                F.expr("p_raw * 10000 DIV _t").cast("long").alias(
                    "p_bp"
                ),
            )
        )
    return v


def burst_census(events: DataFrame) -> DataFrame:
    """Peak-burst census — the abuse/rate-limit sizing view: for each
    user, the maximum number of events landing in any trailing
    60-second window (exact, not bucketed: a RANGE frame over
    event-time microseconds counts every event in (t - w, t]), then a
    histogram of users by that peak. The tail of this histogram is who
    a rate limiter would throttle; its body sizes the limit.

    Shape: the RANGE window is partitioned by (user, day) STRATA
    (bounded, the keyed_quota discipline — a bot's multi-year history
    never funnels one task; bursts spanning midnight split, stated),
    ordered by the LTZ-cast microsecond timestamp; the per-user max
    and the final histogram are map-side-combined aggregates over
    ever-smaller relations.

    Output: peak_burst, n_users.
    """
    ts_us = F.expr("unix_micros(CAST(ts AS TIMESTAMP_LTZ))")
    w = (
        Window.partitionBy("user_id", "_day")
        .orderBy("_us")
        .rangeBetween(-(60 * 1_000_000 - 1), 0)
    )
    bursts = (
        events.select(
            "user_id", epoch_day().alias("_day"), ts_us.alias("_us")
        )
        .withColumn("_burst", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(F.max("_burst").alias("peak_burst"))
    )
    return bursts.groupBy("peak_burst").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def hourly_profile(events: DataFrame) -> DataFrame:
    """Diurnal-seasonality detector per key — weekday_profile's
    hour-of-day sibling and the other half of the bot signature:
    humans sleep (a 24-cell profile with a trough), schedulers fire
    flat or on one hour. Hour = (epoch seconds DIV 3600) % 24, pure
    integer UTC arithmetic — no timezone/calendar functions whose
    conventions differ across engines (UTC stated: the profile is a
    shape detector, not a local-clock report).

    Chi-square against uniform over 24 cells with the weekday_profile
    integer recipe: term = (24*n - total)^2 DIV (24*total), missing
    hours materialized by exploding a literal 0..23 sequence;
    is_diurnal flags chi2 >= 42.

    Output: event_type, hour, n_events, total, chi2, is_diurnal
    (chi2/is_diurnal repeated on each of the key's 24 rows).
    """
    hour = F.expr(
        "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT)"
        " DIV 3600 % 24"
    )
    prof = (
        events.select("event_type", hour.alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = prof.groupBy("event_type").agg(F.sum("n_events").alias("total"))
    grid = tot.select(
        "event_type",
        "total",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(23).cast("long"))
        ).alias("hour"),
    )
    full = grid.join(prof, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        "total",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias(
            "n_events"
        ),
    )
    term = F.expr(
        "(24 * n_events - total) * (24 * n_events - total)"
        " DIV (24 * total)"
    )
    chi = (
        full.select("event_type", term.alias("_t"))
        .groupBy("event_type")
        .agg(F.sum("_t").alias("chi2"))
    )
    return (
        full.join(F.broadcast(chi), "event_type")
        .select(
            "event_type",
            "hour",
            "n_events",
            "total",
            "chi2",
            (F.col("chi2") >= 42).alias("is_diurnal"),
        )
    )


def deseasonalized_anomalies(events: DataFrame) -> DataFrame:
    """Weekday-adjusted daily anomaly flags — the fix for
    daily_anomalies' blind spot on weekly-patterned traffic (every
    Saturday looks like a dip against a trailing-week mean): each
    (key, day) count is compared to ITS WEEKDAY's average for that
    key, computed leave-one-out (the day under test is excluded from
    its own baseline — otherwise a lone spike drags its own
    expectation up). Flags by integer cross-multiply: high when
    2*n*base_days > 3*base_sum (n > 1.5x the LOO weekday mean), low
    when 2*n*base_days < base_sum; days whose weekday has no OTHER
    observation abstain (base_days 0, both flags 0).

    Shape: one (key, day) count, one (key, weekday) rollup of that
    bounded relation broadcast back; leave-one-out is arithmetic on
    the rollup (sum - n, cnt - 1), never a second scan.

    Output: event_type, day, weekday, n_events, base_days, base_sum,
    is_high, is_low (0/1).
    """
    daily = (
        events.select("event_type", epoch_day().alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("weekday", (F.col("day") + 3) % 7)
    )
    wk = daily.groupBy("event_type", "weekday").agg(
        F.sum("n_events").alias("_wsum"),
        F.count(F.lit(1)).alias("_wcnt"),
    )
    j = daily.join(F.broadcast(wk), ["event_type", "weekday"]).select(
        "event_type",
        "day",
        "weekday",
        "n_events",
        (F.col("_wcnt") - 1).alias("base_days"),
        (F.col("_wsum") - F.col("n_events")).alias("base_sum"),
    )
    return j.select(
        "event_type",
        "day",
        "weekday",
        "n_events",
        "base_days",
        "base_sum",
        F.when(
            (F.col("base_days") > 0)
            & (
                2 * F.col("n_events") * F.col("base_days")
                > 3 * F.col("base_sum")
            ),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_high"),
        F.when(
            (F.col("base_days") > 0)
            & (
                2 * F.col("n_events") * F.col("base_days")
                < F.col("base_sum")
            ),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_low"),
    )


STREAK_WINDOW = 62  # trailing days kept in the activity bitmap


def streak_census(events: DataFrame) -> DataFrame:
    """Longest consecutive-day activity streak per user, rolled into a
    census — the habit metric (Duolingo-style) growth teams track
    beside the L28 histogram: how many users sustained runs of exactly
    s days? The user's trailing STREAK_WINDOW days pack into ONE
    BIGINT bitmap (bit i = active on dmax - i, a bit_or aggregate —
    exact, fixed width, mergeable), and the longest run of 1s falls
    out of the classic bit trick: iterating y <- y & (y << 1) kills
    one run-length per step, so the streak is the number of non-zero
    iterates. The iteration unrolls to STREAK_WINDOW codegen'd integer
    ops — no loop, no UDF, bit-identical in both engines (bit ops are
    a proven parity fact).

    Days older than the window are dropped in the scan (stated: the
    metric is "streak within the trailing 62 days").

    Shape: one (user) bit_or aggregate, then the bit chain as a pure
    projection, then the bounded census rollup.

    Output: streak, n_users.
    """
    d = events.select("user_id", epoch_day().alias("_day"))
    dmax = d.agg(F.max("_day").alias("_dmax"))
    masks = (
        d.crossJoin(F.broadcast(dmax))
        .where(F.col("_dmax") - F.col("_day") < STREAK_WINDOW)
        .select(
            "user_id",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " CAST(_dmax - _day AS INT))"
            ).alias("_bit"),
        )
        .groupBy("user_id")
        .agg(F.bit_or("_bit").alias("_mask"))
    )
    fold = F.expr(
        f"""aggregate(
             sequence(1, {STREAK_WINDOW}),
             struct(_mask AS y, CAST(0 AS BIGINT) AS s),
             (acc, i) -> struct(
               acc.y & shiftleft(acc.y, 1) AS y,
               acc.s + IF(acc.y <> 0, CAST(1 AS BIGINT),
                          CAST(0 AS BIGINT)) AS s),
             acc -> acc.s)"""
    )
    per_user = masks.select("user_id", fold.alias("streak"))
    return per_user.groupBy("streak").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def attribution_linear(events: DataFrame) -> DataFrame:
    """Linear multi-touch attribution — last-touch's fairer sibling
    (the marketing-analytics standard pair): every qualifying touch in
    the lookback window splits the conversion's credit equally,
    credit = 1e6 ppm DIV n_touches per touch (floor; the remainder
    ppm stays unassigned — stated, exact, and order-free). Rolled up
    per touch type: how much credit does each channel actually earn
    when it doesn't have to be LAST?

    Shape: the same bounded RANGE-BUCKET join as
    attribution_last_touch (conversion explodes into exactly 2 probe
    buckets — never a per-user history window); the per-conversion
    touch count comes from one aggregate joined back BROADCAST onto
    the candidate relation (bounded by conversions x in-window
    touches).

    Output per touch_type: n_touches, n_conversions (distinct convs
    this type touched), credit_ppm_sum.
    """
    _, cand = _attribution_candidates(events)
    per_conv = cand.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    credited = cand.join(F.broadcast(per_conv), "conv_id").select(
        "touch_type",
        "conv_id",
        F.expr("1000000 DIV _n").alias("credit_ppm"),
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.countDistinct("conv_id").alias("n_conversions"),
        F.sum("credit_ppm").alias("credit_ppm_sum"),
    )


#: error_budget_burn's budget: 1% of events may be errors.
ERROR_BUDGET_BP = 100


def error_budget_burn(events: DataFrame) -> DataFrame:
    """SLO error-budget burn-down — the SRE view of the event stream:
    daily rate of `error` events against an ERROR_BUDGET_BP error budget,
    plus the CUMULATIVE share of the period's budget already burned
    (in bp of budget, can exceed 10000 = blown) and a fast-burn flag
    for days spending more than 3x their pro-rata budget. All integer
    cross-multiplies:

      burned_bp = cum_err * 10000 * 10000 DIV (ERROR_BUDGET_BP * cum_n)
      fast_burn = n_err * 10000 > 3 * ERROR_BUDGET_BP * n_total
                  (i.e. the day's rate_bp exceeds 3x ERROR_BUDGET_BP)

    Shape: one (day) map-side-combined aggregate with a conditional
    error count; the cumulative window runs over the BOUNDED day
    domain. Headroom: cum_err * 1e8 overflows past ~9e10 errors —
    per-period sharding note applies.

    Output: day, n_total, n_errors, rate_bp, cum_burned_bp,
    fast_burn (0/1).
    """
    daily = (
        events.select(
            epoch_day().alias("day"),
            (F.col("event_type") == "error").cast("long").alias(
                "_e"
            ),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("_e").alias("n_errors"),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = daily.select(
        "day",
        "n_total",
        "n_errors",
        F.expr("n_errors * 10000 DIV n_total").alias("rate_bp"),
        F.sum("n_errors").over(w).alias("_ce"),
        F.sum("n_total").over(w).alias("_cn"),
    )
    return cum.select(
        "day",
        "n_total",
        "n_errors",
        "rate_bp",
        F.expr(
            f"_ce * 10000 * 10000 DIV ({ERROR_BUDGET_BP} * _cn)"
        ).alias("cum_burned_bp"),
        F.expr(
            f"CAST(n_errors * 10000 >"
            f" 3 * {ERROR_BUDGET_BP} * n_total AS LONG)"
        ).alias("fast_burn"),
    )


def srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch check — the A/B hygiene gate that must
    pass BEFORE anyone reads ab_metrics: with the same sticky md5-hex
    arm rule, distinct USERS (assignment grain, never events) should
    split ~50/50; a skewed split means broken assignment or
    differential logging loss, and every downstream lift is garbage.
    The statistic is the 2-cell chi-square against the even split,
    exactly (n_a - n_b)^2 DIV n in integers; flag at >= 4
    (p ~ 0.046) and a louder one at >= 11 (p ~ 0.001).

    Shape: distinct users (one map-side dedup), one aggregate. One
    row out.

    Output: n_users, n_a, n_b, srm_chi2, is_srm, is_srm_strong.
    """
    users = events.select(F.col("user_id").alias("_u")).distinct()
    is_a = F.substring(
        F.md5(F.col("_u").cast("string")), 1, 1
    ).isin(*AB_EVEN_HEX)
    agg = users.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(is_a.cast("long")).alias("n_a"),
    )
    return agg.select(
        "n_users",
        "n_a",
        (F.col("n_users") - F.col("n_a")).alias("n_b"),
        F.expr(
            "(n_a - (n_users - n_a)) * (n_a - (n_users - n_a))"
            " DIV n_users"
        ).alias("srm_chi2"),
    ).select(
        "n_users",
        "n_a",
        "n_b",
        "srm_chi2",
        (F.col("srm_chi2") >= 4).cast("long").alias("is_srm"),
        (F.col("srm_chi2") >= 11).cast("long").alias("is_srm_strong"),
    )


def hill_tail(events: DataFrame, k: int = 64) -> DataFrame:
    """Hill estimator of the activity tail index — the canonical
    heavy-tail measurement (Hill 1975) over per-user event counts:
    how Pareto is the whale tail? alpha ~ 1 means a few users ARE the
    traffic (plan capacity for them); alpha >> 2 means the tail is
    tame. Over the k most active users:

        alpha_milli = (k-1) * 1000 * 1000
                        DIV sum_{i<k} (flog3(x_i) - flog3(x_k))

    with flog3(x) = floor(ln(x) * 1e3) — each log floored ONCE on an
    integer count (the zipf_fit milli quantization), the differences
    and the sum exact integers, one final DIV. An all-equal head
    (denominator 0) reports the -1 sentinel (never NULL — the gate
    rule).

    Shape: per-user counts map-side combine; the head is
    TakeOrderedAndProject; everything after runs on k rows.

    Output (1 row): k_used, x_k, denom_milli, alpha_milli.
    """
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    order = [F.col("n").desc(), F.col("user_id").asc()]
    head = per_user.orderBy(*order).limit(k)

    def flog3(c):
        return F.floor(F.log(c.cast("double")) * F.lit(1000.0)).cast(
            "long"
        )

    agg = head.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.min("n").alias("x_k"),
        F.sum(flog3(F.col("n"))).alias("_slog"),
    )
    return agg.select(
        "k_used",
        "x_k",
        (
            F.col("_slog") - F.col("k_used") * flog3(F.col("x_k"))
        ).alias("denom_milli"),
    ).select(
        "k_used",
        "x_k",
        "denom_milli",
        F.when(
            F.col("denom_milli") > 0,
            F.expr("(k_used - 1) * 1000 * 1000 DIV denom_milli"),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("alpha_milli"),
    )


def heaping_audit(events: DataFrame) -> DataFrame:
    """Round-number heaping audit — Benford's forensic sibling:
    organically-measured amounts end in .00 about 1% of the time;
    hand-entered or fabricated ones heap on round numbers. Per event
    type: the share of floored-cents amounts ending in 00 (and in 0)
    against the uniform expectations (100 bp / 1000 bp), with integer
    excess columns. The last-two-digits extraction is pure modulo on
    the BIGINT — no string round-trip.

    Shape: one scan, one map-side-combined aggregate per type.

    Output: event_type, n_amounts, n_end00, n_end0, end00_bp,
    end0_bp, excess00_bp, excess0_bp.
    """
    cents = F.floor(F.col("value") * 100).cast("long")
    rows = events.where(cents > 0).select(
        "event_type",
        (cents % 100 == 0).cast("long").alias("_e00"),
        (cents % 10 == 0).cast("long").alias("_e0"),
    )
    return (
        rows.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_amounts"),
            F.sum("_e00").alias("n_end00"),
            F.sum("_e0").alias("n_end0"),
        )
        .select(
            "event_type",
            "n_amounts",
            "n_end00",
            "n_end0",
            F.expr("n_end00 * 10000 DIV n_amounts").alias("end00_bp"),
            F.expr("n_end0 * 10000 DIV n_amounts").alias("end0_bp"),
            F.expr("n_end00 * 10000 DIV n_amounts - 100").alias(
                "excess00_bp"
            ),
            F.expr("n_end0 * 10000 DIV n_amounts - 1000").alias(
                "excess0_bp"
            ),
        )
    )


def user_p95_distribution(events: DataFrame) -> DataFrame:
    """Per-USER p95 then the distribution of those p95s — the
    SRE/product-experience truth that a global p95 hides: a fine
    global tail can coexist with 5% of users living entirely in it.
    Level 1: each user's exact p95 of floored-cents values (rank
    ceil(0.95 n) under (cents, event_id) ordering — deterministic
    under value ties). Level 2: a histogram of user-p95s in
    1000-cent buckets.

    Shape: the rank window partitions by USER — the metric's own
    grain; per-user volumes are retention-bounded in practice and the
    stratum note is stated (a pathological single-user flood funnels
    one task; cap upstream with keyed_quota if that is a live risk).
    Both rollups after the window are map-side-combined.

    Output: bucket, n_users (bucket * 1000 = lower bound of the
    users' p95 in cents).
    """
    cents = F.floor(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("_c", "event_id")
    ranked = (
        events.select(
            "user_id", "event_id", cents.alias("_c")
        )
        .withColumn("_r", F.row_number().over(w))
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
    )
    p95 = ranked.where(
        F.col("_r") == F.expr("CAST((95 * _n + 99) DIV 100 AS INT)")
    ).select("user_id", F.col("_c").alias("p95_c"))
    return (
        p95.select(
            F.expr("p95_c DIV 1000").cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily new-vs-returning split — growth accounting 101: per day,
    how many active users were seen for the first time that day vs
    returning, plus the new share in bp. First-seen day is one
    user-grain MIN aggregate BROADCAST back onto the (user, day)
    activity relation (the cohort_retention shape) — no windows, no
    per-user history scan.

    Output: day, n_active, n_new, n_returning, new_share_bp.
    """
    ud = events.select("user_id", epoch_day().alias("day")).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("_first"))
    j = ud.join(F.broadcast(first), "user_id").select(
        "day", (F.col("day") == F.col("_first")).cast("long").alias("_new")
    )
    return (
        j.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum("_new").alias("n_new"),
        )
        .select(
            "day",
            "n_active",
            "n_new",
            (F.col("n_active") - F.col("n_new")).alias("n_returning"),
            F.expr("n_new * 10000 DIV n_active").alias("new_share_bp"),
        )
    )


def forecast_baselines(events: DataFrame) -> DataFrame:
    """Forecast-baseline scorecard — the sanity check that must beat
    any model before it ships: per key, the sum of absolute day-ahead
    errors of the NAIVE forecast (yesterday's count) vs the
    SEASONAL-NAIVE one (last same-weekday count), scored only on days
    where both predictors exist, plus their ratio in bp (< 10000
    means weekly seasonality is real and a model must beat
    seasonal-naive, not naive). Pure integer: absolute differences of
    counts, summed order-free, one DIV.

    Shape: daily counts are one map-side aggregate; both lags are
    windows over the BOUNDED (key, day) relation (lag 1 row vs lag 7
    DAYS via a self-join on day-7 — gap-robust: a missing day yields
    no seasonal prediction rather than the wrong row).

    Output: event_type, n_scored, sae_naive, sae_seasonal, mase_bp
    (-1 sentinel when sae_naive is 0).
    """
    daily = (
        events.select("event_type", epoch_day().alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.withColumn("_prev", F.lag("n").over(w)).withColumn(
        "_prev_day", F.lag("day").over(w)
    )
    week = daily.select(
        F.col("event_type").alias("_k"),
        (F.col("day") + 7).alias("_d7"),
        F.col("n").alias("_n7"),
    )
    j = lagged.join(
        week,
        (F.col("event_type") == F.col("_k")) & (F.col("day") == F.col("_d7")),
        "left",
    ).where(
        F.col("_prev").isNotNull()
        & (F.col("_prev_day") == F.col("day") - 1)
        & F.col("_n7").isNotNull()
    )
    agg = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.abs(F.col("n") - F.col("_prev"))).alias("sae_naive"),
        F.sum(F.abs(F.col("n") - F.col("_n7"))).alias("sae_seasonal"),
    )
    return agg.select(
        "event_type",
        "n_scored",
        "sae_naive",
        "sae_seasonal",
        F.when(
            F.col("sae_naive") > 0,
            F.expr("sae_seasonal * 10000 DIV sae_naive"),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("mase_bp"),
    )
