"""Relational analytics over the warehouse tables (orders / lineitem /
customer) — the classic star-schema side of the engine, here to prove
the join machinery a log pipeline's enrichment stages depend on:

* pricing_rollup — the TPC-H Q1 shape: one map-side-combined aggregate
  over the fact table, a handful of output groups. The canonical
  "does partial aggregation actually absorb the scan" benchmark.
* shipping_topk — the TPC-H Q3 shape: a BROADCAST dimension filter
  (customer segment), a key-partitioned fact-fact join
  (orders ⋈ lineitem on orderkey), and a bounded top-k. The canonical
  "did the planner pick broadcast for the dim and shuffle for the
  fact" benchmark.

Money stays engine-exact the repo's way: every per-row float expression
is floored ONCE to integer cents — floor(price * (1-disc) * 100) is the
same IEEE double product in any engine, and integer sums are
order-free — so the aggregates hash-match bit-for-bit. Date pivots
derive from the data (epoch-day midpoint via a broadcast one-row
aggregate), never from a wall clock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..aggregate import epoch_day


def pricing_rollup(lineitem: DataFrame, ship_lag_days: int = 7) -> DataFrame:
    """Pricing summary per (returnflag, linestatus) over lineitems
    shipped up to `ship_lag_days` before the newest shipment (the Q1
    'as of' cut, derived from the data). Quantities and money are
    per-row floored cents; averages are integer DIV in cents/bp.

    Output: l_returnflag, l_linestatus, n_rows, sum_qty_c, sum_base_c,
    sum_disc_c, sum_charge_c, avg_qty_c, avg_price_c, avg_disc_bp.
    """
    dmax = lineitem.agg(F.max(epoch_day("l_shipdate")).alias("_dmax"))
    rows = (
        lineitem.crossJoin(F.broadcast(dmax))
        .where(epoch_day("l_shipdate") <= F.col("_dmax") - ship_lag_days)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.floor(F.col("l_quantity") * 100).cast("long").alias("q_c"),
            F.floor(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("base_c"),
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("long")
            .alias("disc_c"),
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            )
            .cast("long")
            .alias("charge_c"),
            F.floor(F.col("l_discount") * 10000).cast("long").alias(
                "disc_bp"
            ),
        )
    )
    agg = rows.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("q_c").alias("sum_qty_c"),
        F.sum("base_c").alias("sum_base_c"),
        F.sum("disc_c").alias("sum_disc_c"),
        F.sum("charge_c").alias("sum_charge_c"),
        F.sum("disc_bp").alias("_disc_bp"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        "sum_qty_c",
        "sum_base_c",
        "sum_disc_c",
        "sum_charge_c",
        F.expr("sum_qty_c DIV n_rows").alias("avg_qty_c"),
        F.expr("sum_base_c DIV n_rows").alias("avg_price_c"),
        F.expr("_disc_bp DIV n_rows").alias("avg_disc_bp"),
    )


def shipping_topk(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    k: int = 10,
) -> DataFrame:
    """Unshipped-revenue top-k (the Q3 shape): orders placed before the
    data's epoch-day midpoint by customers in `segment`, revenue from
    lineitems shipped after it. customer is explicitly broadcast (a
    dimension never shuffles the fact); orders ⋈ lineitem shuffles once
    on orderkey; the final top-k is TakeOrderedAndProject.

    Output: l_orderkey, order_day, revenue_c (floored cents).
    """
    pivot = orders.agg(
        (
            (F.min(epoch_day("o_orderdate")) + F.max(epoch_day("o_orderdate")))
            / 2
        )
        .cast("long")
        .alias("_mid")
    )
    cust = customer.where(F.col("c_mktsegment") == segment).select(
        "c_custkey"
    )
    o = (
        orders.crossJoin(F.broadcast(pivot))
        .where(epoch_day("o_orderdate") < F.col("_mid"))
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "o_orderkey", epoch_day("o_orderdate").alias("order_day"), "_mid"
        )
    )
    li = lineitem.select(
        "l_orderkey",
        epoch_day("l_shipdate").alias("_sday"),
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("long")
        .alias("rev_c"),
    )
    joined = o.join(li, o["o_orderkey"] == li["l_orderkey"]).where(
        F.col("_sday") > F.col("_mid")
    )
    rev = joined.groupBy("l_orderkey", "order_day").agg(
        F.sum("rev_c").alias("revenue_c")
    )
    order = [F.col("revenue_c").desc(), F.col("l_orderkey").asc()]
    return (
        rev.orderBy(*order)
        .limit(k)
        .select("l_orderkey", "order_day", "revenue_c")
    )


def segment_activity(
    events: DataFrame, customer: DataFrame
) -> DataFrame:
    """Event-stream enrichment against the customer dimension — the
    bread-and-butter fact ⋈ dim rollup ("activity by market segment")
    every log pipeline runs before a dashboard: events join customer on
    user key, aggregate per (segment, event_type).

    The dimension is explicitly broadcast: a 10^9-row event fact never
    shuffles for a dimension lookup — the join lives in the scan stage
    and the only exchange is the final small-group aggregate (itself
    map-side combined). Money is per-row floored cents (the
    pricing_rollup rule).

    Output: c_mktsegment, event_type, n_events, n_users, sum_value_c.
    """
    dim = customer.select("c_custkey", "c_mktsegment")
    joined = events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"]
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            F.floor(F.col("value") * 100).cast("long")
        ).alias("sum_value_c"),
    )


def regional_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Revenue by region/nation through the full dimension chain — the
    Q5-shape five-table star join: region -> nation -> customer fold
    into ONE broadcast lookup (dims join dims BEFORE touching any
    fact), orders picks up the region label broadcast-side, and the
    only real shuffle in the plan is orders ⋈ lineitem on orderkey.
    Joining dims first is the difference between one fact shuffle and
    three at 100 TB.

    Money is per-row floored cents (the pricing_rollup rule).

    Output: r_name, n_name, n_orders, revenue_c.
    """
    dim = (
        customer.join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == region["r_regionkey"],
        )
        .select("c_custkey", "n_name", "r_name")
    )
    o = orders.join(
        F.broadcast(dim), orders["o_custkey"] == dim["c_custkey"]
    ).select("o_orderkey", "n_name", "r_name")
    # pre-aggregate lineitem to the order grain BEFORE the fact-fact
    # join: the only big shuffle ships one row per order instead of one
    # per line item (map-side combine absorbs the rest), and the result
    # is unconditionally identical — per-row floored cents sum per order
    # first, then per group (integer addition is associative), and a
    # duplicated orderkey on either side multiplies both shapes equally
    li = lineitem.select(
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("long")
        .alias("rev_c"),
    ).groupBy("l_orderkey").agg(F.sum("rev_c").alias("rev_c"))
    joined = o.join(li, o["o_orderkey"] == li["l_orderkey"])
    return joined.groupBy("r_name", "n_name").agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.sum("rev_c").alias("revenue_c"),
    )


def order_fulfilment(
    orders: DataFrame, lineitem: DataFrame, late_days: int = 30
) -> DataFrame:
    """Late-fulfilment census per order priority — the TPC-H Q4 shape:
    an EXISTS over the fact re-expressed as ONE orderkey equi-join with
    a map-side-combined distinct, never a per-order subquery. An order
    is late when any of its lineitems shipped `late_days` or more after
    the order date.

    The totals side is a dim-grain aggregate of orders alone; the late
    side joins only the two projected key/day columns of each fact, so
    the shuffle carries (orderkey, day) pairs — not payloads. Output is
    bounded by the priority domain.

    Output: o_orderpriority, n_orders, n_late.
    """
    o = orders.select(
        "o_orderkey",
        "o_orderpriority",
        epoch_day("o_orderdate").alias("_oday"),
    )
    li = lineitem.select(
        "l_orderkey", epoch_day("l_shipdate").alias("_sday")
    )
    late = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .where(F.col("_sday") >= F.col("_oday") + late_days)
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_orderkey").alias("n_late"))
    )
    total = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        total.join(F.broadcast(late), "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "n_orders",
            F.coalesce("n_late", F.lit(0)).cast("long").alias("n_late"),
        )
    )


def small_qty_revenue(
    part: DataFrame,
    lineitem: DataFrame,
    brands: tuple = ("Brand#4", "Brand#2"),
    frac_den: int = 5,
) -> DataFrame:
    """Small-lot revenue per brand — the TPC-H Q17 shape: the
    correlated scalar subquery ("below 1/5 of this part's average
    quantity") rewritten as a per-part aggregate broadcast-joined back
    onto the brand-filtered fact. The brand dimension is broadcast
    FIRST, so only matching rows ever reach the aggregate, and the
    per-part stats relation (bounded by the part count) broadcasts
    back — the fact never shuffles.

    The fractional-average cut is the exact integer cross-multiply:
    q < (1/den)*avg = sum/(den*n)  ⟺  q_c * den * n < sum_q_c.

    Output: p_brand, n_small, revenue_c.
    """
    dim = F.broadcast(
        part.where(F.col("p_brand").isin(*brands)).select(
            "p_partkey", "p_brand"
        )
    )
    li = lineitem.join(
        dim, lineitem["l_partkey"] == F.col("p_partkey")
    ).select(
        "p_partkey",
        "p_brand",
        F.floor(F.col("l_quantity") * 100).cast("long").alias("q_c"),
        F.floor(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("base_c"),
    )
    stats = li.groupBy(F.col("p_partkey").alias("_pk")).agg(
        F.sum("q_c").alias("_sum_q"), F.count(F.lit(1)).alias("_n")
    )
    small = li.join(
        F.broadcast(stats), li["p_partkey"] == F.col("_pk")
    ).where(
        F.col("q_c") * frac_den * F.col("_n") < F.col("_sum_q")
    )
    return small.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_small"),
        F.sum("base_c").alias("revenue_c"),
    )


def supplier_census(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    size_max: int = 10,
) -> DataFrame:
    """Supplier variety per (brand, size) for small parts — the TPC-H
    Q16 shape: a broadcast ANTI join removes suppliers in bad standing
    (negative account balance), then distinct suppliers are counted per
    part group. The part dimension (size-filtered) broadcasts into the
    fact so non-qualifying rows die in the scan stage; the
    (partkey, suppkey) pair relation is deduplicated map-side before
    the final count.

    Output: p_brand, p_size, n_suppliers.
    """
    excl = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    dim = F.broadcast(
        part.where(F.col("p_size") <= size_max).select(
            "p_partkey", "p_brand", "p_size"
        )
    )
    pairs = (
        lineitem.join(dim, lineitem["l_partkey"] == F.col("p_partkey"))
        .select("p_brand", "p_size", "l_suppkey")
        .join(
            F.broadcast(excl),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
    )
    return pairs.groupBy("p_brand", "p_size").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers")
    )


def heavy_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    mult: int = 3,
) -> DataFrame:
    """Outsize orders — the TPC-H Q18 shape: a HAVING over the
    per-order quantity rollup, joined back to the order/customer grain.
    The threshold is data-derived (mult × the average order quantity,
    a broadcast one-row scalar), so the query is scale-free. The
    qualifying set is by construction tiny, so it broadcasts into
    orders and the customer dimension broadcasts after it — the only
    real shuffle is the per-order rollup itself.

    Output: o_orderkey, c_custkey, c_mktsegment, order_day, total_c,
    sum_qty_c.
    """
    s = lineitem.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(F.col("l_quantity") * 100).cast("long")
        ).alias("sum_qty_c")
    )
    thr = s.agg(
        (F.lit(mult) * F.expr("sum(sum_qty_c) DIV count(1)")).alias(
            "_thr"
        )
    )
    heavy = s.crossJoin(F.broadcast(thr)).where(
        F.col("sum_qty_c") > F.col("_thr")
    )
    o = orders.join(
        F.broadcast(heavy),
        orders["o_orderkey"] == heavy["l_orderkey"],
    )
    dim = customer.select("c_custkey", "c_mktsegment")
    return (
        o.join(F.broadcast(dim), o["o_custkey"] == dim["c_custkey"])
        .select(
            "o_orderkey",
            "c_custkey",
            "c_mktsegment",
            epoch_day("o_orderdate").alias("order_day"),
            F.floor(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("total_c"),
            "sum_qty_c",
        )
    )


def scd2_dim(customer: DataFrame, n_days: int = 30) -> DataFrame:
    """Synthesize a slowly-changing (type-2) segment history from the
    customer dimension: every customer has version 1 from day 0 and —
    when its key hashes into a change — version 2 from a key-derived
    day, with the segment rotated one step. Deterministic (pure key
    arithmetic), so the SQL twin rebuilds the identical history.

    Output: c_custkey, version, seg, valid_from, valid_to
    (half-open [from, to); the live row's valid_to is n_days).
    """
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
    seg_arr = F.array(*[F.lit(s) for s in segs])
    idx = F.array_position(seg_arr, F.col("c_mktsegment"))  # 1-based; 0 if absent
    changed = (F.col("c_custkey") % 3) == 0
    mid = 1 + F.col("c_custkey") % (n_days - 2)
    v1 = customer.select(
        "c_custkey",
        F.lit(1).alias("version"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).cast("long").alias("valid_from"),
        F.when(changed, mid).otherwise(F.lit(n_days))
        .cast("long")
        .alias("valid_to"),
    )
    v2 = customer.where(changed).select(
        "c_custkey",
        F.lit(2).alias("version"),
        F.element_at(seg_arr, ((idx % 5) + 1).cast("int")).alias("seg"),
        mid.cast("long").alias("valid_from"),
        F.lit(n_days).cast("long").alias("valid_to"),
    )
    return v1.unionByName(v2)


def scd2_lookup(events: DataFrame, customer: DataFrame,
                n_days: int = 30) -> DataFrame:
    """Point-in-time dimension lookup — the SCD2 join every warehouse
    runs to label a fact with the dimension row that was CURRENT at
    event time (joining the latest row instead silently rewrites
    history). The event joins its user's version history on the user
    key and keeps the row whose half-open validity interval contains
    the event day.

    Scale shape: the history is at most 2 rows per customer here (and
    small-per-key in any real SCD2), so it BROADCASTS and the fact
    never shuffles; the interval predicate runs in the scan stage right
    after the hash probe — fan-out bounded by versions-per-key, then
    filtered to exactly one. Aggregated per (seg, version) so the
    output is bounded.

    Output: seg, version, n_events, n_users, sum_value_c.
    """
    day0 = events.agg(F.min(epoch_day()).alias("_d0"))
    ev = events.crossJoin(F.broadcast(day0)).select(
        "user_id",
        (epoch_day() - F.col("_d0")).alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("value_c"),
    )
    dim = scd2_dim(customer, n_days)
    j = ev.join(
        F.broadcast(dim), ev["user_id"] == dim["c_custkey"]
    ).where(
        (F.col("day") >= F.col("valid_from"))
        & (F.col("day") < F.col("valid_to"))
    )
    return j.groupBy("seg", "version").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value_c").alias("sum_value_c"),
    )
