"""DWM joins (SURVEY §2.4): interval joins J1/J2 and the dim-enrichment
chain J3.

Reference semantics:
- J1 order_info ⋈ order_detail interval join, detail.ts ∈ [info.ts-5s, info.ts+5s]
  (OrderWideApp.java:59-66) → here orders ⋈ lineitem with l_shipdate within
  [o_orderdate, o_orderdate+5 days).
- J2 orderWide ⋈ payment_info, payment.ts ∈ [order.ts, order.ts+15min]
  (PaymentWideApp.java:75-83) → asymmetric bounds [10 days, 30 days).
- J3 async HBase/Phoenix dim lookups ×6 with Redis cache
  (DimAsyncFunction.java:34-51, OrderWideApp.java:72-171) → ONE pass of
  broadcast hash joins against the 5 dim tables + a shuffle join to orders.
  Broadcast replaces the whole cache/async machinery: each executor holds the
  dim hash map once, lookups are O(1) in-memory, refresh is per-batch.

Scale notes: the equi-key predicate (l_orderkey = o_orderkey) drives a
single shuffle-hash/sort-merge join; the range predicate is evaluated as a
post-join filter on matched keys only — never a cartesian. AQE handles skewed
order keys. Dim joins never shuffle the fact side (BroadcastHashJoin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_210225_spark.functions.scalars import age_years, round2, round6
from flink_210225_spark.io import _scratch

# --- J1: interval join orders ⋈ lineitem, [0, +5 days) ---


def interval_join_order_detail(tables: dict[str, DataFrame]) -> DataFrame:
    o, li = tables["orders"], tables["lineitem"]
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < F.date_add(o.o_orderdate, 5))
    )
    return li.join(o, cond).select(
        "o_orderkey",
        "l_linenumber",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        round2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("split_amount"),
    )


def interval_join_outer(tables: dict[str, DataFrame]) -> DataFrame:
    """LEFT OUTER interval join: every order keeps a row even when no line
    item ships inside its [order_date, +5 days) window — NULL-padded, the
    batch twin of ``streaming/joins.interval_join_streams_outer`` (same
    bounds, same null semantics; the streaming test gates the two against
    each other through the inner results). The equi-key still drives the
    shuffle; the range predicate rides along as a join-condition filter, so
    the plan stays a hash/sort-merge join, never a theta join."""
    o, li = tables["orders"], tables["lineitem"]
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < F.date_add(o.o_orderdate, 5))
    )
    return o.join(li, cond, "left_outer").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        F.col("l_linenumber").isNull().alias("unmatched"),
    )


# --- J2: interval join with asymmetric bounds [+10 days, +30 days) ---


def interval_join_payment(tables: dict[str, DataFrame]) -> DataFrame:
    """The pay-within-15-minutes analog: ship within (order_date+10d, +30d]."""
    o, li = tables["orders"], tables["lineitem"]
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= F.date_add(o.o_orderdate, 10))
        & (li.l_shipdate < F.date_add(o.o_orderdate, 30))
    )
    return li.join(o, cond).select(
        "o_orderkey",
        "l_linenumber",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("pay_date"),
        round2(F.col("l_extendedprice")).alias("payment_amount"),
    )


def payment_wide(tables: dict[str, DataFrame]) -> DataFrame:
    """PaymentWide (the reference's second DWM wide table,
    PaymentWideApp.java:75-83 — payment interval join THEN the dim chain):
    the J2 asymmetric interval join composed with customer→nation broadcast
    enrichment in one pass. Same plan shape as order_wide: the only fact
    shuffle is the orderkey equi-join; dims ride broadcast hash joins."""
    o, li = tables["orders"], tables["lineitem"]
    cust, nation = tables["customer"], tables["nation"]
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= F.date_add(o.o_orderdate, 10))
        & (li.l_shipdate < F.date_add(o.o_orderdate, 30))
    )
    return (
        li.join(o, cond)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .select(
            "o_orderkey",
            "l_linenumber",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("pay_date"),
            round2(F.col("l_extendedprice")).alias("payment_amount"),
            F.col("c_name").alias("user_name"),
            F.col("n_name").alias("province_name"),
        )
    )


# --- J3: OrderWide — the 6-table dim enrichment chain ---


def order_wide(tables: dict[str, DataFrame], min_quantity: int = 49) -> DataFrame:
    """lineitem enriched with orders + customer→nation→region + part +
    supplier — the Spark re-expression of the reference's six sequential
    async dim lookups (DIM_USER/PROVINCE/SKU/SPU/TRADEMARK/CATEGORY3,
    OrderWideApp.java:72-171). Left joins: a dangling FK keeps the fact row
    with NULL dim attrs (DimAsyncFunction.java:43-45 skips the merge).

    min_quantity bounds the output for the correctness harness; pass 0 for
    the full wide table."""
    li = tables["lineitem"].filter(F.col("l_quantity") >= min_quantity)
    o, cust = tables["orders"], tables["customer"]
    nation, region = tables["nation"], tables["region"]
    part, sup = tables["part"], tables["supplier"]
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "left")
        # Broadcast hints ONLY on true constant-size dims (nation 25 rows,
        # region 5). customer/part/supplier grow linearly with scale factor
        # (TPC-H: SF×150k/200k/10k), so forcing a broadcast is a 100×
        # scale-killer — leave them unhinted and let AQE pick broadcast at
        # runtime while they're small, sort-merge (or the colocate.py
        # bucketed path) once they're not.
        .join(cust, o.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .join(part, li.l_partkey == part.p_partkey, "left")
        .join(sup, li.l_suppkey == sup.s_suppkey, "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_orderstatus").alias("order_status"),
            F.col("c_name").alias("user_name"),
            F.col("n_name").alias("province_name"),
            F.col("r_name").alias("region_name"),
            F.col("p_name").alias("sku_name"),
            F.col("p_brand").alias("tm_name"),
            F.col("p_type").alias("category_name"),
            F.col("s_name").alias("spu_name"),
            round2(F.col("l_quantity")).alias("sku_num"),
            round2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "split_total_amount"
            ),
            # F12 age derivation (OrderWideApp.java:77-84): the reference
            # computes user age from DIM_USER_INFO.birthday; the fixture has
            # no birthday, so the same floor(datediff/365) expression runs on
            # o_orderdate against a fixed as-of date (deterministic for the
            # oracle; swap in birthday + current_date on real dims).
            age_years(F.col("o_orderdate"), F.lit("1998-12-31").cast("date")).alias(
                "order_age_years"
            ),
        )
    )


# --- As-of join: latest view at-or-before each purchase ---


def asof_join_events(tables: dict[str, DataFrame]) -> DataFrame:
    """As-of join (the time-series lookup Spark lacks as a built-in): each
    ``purchase`` event picks the latest ``view`` event at-or-before its
    timestamp from the same user — the reference's dim-lookup idea applied on
    the time axis (nearest-prior match instead of equality).

    NOT a range join: both sides union into one stream, then a last-non-null
    (LOCF) over a (user_id) window ordered by (ts, side, event_id) carries
    each view forward to the purchases after it. One shuffle on user_id,
    O(n log n) per partition, zero pair explosion — at 100 TB this beats any
    `ts BETWEEN` formulation, whose matched-pair count is unbounded. Ordering
    puts views (side 0) before purchases (side 1) at equal ts ⇒ inclusive
    "<="; equal-ts views resolve to max event_id, deterministically."""
    ev = tables["events"]
    view = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", "event_id", F.lit(0).alias("side")
    )
    purchase = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id", F.lit(1).alias("side")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = purchase.unionByName(view).withColumn(
        "asof",
        F.last(
            F.when(F.col("side") == 0, F.struct("ts", "value")), ignorenulls=True
        ).over(w),
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof.ts").alias("view_ts"),
        F.col("asof.value").alias("view_value"),
    )


def asof_join_events_forward(tables: dict[str, DataFrame]) -> DataFrame:
    """FORWARD as-of join: each ``purchase`` picks the EARLIEST ``view``
    at-or-after its timestamp from the same user — the post-event lookup
    (what did the user see right after buying), mirror of
    ``asof_join_events``'s latest-prior. Same zero-pair-explosion shape:
    one union, one user_id-keyed window, NOCB (next-non-null carry
    BACKWARD) via ``first(...) over [current, unboundedFollowing]``.
    Ordering (ts, side DESC, event_id): at equal ts the purchase (side 1)
    sorts BEFORE the view (side 0), so the forward window includes it —
    inclusive ">="; equal-ts views resolve to MIN event_id (first in
    order), deterministically — the oracle dedups to the same row before
    its native ASOF."""
    ev = tables["events"]
    view = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", "event_id", F.lit(0).alias("side")
    )
    purchase = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id", F.lit(1).alias("side")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.desc("side"), F.col("event_id"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    carried = purchase.unionByName(view).withColumn(
        "asof",
        F.first(
            F.when(F.col("side") == 0, F.struct("ts", "value")), ignorenulls=True
        ).over(w),
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof.ts").alias("view_ts"),
        F.col("asof.value").alias("view_value"),
    )


def asof_join_nearest(tables: dict[str, DataFrame]) -> DataFrame:
    """NEAREST as-of join — pandas ``merge_asof(direction='nearest')``
    semantics, completing the as-of family (backward ``join_asof_events``,
    forward ``join_asof_forward``, staleness-bounded
    ``join_asof_tolerance``): each purchase pairs with whichever view is
    CLOSEST in time, either side. Built as the composition it
    mathematically is: the backward carry (latest prior, LOCF) and the
    forward carry (earliest after, NOCB) — each with its sibling's exact
    deterministic tie rules — then an event_id equi-join picks the
    smaller |Δt| (µs-exact), ties to the PRIOR side (pandas' rule).
    direction ∈ {prev, next, none} so absent-view users stay visible.

    Plan: two user-keyed window carries (one Exchange each, zero pair
    explosion — never a theta join) + one |purchases|-row equi-join."""
    ev = tables["events"]
    us = F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), F.col("ts")
    )
    view = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", us.alias("us"), "event_id", F.lit(0).alias("side")
    )
    purchase = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", us.alias("us"), "event_id", F.lit(1).alias("side")
    )
    u = purchase.unionByName(view)
    # backward: at equal ts the view (side 0) sorts BEFORE the purchase →
    # included; among equal-ts views the LAST in (event_id) order wins —
    # same rule as join_asof_events
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us"), F.col("side"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev = (
        u.withColumn(
            "p",
            F.last(
                F.when(F.col("side") == 0, F.struct("us", "event_id")),
                ignorenulls=True,
            ).over(wb),
        )
        .filter(F.col("side") == 1)
        .select(
            F.col("event_id").alias("pe"),
            "user_id",
            "ts",
            F.col("us").alias("pus"),
            F.col("p.us").alias("prev_us"),
            F.col("p.event_id").alias("prev_id"),
        )
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us"), F.desc("side"), F.col("event_id"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    nxt = (
        u.withColumn(
            "n",
            F.first(
                F.when(F.col("side") == 0, F.struct("us", "event_id")),
                ignorenulls=True,
            ).over(wf),
        )
        .filter(F.col("side") == 1)
        .select(
            F.col("event_id").alias("ne"),
            F.col("n.us").alias("next_us"),
            F.col("n.event_id").alias("next_id"),
        )
    )
    j = prev.join(nxt, prev.pe == nxt.ne)
    d_prev = F.col("pus") - F.col("prev_us")
    d_next = F.col("next_us") - F.col("pus")
    pick_prev = F.col("prev_us").isNotNull() & (
        F.col("next_us").isNull() | (d_prev <= d_next)
    )
    direction = (
        F.when(pick_prev, F.lit("prev"))
        .when(F.col("next_us").isNotNull(), F.lit("next"))
        .otherwise(F.lit("none"))
    )
    return j.select(
        F.col("pe").alias("event_id"),
        "user_id",
        "ts",
        direction.alias("direction"),
        F.when(pick_prev, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .alias("view_id"),
        F.when(pick_prev, d_prev)
        .when(F.col("next_us").isNotNull(), d_next)
        .alias("dt_us"),
    )


def asof_join_tolerance(
    tables: dict[str, DataFrame], tolerance_sec: int = 3600
) -> DataFrame:
    """As-of join with a STALENESS BOUND — the feature-store read contract
    ("use the latest feature value, but never one older than an hour"):
    each purchase takes the latest prior view ONLY if it falls within
    ``tolerance_sec``; older matches are rejected to NULL exactly like a
    missing one, and ``is_stale`` says which of the two happened. Same
    zero-pair-explosion union+LOCF shape as ``asof_join_events``; the
    tolerance is a post-carry projection, so the plan is identical."""
    ev = tables["events"]
    view = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", "event_id", F.lit(0).alias("side")
    )
    purchase = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id", F.lit(1).alias("side")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = purchase.unionByName(view).withColumn(
        "asof",
        F.last(
            F.when(F.col("side") == 0, F.struct("ts", "value")), ignorenulls=True
        ).over(w),
    )
    gap_sec = F.floor(
        F.timestamp_diff("MICROSECOND", F.col("asof.ts"), F.col("ts")) / 1_000_000
    )
    fresh = F.col("asof").isNotNull() & (gap_sec <= tolerance_sec)
    return carried.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("asof.ts")).alias("view_ts"),
        F.when(fresh, F.col("asof.value")).alias("view_value"),
        (F.col("asof").isNotNull() & ~fresh).alias("is_stale"),
    )


def feature_point_in_time(tables: dict[str, DataFrame]) -> DataFrame:
    """Point-in-time-correct feature snapshot — the feature-store join that
    prevents label leakage in training data: for every ``purchase`` (the
    label row), the user's behavioral features computed from events
    STRICTLY BEFORE it (event count, view count, value sum, seconds since
    the user's first prior event). Including the label instant or anything
    after it would leak the future into training; the strictly-earlier
    window frame IS the correctness contract.

    Plan: one (user_id) sort shared by all four feature aggregates
    (consecutive window functions over the same ordering reuse the
    Exchange+Sort), label rows filter afterward — no join at all, the
    union-timeline trick of the as-of family with cumulative aggregates
    instead of LOCF. At 100 TB: one keyed shuffle of the event stream,
    zero pair explosion."""
    ev = tables["events"]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r2 = lambda c: F.floor(c * 100 + F.lit(0.5)) / 100  # noqa: E731
    snap = (
        ev.withColumn("n_events_before", F.count("*").over(w_prev))
        .withColumn(
            "n_views_before",
            F.count(F.when(F.col("event_type") == "view", 1)).over(w_prev),
        )
        .withColumn(
            "value_sum_before",
            F.coalesce(r2(F.sum("value").over(w_prev)), F.lit(0.0)),
        )
        .withColumn("first_prior_ts", F.min("ts").over(w_prev))
    )
    sec_since_first = F.floor(
        F.timestamp_diff("MICROSECOND", F.col("first_prior_ts"), F.col("ts"))
        / 1_000_000
    )
    return snap.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_event_id"),
        "user_id",
        "n_events_before",
        "n_views_before",
        "value_sum_before",
        sec_since_first.alias("sec_since_first"),
    )


def semi_anti_profile(tables: dict[str, DataFrame]) -> DataFrame:
    """Explicit LEFT SEMI / LEFT ANTI join surface: per nation, customers
    WITH at least one order (semi) and customers WITHOUT any (anti) — the
    existence-check join pair every warehouse needs (active-customer
    filters, orphan detection) spelled as first-class join types rather
    than EXISTS subqueries or count-filtered outer joins.

    Scale: both semi and anti are null-aware hash joins on c_custkey —
    Spark dedups the build side to distinct keys (no row multiplication,
    unlike inner-join-then-distinct) and AQE picks broadcast when the
    distinct-key side fits. The two passes share the customers scan; the
    nation rollup is dim-sized."""
    c, o = tables["customer"], tables["orders"]
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without_orders = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    semi = with_orders.groupBy("c_nationkey").agg(
        F.count("*").alias("with_orders")
    )
    anti = without_orders.groupBy("c_nationkey").agg(
        F.count("*").alias("without_orders")
    )
    return (
        c.groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .join(semi, "c_nationkey", "left")
        .join(anti, "c_nationkey", "left")
        .select(
            F.col("c_nationkey").alias("nationkey"),
            "n_customers",
            F.coalesce("with_orders", F.lit(0)).cast("long").alias("with_orders"),
            F.coalesce("without_orders", F.lit(0)).cast("long").alias("without_orders"),
        )
    )


def range_join_bucketed(
    tables: dict[str, DataFrame], delta: float = 50.0
) -> DataFrame:
    """Numeric BAND join without a theta join: customers ⋈ suppliers in the
    same nation with |c_acctbal − s_acctbal| ≤ δ — the entity-matching /
    numeric-proximity family (J1/J2 are its event-TIME siblings; this is
    the value-axis member). Spark has no range-join operator, and the naive
    condition plans BroadcastNestedLoopJoin — O(|C|·|S|) per nation. The
    scale shape bucketizes: bucket = floor(bal/δ); a match within ±δ can
    only sit in the same or an adjacent bucket, so the small side explodes
    ×3 to (bucket−1, bucket, bucket+1) and the join becomes EQUI on
    (nation, bucket) — hash-shuffled, AQE-skew-splittable, with the exact
    |diff| ≤ δ predicate riding as a post-join filter. 3× the small side is
    the entire cost of turning O(n²) into O(n).

    Dedup note: a pair whose buckets differ by one would match via exactly
    ONE of the three offsets (the one aligning s's bucket to c's), so no
    duplicate pairs arise and no distinct is needed."""
    c, s = tables["customer"], tables["supplier"]
    cb = c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / delta).alias("bucket"),
    )
    sb = s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("s_acctbal") / delta) + off).alias("b")
                    for off in (-1, 0, 1)
                ]
            )
        ).alias("bucket"),
    )
    joined = cb.join(
        sb,
        (cb.c_nationkey == sb.s_nationkey) & (cb.bucket == sb.bucket),
    ).filter(F.abs(F.col("c_acctbal") - F.col("s_acctbal")) <= delta)
    return joined.select(
        "c_custkey",
        "s_suppkey",
        F.col("c_nationkey").alias("nationkey"),
        "c_acctbal",
        "s_acctbal",
        (
            F.floor(F.abs(F.col("c_acctbal") - F.col("s_acctbal")) * 100 + 0.5) / 100
        ).alias("bal_diff"),
    )


def interval_overlap_join(tables: dict[str, DataFrame]) -> DataFrame:
    """Interval-OVERLAP join — the two-sided generalization of the band
    join (``join_range_bucketed`` matches points within ±δ; this matches
    INTERVALS that intersect, the Allen-algebra workhorse behind
    promotion-window × order-window analytics and validity-interval
    reconciliation). Intervals are synthesized deterministically from
    orders: open orders span [orderdate, orderdate + orderkey%5 + 1
    days], finished orders [orderdate, orderdate + orderkey%7 + 1 days];
    a ⋈ b iff a.start ≤ b.end ∧ b.start ≤ a.end.

    Scale shape: the naive condition is a pure theta join → BNLJ,
    O(|A|·|B|). With spans ≤ 8 days and an 8-day bucket grid, any
    partner's START bucket lies within ±1 of a's start bucket (b.start ∈
    [a.start − 7d, a.end] ⊆ a's bucket ± 1), so the B side keys by
    bucket(start) ONCE and the A side explodes ×3 — an EQUI join with
    the exact overlap predicate riding behind it, each pair produced
    exactly once (B sits in one bucket; no dedup pass). LEFT join keeps
    overlap-free A intervals (n_overlaps 0 — the count ignores the
    unmatched offsets' nulls), and the per-A rollup returns |A| rows,
    not the pair explosion. Overlap length in inclusive integer days —
    cross-engine exact."""
    o = tables["orders"]
    day = F.lit(86400)
    a_days = (F.col("o_orderkey") % 5 + 1).cast("long")
    b_days = (F.col("o_orderkey") % 7 + 1).cast("long")
    start_s = F.unix_timestamp("o_orderdate")
    a = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("a_key"),
        start_s.alias("a_start"),
        (start_s + a_days * day).alias("a_end"),
    )
    b = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("b_key"),
        start_s.alias("b_start"),
        (start_s + b_days * day).alias("b_end"),
        F.floor(start_s / (8 * day)).alias("bucket"),
    )
    a_x = a.select(
        "a_key",
        "a_start",
        "a_end",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("a_start") / (8 * day)) + off).alias("k")
                    for off in (-1, 0, 1)
                ]
            )
        ).alias("bucket"),
    )
    joined = a_x.join(
        b,
        (a_x.bucket == b.bucket)
        & (F.col("a_start") <= F.col("b_end"))
        & (F.col("b_start") <= F.col("a_end")),
        "left",
    )
    # Spark least/greatest SKIP nulls (unlike SQL), so an unmatched
    # left-join row would fabricate a_end-a_start+1 phantom days — gate on
    # the join key instead of relying on null propagation.
    ov_days = F.when(
        F.col("b_key").isNotNull(),
        (
            (F.least("a_end", "b_end") - F.greatest("a_start", "b_start")) / day + 1
        ).cast("long"),
    )
    return (
        joined.groupBy("a_key", "a_start", "a_end")
        .agg(
            F.count("b_key").alias("n_overlaps"),
            F.coalesce(F.sum(ov_days), F.lit(0)).cast("long").alias("total_ov_days"),
            F.coalesce(F.max(ov_days), F.lit(0)).cast("long").alias("max_ov_days"),
        )
        .select(
            "a_key",
            F.from_unixtime("a_start", "yyyy-MM-dd").alias("a_start_day"),
            F.from_unixtime("a_end", "yyyy-MM-dd").alias("a_end_day"),
            "n_overlaps",
            "total_ov_days",
            "max_ov_days",
        )
    )


def bloom_prefilter_join(
    tables: dict[str, DataFrame], nation: str = "NATION_7"
) -> DataFrame:
    """Bloom-prefiltered selective join — the join-side form of the
    runtime row-level filtering Spark's own InjectRuntimeFilter performs
    (and Flink 1.16+ ships as runtime filter pushdown): when a fact table
    joins a SELECTIVE key set (here, orders of one nation's customers —
    ~1/25 of keys), folding those keys into a broadcast Bloom bitset and
    probing the fact rows BEFORE the shuffle drops ~96% of lineitem rows
    from the exchange; the exact join then runs on the sliver and kills
    the false positives, so the filter affects COST only, never the
    result. Same m=2²⁰/k=4 double-hashed construction and distributed
    word-fold as ``text_bloom_contamination`` (driver collects 16 K
    words, not the key set), probe is a lambda-free codegen conjunction.

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling the matching ~4%: the bitset is O(m) regardless
    of fact size, and the probe is scan-local. Output is the per-month
    revenue rollup of the matched rows — byte-identical to the plain
    3-way join the oracle runs."""
    from flink_210225_spark.ops.text import _BLOOM_K, _BLOOM_M

    li, o, c, n = (
        tables["lineitem"],
        tables["orders"],
        tables["customer"],
        tables["nation"],
    )
    m, k = _BLOOM_M, _BLOOM_K
    sel_cust = c.join(
        F.broadcast(n.filter(F.col("n_name") == nation)),
        c.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey")
    keys = o.join(F.broadcast(sel_cust), o.o_custkey == F.col("c_custkey")).select(
        F.col("o_orderkey").alias("okey")
    )
    kh = keys.select(F.md5(F.col("okey").cast("string")).alias("md"))
    h1 = F.pmod(F.conv(F.substring("md", 1, 15), 16, 10).cast("long"), F.lit(m))
    h2 = F.pmod(F.conv(F.substring("md", 16, 15), 16, 10).cast("long"), F.lit(m))
    pos = kh.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.pmod(h1 + i * h2, F.lit(m)),
            )
        ).alias("p")
    )
    word_rows = (
        pos.select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("p") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    words = [0] * (m // 64)
    for row in word_rows:
        words[row["w"]] = row["bits"]
    # pandas/Arrow one-hop, not a python-list frame: the list path is
    # RDD-backed (defaultParallelism partitions), so every action embedding
    # this scalar subquery fans out 32 Python-worker tasks (~5 s overhead).
    import pandas as pd

    spark = li.sparkSession
    bitset = (
        spark.createDataFrame(pd.DataFrame({"bs": [words]}), schema="bs array<long>")
        .agg(F.first("bs").alias("bs"))
        .scalar()
    )
    probe = li.select(
        "l_orderkey",
        "l_shipdate",
        "l_extendedprice",
        "l_discount",
        F.md5(F.col("l_orderkey").cast("string")).alias("md"),
    ).select(
        "l_orderkey",
        "l_shipdate",
        "l_extendedprice",
        "l_discount",
        F.pmod(F.conv(F.substring("md", 1, 15), 16, 10).cast("long"), F.lit(m)).alias(
            "h1"
        ),
        F.pmod(F.conv(F.substring("md", 16, 15), 16, 10).cast("long"), F.lit(m)).alias(
            "h2"
        ),
    )
    pos_i = lambda i: F.pmod(F.col("h1") + i * F.col("h2"), F.lit(m))  # noqa: E731
    bit_set = lambda p: (  # noqa: E731
        F.call_function(
            "shiftright",
            F.element_at(bitset, (p / 64).cast("int") + 1),
            p.cast("int") % 64,
        ).bitwiseAND(F.lit(1))
        == 1
    )
    hit = bit_set(F.col("h1"))
    for i in range(1, k):
        hit = hit & bit_set(pos_i(i))
    matched = probe.filter(hit).join(keys, F.col("l_orderkey") == F.col("okey"))
    # revenue in exact integers (price cents × (100 − discount pct)): the
    # float sum landed within 1e-9 of a .005 boundary at sf0.01 and flipped
    # the 2dp rounding against the oracle's different summation order
    rev_e4 = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (100 - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
    )
    return (
        matched.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.count("*").cast("long").alias("n_items"),
            (F.floor(F.sum(rev_e4) / 100 + F.lit(0.5)) / 100).alias("revenue"),
        )
    )


def record_linkage(tables: dict[str, DataFrame], max_dist: int = 2) -> DataFrame:
    """Blocked record linkage (entity resolution) between the customer
    master and a synthesized dirty CRM feed — the master-data-matching
    workload (``dedup_edit_distance`` dedups WITHIN one corpus; this
    links ACROSS sources with the standard block → compare → decide
    pipeline). The feed drops 20% of records and deterministically
    corrupts names (drop or double one character by key); blocking is the
    name's LAST 3 characters, so a typo inside the trailing digits breaks
    the block key and makes the record unlinkable — real blocking recall
    loss, reported as ``no_candidate`` rather than papered over. (The
    first 3 tail digits would be a degenerate key here — all-zero for
    every key < 1e6, ONE mega-block, the quadratic bomb
    ``dedup_lsh_bucket_stats`` exists to catch; block-key cardinality
    must scale with the table.) Per master record: best candidate by
    (levenshtein, key), accepted at distance ≤ 2.

    Levenshtein is O(len²) per pair and runs ONLY on in-block candidates
    (the one cost rule of fuzzy matching); blocks are key-equi joins.
    Both engines ship the same plain Levenshtein, so distances hash-gate
    exactly."""
    cust = tables["customer"]
    name = F.col("c_name")
    p = F.pmod(F.col("c_custkey"), F.length(name)) + 1
    drop_char = F.concat(
        F.substring(name, 1, p - 1),
        F.substring(name, p + 1, F.length(name)),
    )
    dup_char = F.concat(
        F.substring(name, 1, p), F.substring(name, p, F.length(name))
    )
    dirty_name = (
        F.when(F.col("c_custkey") % 3 == 0, drop_char)
        .when(F.col("c_custkey") % 3 == 1, dup_char)
        .otherwise(name)
    )
    feed = cust.where(F.col("c_custkey") % 5 != 0).select(
        F.col("c_custkey").alias("b_key"), dirty_name.alias("b_name")
    )
    master = cust.select(F.col("c_custkey").alias("a_key"), name.alias("a_name"))
    block = lambda c: F.substring(c, -3, 3)  # noqa: E731
    cand = master.withColumn("blk", block(F.col("a_name"))).join(
        feed.withColumn("blk", block(F.col("b_name"))), "blk"
    )
    scored = cand.select(
        "a_key",
        "b_key",
        F.levenshtein("a_name", "b_name").alias("dist"),
    ).where(F.col("dist") <= max_dist)
    w = Window.partitionBy("a_key").orderBy("dist", "b_key")
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("a_key", "b_key", "dist")
    )
    return master.select("a_key").join(best, "a_key", "left").select(
        "a_key",
        "b_key",
        "dist",
        F.when(F.col("b_key").isNotNull(), F.lit("matched"))
        .otherwise(F.lit("no_candidate"))
        .alias("status"),
    )


def fk_integrity_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Referential-integrity audit across the whole star schema — the
    warehouse load gate run after every ingest: for each FK edge, orphan
    children (anti-join) and parent coverage (what share of parents are
    actually referenced — dead dimension members are a pruning/cleanup
    signal). One row per edge; ``warehouse_dq_expectations`` probes one
    RI rule, this audits the full constellation.

    Plan: each edge is TWO outer-join aggregates — child LEFT JOIN parent
    yields n_child and n_orphans in one pass (parent keys are unique, so
    no fan-out), parent LEFT JOIN distinct(child) yields n_parents and
    n_referenced — instead of four separate jobs; the two 1-row results
    merge through a tagged union (a 1-row crossJoin would plan BNLJ).
    Dim sides broadcast; counts are exact, coverage is one pinned
    division."""
    edges = [
        ("lineitem->orders", tables["lineitem"], "l_orderkey", tables["orders"], "o_orderkey"),
        ("lineitem->part", tables["lineitem"], "l_partkey", tables["part"], "p_partkey"),
        ("orders->customer", tables["orders"], "o_custkey", tables["customer"], "c_custkey"),
        ("customer->nation", tables["customer"], "c_nationkey", tables["nation"], "n_nationkey"),
        ("supplier->nation", tables["supplier"], "s_nationkey", tables["nation"], "n_nationkey"),
    ]
    out = None
    for name, child, ck, parent, pk in edges:
        c = child.select(F.col(ck).alias("k"))
        p = parent.select(F.col(pk).alias("k"))
        co = c.join(p.withColumn("_hit", F.lit(1)), "k", "left").agg(
            F.count("*").cast("long").alias("n_child"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )
        po = p.join(c.distinct().withColumn("_ref", F.lit(1)), "k", "left").agg(
            F.count("*").cast("long").alias("n_parents"),
            F.sum(F.when(F.col("_ref").isNull(), 0).otherwise(1))
            .cast("long")
            .alias("n_referenced"),
        )
        row = (
            co.select(
                F.lit(name).alias("edge"),
                "n_child",
                "n_orphans",
                F.lit(None).cast("long").alias("n_parents"),
                F.lit(None).cast("long").alias("n_referenced"),
            )
            .unionByName(
                po.select(
                    F.lit(name).alias("edge"),
                    F.lit(None).cast("long").alias("n_child"),
                    F.lit(None).cast("long").alias("n_orphans"),
                    "n_parents",
                    "n_referenced",
                )
            )
            .groupBy("edge")
            .agg(
                F.max("n_child").alias("n_child"),
                F.max("n_orphans").alias("n_orphans"),
                F.max("n_parents").alias("n_parents"),
                F.max("n_referenced").alias("n_referenced"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "edge",
        "n_child",
        "n_orphans",
        "n_parents",
        "n_referenced",
        round6(
            F.col("n_referenced").cast("double") / F.col("n_parents").cast("double")
        ).alias("parent_coverage"),
    )


QUERIES = {
    "join_fk_orphans": fk_integrity_audit,
    "join_record_linkage": record_linkage,
    "join_bloom_prefilter": bloom_prefilter_join,
    "join_interval_overlap": interval_overlap_join,
    "join_semi_anti": semi_anti_profile,
    "join_range_bucketed": range_join_bucketed,
    "join_interval_order_detail": interval_join_order_detail,
    "join_interval_payment": interval_join_payment,
    "join_interval_outer": interval_join_outer,
    "join_payment_wide": payment_wide,
    "join_order_wide": order_wide,
    "join_asof_events": asof_join_events,
    "join_asof_forward": asof_join_events_forward,
    "join_asof_nearest": asof_join_nearest,
    "join_feature_snapshot": feature_point_in_time,
    "join_asof_tolerance": asof_join_tolerance,
}

ORACLES = {
    # Anti/semi-join replays per FK edge; coverage is one pinned division.
    "join_fk_orphans": """
        WITH e AS (
            SELECT 'lineitem->orders' AS edge,
                   (SELECT count(*) FROM lineitem)::BIGINT AS n_child,
                   (SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey))::BIGINT AS n_orphans,
                   (SELECT count(*) FROM orders)::BIGINT AS n_parents,
                   (SELECT count(*) FROM orders o
                    WHERE EXISTS (SELECT 1 FROM lineitem l
                                  WHERE l.l_orderkey = o.o_orderkey))::BIGINT AS n_referenced
            UNION ALL
            SELECT 'lineitem->part',
                   (SELECT count(*) FROM lineitem),
                   (SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM part p
                                      WHERE p.p_partkey = l.l_partkey)),
                   (SELECT count(*) FROM part),
                   (SELECT count(*) FROM part p
                    WHERE EXISTS (SELECT 1 FROM lineitem l
                                  WHERE l.l_partkey = p.p_partkey))
            UNION ALL
            SELECT 'orders->customer',
                   (SELECT count(*) FROM orders),
                   (SELECT count(*) FROM orders o
                    WHERE NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey)),
                   (SELECT count(*) FROM customer),
                   (SELECT count(*) FROM customer c
                    WHERE EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_custkey = c.c_custkey))
            UNION ALL
            SELECT 'customer->nation',
                   (SELECT count(*) FROM customer),
                   (SELECT count(*) FROM customer c
                    WHERE NOT EXISTS (SELECT 1 FROM nation n
                                      WHERE n.n_nationkey = c.c_nationkey)),
                   (SELECT count(*) FROM nation),
                   (SELECT count(*) FROM nation n
                    WHERE EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_nationkey = n.n_nationkey))
            UNION ALL
            SELECT 'supplier->nation',
                   (SELECT count(*) FROM supplier),
                   (SELECT count(*) FROM supplier s
                    WHERE NOT EXISTS (SELECT 1 FROM nation n
                                      WHERE n.n_nationkey = s.s_nationkey)),
                   (SELECT count(*) FROM nation),
                   (SELECT count(*) FROM nation n
                    WHERE EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_nationkey = n.n_nationkey))
        )
        SELECT edge, n_child, n_orphans, n_parents, n_referenced,
               floor(n_referenced::DOUBLE / n_parents::DOUBLE * 1000000 + 0.5)
                 / 1000000 AS parent_coverage
        FROM e
    """,
    # Same corruption surgery (1-based substring arithmetic matches), same
    # 3-digit block, same plain Levenshtein, same (dist, key) best pick.
    "join_record_linkage": """
        WITH feed AS (
            SELECT c_custkey AS b_key,
                   CASE WHEN c_custkey % 3 = 0
                        THEN substr(c_name, 1, p - 1) || substr(c_name, p + 1)
                        WHEN c_custkey % 3 = 1
                        THEN substr(c_name, 1, p) || substr(c_name, p)
                        ELSE c_name END AS b_name
            FROM (SELECT *, (c_custkey % length(c_name))::INT + 1 AS p
                  FROM customer)
            WHERE c_custkey % 5 != 0
        ),
        master AS (
            SELECT c_custkey AS a_key, c_name AS a_name FROM customer
        ),
        cand AS (
            -- distance computed ONCE (DuckDB does not CSE across the
            -- filter and projection; Levenshtein dominates the oracle)
            SELECT a_key, b_key, dist FROM (
                SELECT a_key, b_key,
                       levenshtein(a_name, b_name) AS dist
                FROM master JOIN feed
                     ON substr(a_name, -3, 3) = substr(b_name, -3, 3)
            ) WHERE dist <= 2
        ),
        best AS (
            SELECT a_key, b_key, dist
            FROM (SELECT *, row_number() OVER (PARTITION BY a_key
                                               ORDER BY dist, b_key) AS rn
                  FROM cand)
            WHERE rn = 1
        )
        SELECT m.a_key, best.b_key, best.dist,
               CASE WHEN best.b_key IS NOT NULL THEN 'matched'
                    ELSE 'no_candidate' END AS status
        FROM master m LEFT JOIN best ON m.a_key = best.a_key
    """,
    # Two native ASOFs (backward + forward) over tie-deduped views (max
    # event_id prior / min event_id after — the Spark carries' rules),
    # CASE pick with the prior-on-tie rule.
    "join_asof_nearest": """
        WITH v AS (
            SELECT user_id, epoch_us(ts) AS us, event_id FROM events
            WHERE event_type = 'view'
        ),
        vb AS (SELECT user_id, us, max(event_id) AS event_id
               FROM v GROUP BY 1, 2),
        vf AS (SELECT user_id, us, min(event_id) AS event_id
               FROM v GROUP BY 1, 2),
        p AS (
            SELECT user_id, ts, epoch_us(ts) AS us, event_id FROM events
            WHERE event_type = 'purchase'
        ),
        pb AS (
            SELECT p.event_id AS pe, p.user_id, p.ts, p.us,
                   b.us AS prev_us, b.event_id AS prev_id
            FROM p ASOF LEFT JOIN vb b
              ON p.user_id = b.user_id AND b.us <= p.us
        ),
        pf AS (
            SELECT p.event_id AS pe, f.us AS next_us, f.event_id AS next_id
            FROM p ASOF LEFT JOIN vf f
              ON p.user_id = f.user_id AND f.us >= p.us
        ),
        j AS (SELECT * FROM pb JOIN pf USING (pe))
        SELECT pe AS event_id, user_id, ts,
               CASE WHEN prev_us IS NOT NULL
                         AND (next_us IS NULL OR us - prev_us <= next_us - us)
                    THEN 'prev'
                    WHEN next_us IS NOT NULL THEN 'next'
                    ELSE 'none' END AS direction,
               CASE WHEN prev_us IS NOT NULL
                         AND (next_us IS NULL OR us - prev_us <= next_us - us)
                    THEN prev_id ELSE next_id END AS view_id,
               CASE WHEN prev_us IS NOT NULL
                         AND (next_us IS NULL OR us - prev_us <= next_us - us)
                    THEN us - prev_us
                    WHEN next_us IS NOT NULL THEN next_us - us
               END AS dt_us
        FROM j
    """,
    # Plain 3-way join — the bloom sieve affects cost only, never rows.
    # Revenue summed as exact integer cents×pct so no fp boundary flips.
    "join_bloom_prefilter": """
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               count(*)::BIGINT AS n_items,
               floor(sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
                         * (100 - floor(l_discount * 100 + 0.5)::BIGINT))
                     / 100 + 0.5) / 100 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY 1
    """,
    # Direct theta overlap join (DuckDB plans IEJoin) — an independent
    # algorithm from the bucketed equi-join; inclusive integer day math.
    "join_interval_overlap": """
        WITH a AS (
            SELECT o_orderkey AS a_key,
                   strftime(o_orderdate, '%Y-%m-%d') AS a_start_day,
                   strftime(o_orderdate
                            + (o_orderkey % 5 + 1) * INTERVAL '1 day',
                            '%Y-%m-%d') AS a_end_day,
                   epoch(o_orderdate)::BIGINT AS a_start,
                   (epoch(o_orderdate)::BIGINT
                        + (o_orderkey % 5 + 1) * 86400)::BIGINT AS a_end
            FROM orders WHERE o_orderstatus = 'O'
        ),
        b AS (
            SELECT o_orderkey AS b_key,
                   epoch(o_orderdate)::BIGINT AS b_start,
                   (epoch(o_orderdate)::BIGINT
                        + (o_orderkey % 7 + 1) * 86400)::BIGINT AS b_end
            FROM orders WHERE o_orderstatus = 'F'
        )
        SELECT a_key, a_start_day, a_end_day,
               count(b_key)::BIGINT AS n_overlaps,
               -- DuckDB least/greatest skip NULLs just like Spark's:
               -- gate on the join key or unmatched rows fabricate days
               coalesce(sum(CASE WHEN b_key IS NOT NULL THEN
                       (least(a_end, b_end) - greatest(a_start, b_start))
                            // 86400 + 1 END), 0)::BIGINT AS total_ov_days,
               coalesce(max(CASE WHEN b_key IS NOT NULL THEN
                       (least(a_end, b_end) - greatest(a_start, b_start))
                            // 86400 + 1 END), 0)::BIGINT AS max_ov_days
        FROM a
        LEFT JOIN b ON a_start <= b_end AND b_start <= a_end
        GROUP BY 1, 2, 3
    """,
    "join_feature_snapshot": """
        WITH w AS (
            SELECT event_id, user_id, event_type, ts,
                   count(*) OVER wprev AS n_events_before,
                   count(*) FILTER (event_type = 'view') OVER wprev
                       AS n_views_before,
                   coalesce(floor(sum(value) OVER wprev * 100 + 0.5) / 100, 0.0)
                       AS value_sum_before,
                   min(ts) OVER wprev AS first_prior_ts
            FROM events
            WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id AS label_event_id, user_id,
               n_events_before::BIGINT AS n_events_before,
               n_views_before::BIGINT AS n_views_before,
               value_sum_before,
               floor((epoch_us(ts) - epoch_us(first_prior_ts)) / 1000000.0)
                   AS sec_since_first
        FROM w WHERE event_type = 'purchase'
    """,
    # Forward mirror of join_asof_events's oracle: dedupe equal-ts views to
    # MIN event_id, then DuckDB's native ASOF with p.ts <= vd.ts.
    "join_asof_forward": """
        WITH v AS (
            SELECT user_id, ts, value, event_id,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id ASC) AS rn
            FROM events WHERE event_type = 'view'
        ),
        vd AS (SELECT user_id, ts, value FROM v WHERE rn = 1),
        p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, p.ts,
               vd.ts AS view_ts, vd.value AS view_value
        FROM p ASOF LEFT JOIN vd ON p.user_id = vd.user_id AND p.ts <= vd.ts
    """,
    # The oracle is free to theta-join (DuckDB's IEJoin handles bands
    # natively) — an INDEPENDENT algorithm arriving at the same pair set.
    "join_range_bucketed": """
        SELECT c_custkey, s_suppkey, c_nationkey AS nationkey,
               c_acctbal, s_acctbal,
               floor(abs(c_acctbal - s_acctbal) * 100 + 0.5) / 100 AS bal_diff
        FROM customer JOIN supplier ON c_nationkey = s_nationkey
        WHERE abs(c_acctbal - s_acctbal) <= 50.0
    """,
    "join_semi_anti": """
        SELECT c_nationkey AS nationkey,
               count(*)::BIGINT AS n_customers,
               count(*) FILTER (WHERE EXISTS (
                   SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
               ))::BIGINT AS with_orders,
               count(*) FILTER (WHERE NOT EXISTS (
                   SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
               ))::BIGINT AS without_orders
        FROM customer c
        GROUP BY c_nationkey
    """,
    "join_payment_wide": """
        SELECT o.o_orderkey, l.l_linenumber,
               strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
               strftime(l.l_shipdate, '%Y-%m-%d') AS pay_date,
               floor(l.l_extendedprice * 100 + 0.5) / 100 AS payment_amount,
               c.c_name AS user_name,
               n.n_name AS province_name
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate >= o.o_orderdate + INTERVAL 10 DAY
         AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    "join_interval_outer": """
        SELECT o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
               l.l_linenumber,
               strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date,
               l.l_linenumber IS NULL AS unmatched
        FROM orders o LEFT JOIN lineitem l
          ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate < o.o_orderdate + INTERVAL 5 DAY
    """,
    "join_interval_order_detail": """
        SELECT o_orderkey, l_linenumber,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
               floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS split_amount
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= o_orderdate
          AND l_shipdate < o_orderdate + INTERVAL 5 DAY
    """,
    "join_interval_payment": """
        SELECT o_orderkey, l_linenumber,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               strftime(l_shipdate, '%Y-%m-%d') AS pay_date,
               floor((l_extendedprice) * 100 + 0.5) / 100 AS payment_amount
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= o_orderdate + INTERVAL 10 DAY
          AND l_shipdate < o_orderdate + INTERVAL 30 DAY
    """,
    # Independent formulation on purpose: DuckDB's native ASOF JOIN (with the
    # view side deduped per (user_id, ts) to max event_id — ASOF is otherwise
    # free to pick any tied row) checks our union+LOCF window against a
    # different algorithm entirely.
    "join_asof_tolerance": """
        WITH v AS (
            SELECT user_id, ts, value, event_id,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'view'
        ),
        vd AS (SELECT user_id, ts, value FROM v WHERE rn = 1),
        p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        m AS (
            SELECT p.event_id, p.user_id, p.ts,
                   vd.ts AS m_ts, vd.value AS m_value,
                   floor((epoch_us(p.ts) - epoch_us(vd.ts)) / 1000000.0) AS gap_sec
            FROM p ASOF LEFT JOIN vd ON p.user_id = vd.user_id AND p.ts >= vd.ts
        )
        SELECT event_id, user_id, ts,
               CASE WHEN m_ts IS NOT NULL AND gap_sec <= 3600 THEN m_ts END
                   AS view_ts,
               CASE WHEN m_ts IS NOT NULL AND gap_sec <= 3600 THEN m_value END
                   AS view_value,
               (m_ts IS NOT NULL AND gap_sec > 3600) AS is_stale
        FROM m
    """,
    "join_asof_events": """
        WITH v AS (
            SELECT user_id, ts, value, event_id,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'view'
        ),
        vd AS (SELECT user_id, ts, value FROM v WHERE rn = 1),
        p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, p.ts,
               vd.ts AS view_ts, vd.value AS view_value
        FROM p ASOF LEFT JOIN vd ON p.user_id = vd.user_id AND p.ts >= vd.ts
    """,
    "join_order_wide": """
        SELECT l_orderkey, l_linenumber,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               o_orderstatus AS order_status,
               c_name AS user_name,
               n_name AS province_name,
               r_name AS region_name,
               p_name AS sku_name,
               p_brand AS tm_name,
               p_type AS category_name,
               s_name AS spu_name,
               floor((l_quantity) * 100 + 0.5) / 100 AS sku_num,
               floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS split_total_amount,
               floor(date_diff('day', o_orderdate, DATE '1998-12-31') / 365.0)::BIGINT AS order_age_years
        FROM lineitem
        LEFT JOIN orders ON l_orderkey = o_orderkey
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
        LEFT JOIN part ON l_partkey = p_partkey
        LEFT JOIN supplier ON l_suppkey = s_suppkey
        WHERE l_quantity >= 49
    """,
}


def null_safe_join(tables: dict[str, DataFrame]) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM) — the
    semantics seam every SQL engine treats differently from ``=``: under
    plain equality NULL keys never match (NULL = NULL is NULL), under
    null-safe equality the NULL group joins to the NULL group. Both
    sides derive a NULLABLE bucket (nullif(key % 7, 0)) from orders and
    customers, join with ``<=>``, and the rollup carries a dedicated
    null-bucket row — an engine that silently drops the NULL matches (or
    plans an equality join and loses them) zeroes that row. Spark plans
    null-safe equi-joins as a HASH join on coalesced key tuples, not a
    nested loop — which this query also pins via the no-cartesian sweep.

    Scale: an ordinary shuffled hash join; the NULL bucket is one key
    group (skew-salt it if NULLs dominate a real dataset)."""
    o = tables["orders"]
    c = tables["customer"]
    ob = o.select(
        F.nullif((F.col("o_custkey") % 7).cast("long"), F.lit(0)).alias("bucket"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cb = (
        c.select(
            F.nullif((F.col("c_custkey") % 7).cast("long"), F.lit(0)).alias(
                "bucket"
            ),
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("bal_cents"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("bal_cents").cast("long").alias("bal_cents"),
        )
    )
    joined = ob.join(cb, ob["bucket"].eqNullSafe(cb["bucket"])).select(
        F.coalesce(ob["bucket"], F.lit(-1)).alias("bucket_key"),
        "cents",
        "n_cust",
        "bal_cents",
    )
    return joined.groupBy("bucket_key").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("order_cents"),
        F.max("n_cust").alias("n_cust"),
        F.max("bal_cents").alias("cust_bal_cents"),
    )


QUERIES["join_null_safe"] = null_safe_join
ORACLES["join_null_safe"] = """
    WITH ob AS (
        SELECT nullif(o_custkey % 7, 0) AS bucket,
               floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        FROM orders
    ),
    cb AS (
        SELECT nullif(c_custkey % 7, 0) AS bucket,
               count(*)::BIGINT AS n_cust,
               sum(floor(c_acctbal * 100 + 0.5)::BIGINT)::BIGINT AS bal_cents
        FROM customer GROUP BY 1
    )
    SELECT coalesce(ob.bucket, -1)::BIGINT AS bucket_key,
           count(*)::BIGINT AS n_orders,
           sum(ob.cents)::BIGINT AS order_cents,
           max(cb.n_cust)::BIGINT AS n_cust,
           max(cb.bal_cents)::BIGINT AS cust_bal_cents
    FROM ob JOIN cb ON ob.bucket IS NOT DISTINCT FROM cb.bucket
    GROUP BY 1
"""


def anti_followup_join(tables: dict[str, DataFrame], window_min: int = 30) -> DataFrame:
    """Interval ANTI join — abandoned views: view events with NO purchase
    by the same user within the following 30 minutes. The negative-space
    twin of J1/J2's interval joins (reference order⋈detail ±5 s,
    gmall `OrderWideApp.java` intervalJoin): matchmaking finds pairs,
    abandonment analysis needs the rows that DON'T pair, and naive
    "join then filter null" re-materializes the matches first.

    Spark spelling: ``left_anti`` with the user_id equi key plus the time
    range as a residual condition — plans a shuffled hash anti join
    keyed on user_id (the range is evaluated on in-bucket candidates,
    never cross-user), the same posture as the positive interval joins.
    Emits a per-day rollup: views, abandoned views, micro-pinned rate.

    Exactness: pure counts + one pinned ratio; the ±window arithmetic is
    exact microsecond integer comparison on both engines."""
    ev = tables["events"]
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
    )
    followed = views.join(
        buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("b_ts") > F.col("ts"))
        & (
            F.col("b_ts")
            <= F.col("ts") + F.make_dt_interval(mins=F.lit(window_min))
        ),
        "left_anti",
    )
    day = F.to_date("ts")
    all_days = views.groupBy(day.alias("day")).agg(
        F.count("*").cast("long").alias("n_views")
    )
    ab_days = followed.groupBy(day.alias("day")).agg(
        F.count("*").cast("long").alias("n_abandoned")
    )
    return (
        all_days.join(ab_days, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_views",
            F.coalesce("n_abandoned", F.lit(0)).cast("long").alias("n_abandoned"),
            F.floor(
                F.coalesce("n_abandoned", F.lit(0)).cast("double")
                / F.col("n_views").cast("double")
                * 1000000
                + 0.5
            ).cast("long").alias("abandon_micro"),
        )
    )


QUERIES["join_anti_followup"] = anti_followup_join
# NOT EXISTS with the same equi+range predicate; INTERVAL 30 MINUTE is the
# exact integer-microsecond bound on both engines.
ORACLES["join_anti_followup"] = """
    WITH v AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    b AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    ab AS (
        SELECT v.* FROM v
        WHERE NOT EXISTS (
            SELECT 1 FROM b
            WHERE b.user_id = v.user_id
              AND b.ts > v.ts AND b.ts <= v.ts + INTERVAL 30 MINUTE
        )
    ),
    ad AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS n_views
        FROM v GROUP BY 1
    ),
    abd AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS n_abandoned
        FROM ab GROUP BY 1
    )
    SELECT strftime(ad.day, '%Y-%m-%d') AS day, ad.n_views,
           coalesce(abd.n_abandoned, 0)::BIGINT AS n_abandoned,
           floor(coalesce(abd.n_abandoned, 0)::DOUBLE / ad.n_views::DOUBLE
                 * 1000000 + 0.5)::BIGINT AS abandon_micro
    FROM ad LEFT JOIN abd USING (day)
"""


def waiting_supplier_join(tables: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q21 join TOPOLOGY — the lineitem triple-self-reference: for
    multi-supplier orders, find (supplier, order) pairs where THIS
    supplier shipped strictly last. Q21's shape is EXISTS(another
    supplier in the same order) AND NOT EXISTS(another supplier shipping
    later-or-equal) over the same fact table — the semi-join + anti-join
    stack on one scan source that separates real optimizers from
    naive executors (adapted to this fixture's columns: shipdate stands
    in for the receipt/commit lateness test; the TOPOLOGY — one fact,
    one semi, one anti, all on l_orderkey — is the point).

    Spark spelling: per-(order, supplier) latest shipdate once, then a
    leftsemi against other-supplier rows and a left_anti against
    later-shipping other-supplier rows, both l_orderkey-keyed equi joins
    (never BNLJ). Emits the per-supplier blame count + exact cents of
    blamed lines, supplier-keyed.

    Exactness: counts and cents exact; dates compared as dates."""
    li = tables["lineitem"]
    sup = tables["supplier"]
    per = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("last_ship"),
        F.count("*").cast("long").alias("n_lines"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
            )
        )
        .cast("long")
        .alias("cents"),
    )
    others = per.select(
        F.col("l_orderkey").alias("o_key"),
        F.col("l_suppkey").alias("other_supp"),
        F.col("last_ship").alias("other_ship"),
    )
    multi = per.join(
        others,
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("l_suppkey") != F.col("other_supp")),
        "left_semi",
    )
    blamed = multi.join(
        others,
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("l_suppkey") != F.col("other_supp"))
        & (F.col("other_ship") >= F.col("last_ship")),
        "left_anti",
    )
    return (
        blamed.groupBy("l_suppkey")
        .agg(
            F.count("*").cast("long").alias("n_blamed_orders"),
            F.sum("cents").cast("long").alias("blamed_cents"),
        )
        .join(
            F.broadcast(tables["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_name").alias("supplier"),
            "n_blamed_orders",
            "blamed_cents",
        )
    )


QUERIES["join_waiting_supplier"] = waiting_supplier_join
# Same EXISTS / NOT EXISTS stack over the per-(order, supplier) rollup.
ORACLES["join_waiting_supplier"] = """
    WITH per AS (
        SELECT l_orderkey, l_suppkey, max(l_shipdate) AS last_ship,
               count(*)::BIGINT AS n_lines,
               sum(floor(l_extendedprice * (1 - l_discount) * 100
                         + 0.5)::BIGINT)::BIGINT AS cents
        FROM lineitem GROUP BY 1, 2
    ),
    blamed AS (
        SELECT p.* FROM per p
        WHERE EXISTS (
            SELECT 1 FROM per o
            WHERE o.l_orderkey = p.l_orderkey
              AND o.l_suppkey != p.l_suppkey
        )
        AND NOT EXISTS (
            SELECT 1 FROM per o
            WHERE o.l_orderkey = p.l_orderkey
              AND o.l_suppkey != p.l_suppkey
              AND o.last_ship >= p.last_ship
        )
    )
    SELECT s.s_name AS supplier, count(*)::BIGINT AS n_blamed_orders,
           sum(b.cents)::BIGINT AS blamed_cents
    FROM blamed b JOIN supplier s ON b.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
"""


def dpp_prune_join(tables: dict[str, DataFrame]) -> DataFrame:
    """DYNAMIC partition pruning — the join-time sibling of
    ``source_partition_prune``'s static pruning and the second biggest
    scan lever at 100 TB: when the filter lives on a DIM (not on the
    fact's own columns), Spark inserts a runtime subquery that executes
    the dim side FIRST and prunes the fact's partition listing to the
    surviving join keys — a 2-day dim filter scans 2 of 30 day
    directories even though no literal day predicate exists on the fact.
    The fact lands day-partitioned in scratch parquet; the dim is a
    derived day→weekday table filtered to weekends; the plan must carry
    ``dynamicpruning`` on the fact scan (pinned in tests).

    Exactness: pure counts/cents; the weekday rule is the same
    ISO-weekday arithmetic on both engines.

    Scale: the fact scan reads only surviving partitions; the dim
    broadcast doubles as the pruning subquery (reused, not re-executed)."""
    ev = tables["events"]
    spark = ev.sparkSession
    out = _scratch(prefix="dppsrc_")
    ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "event_type",
        F.date_format("ts", "yyyyMMdd").cast("int").alias("day"),
    ).repartition("day").write.mode("overwrite").partitionBy("day").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        ev.select(F.date_format("ts", "yyyyMMdd").cast("int").alias("day"))
        .distinct()
        .select(
            "day",
            (F.weekday(F.to_date(F.col("day").cast("string"), "yyyyMMdd")) + 1)
            .cast("long")
            .alias("dow"),
        )
        .where(F.col("dow") >= 6)  # weekend days only — the dim-side filter
    )
    j = fact.join(F.broadcast(dim), "day")
    return j.groupBy(F.col("dow").cast("long").alias("dow")).agg(
        F.countDistinct("day").cast("long").alias("n_days"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
    )


QUERIES["join_dpp_prune"] = dpp_prune_join
ORACLES["join_dpp_prune"] = """
    WITH e AS (
        SELECT strftime(ts, '%Y%m%d')::INT AS day,
               floor(value * 100 + 0.5)::BIGINT AS cents
        FROM events
    ),
    dim AS (
        SELECT DISTINCT day, isodow(strptime(day::VARCHAR, '%Y%m%d')) AS dow
        FROM e
    )
    SELECT d.dow::BIGINT AS dow, count(DISTINCT e.day)::BIGINT AS n_days,
           count(*)::BIGINT AS n_rows, sum(e.cents)::BIGINT AS cents
    FROM e JOIN dim d USING (day)
    WHERE d.dow >= 6
    GROUP BY 1
"""
