"""Classic warehouse join pipelines over the TPC-H-shaped tables —
the multi-join showcase (fact ⋈ fact shuffle join + broadcast dimension
chain) that exercises Catalyst's join planning end to end.

Scale shape: the lineitem ⋈ orders join is the one genuinely large
shuffle (both sides fact-sized, co-partitioned on the order key by the
join itself); customer joins on the shuffled key's projection; nation
and region are DIMENSIONS — broadcast explicitly so no fact row ever
shuffles for them. Filters (the order-date window) sit directly on the
orders scan so Parquet pushdown prunes before the join. Money sums run
in INTEGER CENTS (2-decimal inputs scaled to long hundredths; products
exact at scale 4/6; long reductions) — primitive through whole-stage
codegen where DecimalType would box per value, and engine-exact where
rounding a computed double product is not (see revenue_by_nation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def revenue_by_nation(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    date_from: str,
    date_to: str,
) -> DataFrame:
    """Revenue per (region, nation) for orders in a date window:
    (region_name, nation_name, n_lineitems, revenue) — the TPC-H Q5
    family re-expressed on this schema.

    revenue = Σ (price · (1 − discount)) computed in INTEGER CENTS
    (scale-4 long products, long reduction — primitive through codegen;
    see pricing_summary for the measured decimal-boxing cost and the
    overflow headroom). Rounding the double PRODUCT would not work —
    Spark rounds the double's shortest decimal representation (HALF_UP
    over BigDecimal(toString)) while DuckDB rounds the full binary
    value, and they disagree in the last cent; scaling the 2-decimal
    INPUTS to integers first is exact on both engines.

    Two measured scale levers (r13):

    1. Aggregate by the INT nation key, attach names to the
       ≤|nations|-row result via the broadcast nation⋈region chain —
       not by grouping the joined fact on two string columns (carrying
       the strings through the fact and string-key hashing cost 9.0 s
       vs 5.9 s at sf10).
    2. The customer join is stats-guarded, the late_order_priority
       pattern: while customer's scan estimate fits the session's
       broadcast budget (30 MB at sf10 — broadcastable far beyond
       that), the fact shuffles exactly once (on the order key) and
       meets customer as a broadcast hash join. Past the budget
       (~4M+ customers), the order → nation mapping is resolved BEFORE
       the fact join instead (window-filtered orders ⋈ customer, both
       sub-fact-sized) so the plan never re-shuffles fact rows on
       o_custkey — still exactly one fact shuffle, no broadcast
       dependence, at the price of one extra orders-sized exchange
       (measured +0.15 s at sf1; the price of the fact-wide custkey
       exchange it replaces grows with the fact instead).
    """
    dims = F.broadcast(
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        ).select(
            "n_nationkey",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )
    o = orders.filter(
        F.col("o_orderdate").between(F.lit(date_from), F.lit(date_to))
    ).select("o_orderkey", "o_custkey")
    cust = customer.select("c_custkey", "c_nationkey")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_h = F.round(F.col("l_discount") * 100).cast("long")
    line = lineitem.select(
        "l_orderkey", (price_c * (F.lit(100) - disc_h)).alias("rev4")
    )
    try:
        cust_bytes = int(
            customer._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        budget = int(
            customer.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold"
            )
        )
    except Exception:  # noqa: BLE001 — stats are advisory
        cust_bytes, budget = 0, 1
    if 0 < cust_bytes <= max(budget, 0):
        keyed = line.join(o, line["l_orderkey"] == o["o_orderkey"]).join(
            F.broadcast(cust), o["o_custkey"] == cust["c_custkey"]
        )
    else:
        order_nation = o.join(
            cust, o["o_custkey"] == cust["c_custkey"]
        ).select("o_orderkey", "c_nationkey")
        keyed = line.join(
            order_nation, line["l_orderkey"] == F.col("o_orderkey")
        )
    agg = keyed.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        (F.sum("rev4").cast("double") / 10000.0).alias("revenue"),
    )
    return agg.join(dims, agg["c_nationkey"] == F.col("n_nationkey")).select(
        "region_name", "nation_name", "n_lineitems", "revenue"
    )


def pricing_summary(
    lineitem: DataFrame,
    ship_before: str,
) -> DataFrame:
    """Pricing summary report (the TPC-H Q1 family): per (returnflag,
    linestatus) — row counts and exact sums of quantity, base price,
    discounted price, and discounted+taxed price, plus averages.

    Scan-dominated: one filter pushed to the parquet scan, one
    partial-agg shuffle on a 6-value key — the shape that saturates I/O
    at 100 TB with near-zero shuffle volume.

    Exactness via INTEGER CENTS, not DecimalType: the 2-decimal-sourced
    inputs scale to hundredths as longs, products are exact at scale
    4/6 in long arithmetic, and the reductions are long sums — all of
    which stay PRIMITIVE through whole-stage codegen. Spark's DecimalType
    boxes a Decimal object per value even at compact precision; the
    measured cost on this query was 0.88 s vs 0.39 s warm at sf0.1 for
    the same answers. Headroom: the scale-6 charge sum overflows a long
    past ~9·10¹² currency units per aggregation group — far beyond any
    per-group total here; a corpus that exceeds it shards the group key
    or falls back to decimal reduction. Final division by the scale
    factor is one double op on an exactly-representable integer —
    deterministic, mirrored verbatim in the oracle.
    """
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    qty_c = cents("l_quantity")
    price_c = cents("l_extendedprice")
    disc_h = cents("l_discount")
    tax_h = cents("l_tax")
    disc_price4 = price_c * (F.lit(100) - disc_h)
    charge6 = disc_price4 * (F.lit(100) + tax_h)
    n = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(ship_before))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            n.alias("count_order"),
            (F.sum(qty_c).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(disc_price4).cast("double") / 10000.0).alias(
                "sum_disc_price"
            ),
            (F.sum(charge6).cast("double") / 1000000.0).alias("sum_charge"),
            (F.sum(qty_c).cast("double") / 100.0 / n).alias("avg_qty"),
            (F.sum(price_c).cast("double") / 100.0 / n).alias("avg_price"),
            (F.sum(disc_h).cast("double") / 100.0 / n).alias("avg_disc"),
        )
    )


def promo_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    date_from: str,
    date_to: str,
) -> DataFrame:
    """Promotion-revenue share (the TPC-H Q14 family): one row —
    (n_lineitems, promo_rev, total_rev, promo_pct) for shipments in the
    window, where promo_pct = 100 · promo / total.

    Shape: ship-date filter pushed to the lineitem scan; ``part`` is a
    true dimension (orders of magnitude smaller than lineitem) joined by
    BROADCAST — no fact shuffle at all; the conditional aggregate
    collapses map-side to a single row. Money in integer cents (scale-4
    exact longs); the final share is one double division of two exactly-
    representable sums.
    """
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_h = F.round(F.col("l_discount") * 100).cast("long")
    rev4 = price_c * (F.lit(100) - disc_h)
    line = lineitem.filter(
        F.col("l_shipdate").between(F.lit(date_from), F.lit(date_to))
    ).select("l_partkey", rev4.alias("rev4"))
    joined = line.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        line["l_partkey"] == F.col("p_partkey"),
    )
    promo = F.when(F.col("p_type") == "PROMO", F.col("rev4")).otherwise(F.lit(0))
    return joined.agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        (F.sum(promo).cast("double") / 10000.0).alias("promo_rev"),
        (F.sum("rev4").cast("double") / 10000.0).alias("total_rev"),
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum("rev4").cast("double")
        ).alias("promo_pct"),
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str,
    cutoff: str,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` unshipped orders by outstanding revenue (the TPC-H Q3
    family): (o_orderkey, revenue, o_orderdate, o_orderpriority) for
    customers in ``segment``, orders placed before ``cutoff`` with line
    items still shipping after it.

    Shape: the segment filter reduces customer to ~1/5 of a dimension
    table — broadcast into the orders scan so the fact side never
    shuffles for it; the order-date and ship-date predicates push into
    their respective parquet scans. The revenue aggregate runs BELOW
    the join (legal because the order-attribute group keys are
    functionally dependent on the order key): the line-item stream
    reduces map-side to ≤|orders| rows in its one shuffle, and the join
    is then order-sized ⋈ order-sized instead of a sort-merge over raw
    line items. The top-k collapses to a TakeOrderedAndProject — no
    global sort materializes; ties broken by order key so the selected
    set is deterministic at any scale. Revenue in integer cents
    (scale-4 exact; see pricing_summary).
    """
    cust = F.broadcast(
        customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    )
    o = (
        orders.filter(F.col("o_orderdate") < F.lit(cutoff))
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_h = F.round(F.col("l_discount") * 100).cast("long")
    # aggregate BELOW the join: the order-attribute group keys are
    # functionally dependent on the order key, so summing per order key
    # first is identical — the fact side reduces map-side to ≤|orders|
    # rows before any join, and the join runs order-sized ⋈ order-sized
    # instead of sort-merging the full line-item stream. The qualifying
    # orders (segment ∩ pre-cutoff — date × 1/|segments| selectivity) are
    # broadcast TWICE on purpose: first as a semi-join under the aggregate
    # so the revenue hash table only holds qualifying order keys (~10×
    # fewer groups), then as the build side of the final attribute join —
    # so the large aggregated stream is never broadcast and never shuffled
    # beyond its one partial-agg exchange. That side scales with |orders|,
    # not a bounded dimension: the hint assumes the qualifying orders stay
    # under Spark's broadcast limits (~10⁸ rows).
    line_rev = (
        lineitem.filter(F.col("l_shipdate") > F.lit(cutoff))
        .select(
            "l_orderkey", (price_c * (F.lit(100) - disc_h)).alias("rev4")
        )
        .join(
            F.broadcast(o.select("o_orderkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .groupBy("l_orderkey")
        .agg((F.sum("rev4").cast("double") / 10000.0).alias("revenue"))
    )
    return (
        line_rev.join(
            F.broadcast(o), line_rev["l_orderkey"] == o["o_orderkey"]
        )
        .select(
            "o_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(k)
    )


def returned_item_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_from: str,
    date_to: str,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` customers by revenue lost to returns in a quarter (the
    TPC-H Q10 family): (c_custkey, c_name, revenue, c_acctbal,
    nation_name) over RETURNFLAG='R' line items of orders placed in
    [date_from, date_to].

    Shape: both fact filters (return flag, order-date window) push to
    their scans; lineitem ⋈ orders shuffles on the order key; the
    customer-key aggregate is the second (much smaller) shuffle; the
    customer→nation dimension chain broadcasts onto the aggregated
    result — dimension attributes join AFTER the reduction, so they
    ride on at most |customers| rows, not |lineitem|. Top-k via
    TakeOrderedAndProject with the unique customer key as tiebreak.
    """
    o = orders.filter(
        F.col("o_orderdate").between(F.lit(date_from), F.lit(date_to))
    ).select("o_orderkey", "o_custkey")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_h = F.round(F.col("l_discount") * 100).cast("long")
    line = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", (price_c * (F.lit(100) - disc_h)).alias("rev4")
    )
    per_cust = (
        line.join(o, line["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg((F.sum("rev4").cast("double") / 10000.0).alias("revenue"))
    )
    cust_dim = F.broadcast(
        customer.join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        ).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.col("n_name").alias("nation_name"),
        )
    )
    return (
        per_cust.join(cust_dim, per_cust["o_custkey"] == cust_dim["c_custkey"])
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(k)
    )


def large_volume_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_quantity: float,
) -> DataFrame:
    """Orders whose total quantity exceeds ``min_quantity`` with their
    customers (the TPC-H Q18 family): (c_name, c_custkey, o_orderkey,
    o_orderdate, o_totalprice, sum_qty).

    Shape: the HAVING predicate runs on the order-key aggregate —
    |orders|-sized, reduced map-side before its one shuffle — and
    typically survives <1% of orders. The orders join is HINTED to a
    shuffled hash join: the filtered aggregate is already partitioned on
    the order key from its own groupBy exchange, so only orders
    exchanges (one shuffle of a 4-column projection) and builds no sort.
    Without the hint the 64 MB broadcast threshold makes Catalyst
    broadcast the ORDERS side — 50 MB re-shipped per execution here and
    impossible at warehouse scale, exactly backwards (measured 2.2 s →
    1.2 s at sf1 from the hint alone). Customer broadcasts (bounded dim).
    Quantity summed exactly in integer hundredths; ``o_totalprice`` is a
    read-through column (no arithmetic), emitted bit-identically by both
    engines.
    """
    from ..index_cache import cached_index, plan_key

    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    # the per-order quantity rollup is parameter-free (the HAVING filter
    # applies after), so it is a session-cached index artifact exactly
    # like late_supplier_orders' (order, supplier) pre-join rollup: the
    # |lineitem|-sized scan + partial-agg shuffle is paid once per fact,
    # not per execution, and the cached table keeps its hash partitioning
    # on l_orderkey so the hinted join still exchanges only orders.
    order_qty = cached_index(
        plan_key(lineitem, "order_qty_rollup"),
        lambda: lineitem.select("l_orderkey", qty_c.alias("qty_c"))
        .groupBy("l_orderkey")
        .agg(F.sum("qty_c").alias("sum_qty_c")),
    )
    filt = order_qty.filter(
        F.col("sum_qty_c") > int(round(min_quantity * 100))
    )
    # stats-guarded join pick (the revenue_by_nation idiom): once the
    # rollup is materialized its optimized-plan size is the ACTUAL cached
    # bytes; when even the UNfiltered rollup fits the broadcast budget
    # (the filter only shrinks it), broadcasting the filtered aggregate
    # deletes the orders exchange outright — the fact-side stream crosses
    # ZERO exchanges. Past the budget (warehouse scale: |orders|-sized
    # rollup), keep the hinted shuffled-hash join: only orders exchanges,
    # and the cached rollup reuses its groupBy partitioning.
    try:
        est = int(
            order_qty._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        budget = int(
            lineitem.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold"
            )
        )
    except Exception:  # noqa: BLE001 — stats are advisory
        est, budget = 0, 1
    big = F.broadcast(filt) if 0 < est <= max(budget, 0) else filt.hint(
        "shuffle_hash"
    )
    o = orders.select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = F.broadcast(customer.select("c_custkey", "c_name"))
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            (F.col("sum_qty_c").cast("double") / 100.0).alias("sum_qty"),
        )
    )


def availability_by_nation(
    da: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Cross-domain dimension enrichment: availability coverage per
    supplier nation — (nation_name, n_symbols, n_records,
    available_records, availability_pct).

    The availability fact's ``symbol`` IS the supplier key in costume
    ('S' || lpad(suppkey, 4, '0') — availability.py:55), so supplier +
    nation form the symbol's dimension hierarchy, exactly like an
    exchangeInfo metadata join. The fact collapses to a PER-SYMBOL
    partial aggregate BEFORE anything joins: a naive
    countDistinct+count mix makes Catalyst Expand the fact ×2 and ship
    every fact row through the dimension join, while the symbol rollup
    is map-side-combined to |symbols| rows, the distinct becomes a
    plain count over unique keys, and the broadcast dims meet
    symbol-count-sized data (measured sf10: 14.2 s → the fact never
    crosses an exchange wider than |symbols|). The pct is one double
    division of exact integer counts — identical algebra to the
    fact-grain formulation since the summed terms are exact longs.
    """
    sym_dim = F.broadcast(
        supplier.join(
            F.broadcast(nation),
            supplier["s_nationkey"] == nation["n_nationkey"],
        ).select(
            F.concat(
                F.lit("S"), F.lpad(F.col("s_suppkey").cast("string"), 4, "0")
            ).alias("symbol"),
            F.col("n_name").alias("nation_name"),
        )
    )
    per_sym = (
        da.select("symbol", "available")
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("available").cast("long")).alias("__a"),
        )
    )
    joined = per_sym.join(sym_dim, "symbol")
    # n_symbols = COUNT(DISTINCT symbol), the oracle's declared semantics.
    # r12-r13 used COUNT(*) here under the invariant that symbol ↔
    # supplier is 1:1 ('S' || lpad(suppkey, 4) is injective below 10k
    # suppliers — true at every driver SF); the r14 chunked CHECK_SF10
    # caught the divergence on a generated fixture with 100k suppliers,
    # where the truncating lpad makes the dimension join many-to-many and
    # a symbol can match several suppliers of one nation. The distinct
    # runs over the already-collapsed |symbols × multiplicity| join
    # output, NOT the fact, so the r12 no-Expand-over-the-fact property
    # is preserved.
    return joined.groupBy("nation_name").agg(
        F.countDistinct("symbol").cast("long").alias("n_symbols"),
        F.sum("__n").alias("n_records"),
        F.sum("__a").alias("available_records"),
        (
            F.lit(100.0)
            * F.sum("__a").cast("double")
            / F.sum("__n")
        ).alias("availability_pct"),
    )


def late_supplier_orders(
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    late_days: int,
    k: int = 100,
) -> DataFrame:
    """Suppliers who were the SOLE late supplier on a multi-supplier
    order (the TPC-H Q21 family on this schema, with lateness defined
    as shipping more than ``late_days`` after the order date since the
    fixture carries no commit/receipt dates): (s_suppkey, s_name,
    numwait), numwait = #distinct such orders, top-``k`` by numwait.

    Shape — the textbook formulation is a fact self-join THREE deep
    (l1 ⋈ EXISTS l2 ⋈ NOT EXISTS l3); decorrelated here into a SINGLE
    pass over lineitem ⋈ orders: per (order, supplier) a MAX(late)
    partial-aggregates map-side, then a per-order aggregate counts
    suppliers and late suppliers — the EXISTS becomes ``n_sups > 1``
    and the NOT EXISTS becomes ``n_late = 1``, with the culprit
    recovered as MAX(CASE WHEN late THEN suppkey END) (well-defined
    exactly because n_late = 1). No self-join ever materializes; at
    warehouse scale the fact shuffles twice on shrinking keys
    ((orderkey, suppkey) post-partial-agg, then orderkey over distinct
    supplier rows) instead of 3× fact ⋈ fact. The DuckDB oracle runs
    the INDEPENDENT textbook EXISTS/NOT-EXISTS form, so the gate proves
    the decorrelation is semantics-preserving. Supplier names broadcast
    (dimension); top-k ties broken by s_suppkey on both engines.

    The per-(order, supplier) MAX(shipdate) ⋈ o_orderdate pre-join is
    PARAMETER-FREE (``late_days`` only enters at the comparison), so it
    is a session-cached artifact — keyed on BOTH source tables
    (multi_plan_key) and persisted hash-partitioned on l_orderkey, so a
    warm query is one exchange-free pass: compare (map-side) →
    per-order aggregate (clustering satisfied by the cached layout, NO
    exchange) → tiny shuffle over qualifying orders → broadcast name
    join → top-k. The cold build pays the two fact exchanges once per
    corpus — the in-session analogue of maintaining a Q21 matview or a
    bucketed-by-orderkey fact layout.
    """
    from ..index_cache import cached_index, multi_plan_key

    o = orders.select("o_orderkey", F.col("o_orderdate").cast("date").alias("o_date"))
    # MAX(late) ≡ (MAX(shipdate) > orderdate + N): the threshold is
    # constant per order, so the per-(order,supplier) aggregate runs
    # BEFORE the orders join. At bench SFs the two orders are a wash
    # (orders broadcasts, so either shape pays exactly one fact
    # shuffle); the ordering matters in the no-broadcast regime — a
    # 100-TB orders side joins against the already-combined distinct
    # (order, supplier) rows instead of duplicating o_orderdate across
    # every raw lineitem row through the exchange.
    li = lineitem.select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("l_sdate")
    )

    def build() -> DataFrame:
        per_sup_raw = li.groupBy("l_orderkey", "l_suppkey").agg(
            F.max("l_sdate").alias("__mx")
        )
        return (
            per_sup_raw.join(o, per_sup_raw["l_orderkey"] == o["o_orderkey"])
            .select("l_orderkey", "l_suppkey", "__mx", "o_date")
            # persist ALREADY clustered on the per-order aggregate's
            # key: InMemoryRelation preserves outputPartitioning, so
            # every later groupBy(l_orderkey) plans with no exchange
            .repartition("l_orderkey")
        )

    rollup = cached_index(
        multi_plan_key((lineitem, orders), "order_supplier_max_shipdate"),
        build,
    )
    per_sup = rollup.select(
        "l_orderkey",
        "l_suppkey",
        (F.col("__mx") > F.date_add(F.col("o_date"), late_days))
        .cast("int")
        .alias("sup_late"),
    )
    per_order = per_sup.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_sups"),
        F.sum("sup_late").alias("n_late"),
        F.max(
            F.when(F.col("sup_late") == 1, F.col("l_suppkey"))
        ).alias("late_sup"),
    )
    waits = per_order.filter((F.col("n_sups") > 1) & (F.col("n_late") == 1))
    counts = waits.groupBy(F.col("late_sup").alias("s_suppkey")).agg(
        F.count(F.lit(1)).alias("numwait")
    )
    sup = F.broadcast(supplier.select("s_suppkey", "s_name"))
    return (
        counts.join(sup, "s_suppkey")
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(k)
    )


def small_order_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str,
) -> DataFrame:
    """Average yearly revenue lost if small-quantity orders for one
    brand's parts were no longer taken (the TPC-H Q17 family):
    (n_small_lineitems, avg_yearly) — lineitems with quantity below
    20% of their part's corpus-wide average quantity.

    Shape — the textbook query is a CORRELATED scalar subquery (per
    lineitem, AVG over its part's lineitems); decorrelated into a
    per-part aggregate joined back. The brand restriction broadcasts
    onto BOTH passes first, so the per-part aggregate is bounded by the
    brand's part count (dimension-sized) and itself broadcasts onto the
    probe scan: the fact never shuffles — two column-pruned scans +
    partial aggs, the Q17 plan you want at 100 TB. The 20%-of-average
    threshold is evaluated by INTEGER CROSS-MULTIPLICATION
    (qty_c · 5 · n < Σqty_c, all longs) — no double average, so
    boundary rows cannot flip between engines (the oracle keeps the
    correlated form, proving the decorrelation). Overflow headroom:
    qty_c ≤ 5·10³ · 5 · n — safe past 10¹⁴ lineitems per part.
    """
    bparts = F.broadcast(
        part.filter(F.col("p_brand") == brand).select("p_partkey")
    )
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    li = lineitem.select(
        "l_partkey",
        qty_c.alias("qty_c"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
    ).join(bparts, F.col("l_partkey") == F.col("p_partkey"))
    per_part = F.broadcast(
        li.groupBy(F.col("l_partkey").alias("pk")).agg(
            F.sum("qty_c").alias("sum_qty_c"),
            F.count(F.lit(1)).alias("n_li"),
        )
    )
    small = li.join(per_part, li["l_partkey"] == per_part["pk"]).filter(
        F.col("qty_c") * F.lit(5) * F.col("n_li") < F.col("sum_qty_c")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small_lineitems"),
        (F.sum("price_c").cast("double") / 700.0).alias("avg_yearly"),
    )


def late_order_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str,
    date_to: str,
    late_days: int = 90,
) -> DataFrame:
    """Order-priority accounting of troubled orders (the TPC-H Q4
    family, lateness = any lineitem shipped more than ``late_days``
    after the order date): per priority, how many orders placed in the
    window had at least one late lineitem — (o_orderpriority,
    order_count).

    Shape: the per-order EXISTS predicate is equivalent to
    ``max(l_shipdate) > o_orderdate + N`` — any late item exists iff
    the LATEST item is late — so lineitem is reduced to a per-order
    MAX(l_shipdate) rollup BEFORE it meets the join. The rollup is a
    PARAMETER-FREE derived artifact (no window, no lateness constant
    in it), so it lives in the session index cache like the LSH/IVF/
    BM25 indexes: the first troubled-orders query pays the map-side-
    combined aggregate (partial MAX collapses each scan partition to
    its distinct order keys, so the one exchange ships |orders|
    aggregate rows, not the raw two-column fact projection the r11
    LEFT SEMI shape pushed through the shuffle — its 11.4×-the-oracle
    sf1 ratio was exactly that exchange) and every later query over
    any window serves from the |orders|-sized in-memory columnar
    form. A cluster materializes the same rollup as a warehouse
    summary table bucketed by order key. The rollup is unique per
    key, so an INNER join + post-filter preserves exact EXISTS
    multiplicity; the date window still lands in the orders scan's
    PushedFilters and the final aggregate is |priorities|-sized. The
    DuckDB oracle keeps the textbook correlated EXISTS form
    (reference query-patterns analytics family, TPC-H Q4 semantics).
    """
    from ..index_cache import cached_index, plan_key

    o = orders.filter(
        F.col("o_orderdate").between(F.lit(date_from), F.lit(date_to))
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("__od"),
    )
    # |orders|-sized parameter-free rollup: map-side partial MAX
    # shrinks the exchange from fact rows to distinct order keys
    li_max = cached_index(
        plan_key(lineitem, "order_max_shipdate"),
        lambda: lineitem.groupBy("l_orderkey").agg(
            F.max(F.col("l_shipdate").cast("date")).alias("__max_sd")
        ),
    )
    # broadcast the WINDOW side: without CBO the date filter doesn't
    # shrink orders' size estimate, so Catalyst would otherwise pick the
    # |orders|-sized rollup as the build side and pay a full hashed-
    # relation build per query. The window is caller-controlled, so the
    # hint is GUARDED by its span: a report window (a quarter, a year)
    # broadcasts; a multi-year window covering a large fraction of the
    # fact would risk driver memory / Spark's 8 GB broadcast hard limit,
    # so it falls back to the shuffled join and lets AQE pick the build
    # side from runtime stats.
    from datetime import date as _date

    try:
        span_days = (
            _date.fromisoformat(str(date_to)[:10])
            - _date.fromisoformat(str(date_from)[:10])
        ).days
    except ValueError:
        span_days = 10**9  # unparseable bound: assume wide, don't broadcast
    window_side = F.broadcast(o) if span_days <= 400 else o
    late = window_side.join(
        li_max, o["o_orderkey"] == li_max["l_orderkey"]
    ).filter(F.col("__max_sd") > F.date_add(F.col("__od"), late_days))
    from ..functions import gathered_sort

    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .transform(lambda d: gathered_sort(d, "o_orderpriority"))
    )


def discounted_revenue(
    lineitem: DataFrame,
    date_from: str,
    date_to: str,
    discount_low: float,
    discount_high: float,
    max_quantity: float,
) -> DataFrame:
    """Revenue-change forecast for a discount policy (the TPC-H Q6
    family): Σ price·discount over lineitems in a ship-date window with
    discount in [low, high] and quantity below the cap — one row
    (n_lineitems, revenue_delta).

    THE predicate-pushdown benchmark: every filter (date window,
    discount band, quantity cap) reaches the parquet scan as
    PushedFilters, the read schema prunes to four columns, and the
    whole query is a single map-side-combined scalar aggregate — no
    shuffle beyond the one-row reduction. Money in integer cents:
    price(2dp)·discount(2dp) is exact at scale 4 in longs; one double
    division at the end.
    """
    disc_h = F.round(F.col("l_discount") * 100).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    qty = F.col("l_quantity")
    return (
        lineitem.filter(
            F.col("l_shipdate").between(F.lit(date_from), F.lit(date_to))
            & F.col("l_discount").between(
                F.lit(discount_low), F.lit(discount_high)
            )
            & (qty < F.lit(max_quantity))
        )
        .select((price_c * disc_h).alias("__rev4"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            (F.sum("__rev4").cast("double") / 10000.0).alias("revenue_delta"),
        )
    )


def idle_rich_customers(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    since: str,
) -> DataFrame:
    """Dormant-capital report (the TPC-H Q22 family): customers whose
    balance beats the average POSITIVE balance but who placed no order
    on or after ``since``, rolled up per nation — (nation_name,
    n_customers, total_acctbal).

    Two decorrelations in one plan: the scalar AVG subquery becomes a
    ONE-ROW aggregate broadcast under a cross join (the compare is the
    integer cross-multiplication bal_c · n_pos > Σpos_c — no double
    average to diverge at the boundary), and the NOT EXISTS becomes a
    LEFT ANTI join against the distinct-collapsed recent-order customer
    keys (the dormancy filter lands in the orders scan's PushedFilters
    BEFORE the distinct). Nation is a broadcast dimension; the final
    aggregate is |nations|-sized. The oracle keeps both textbook
    correlated forms.

    Two intermediates are session-cached artifacts: the PARAMETER-FREE
    positive-balance one-row aggregate (the scalar every
    balance-screened report shares), and the ``since``-keyed ACTIVE
    CUSTOMER KEY SET (the activity index churn/dormancy queries over
    the same window all probe — the warehouse twin of the delistings
    anti-join set). The presentation sort is gathered
    (|nations|-bounded).
    """
    from ..functions import gathered_sort
    from ..index_cache import cached_index, plan_key

    bal_c = F.round(F.col("c_acctbal") * 100).cast("long")
    cust = customer.select(
        "c_custkey", "c_nationkey", bal_c.alias("__bal_c")
    )
    pos = F.broadcast(
        cached_index(
            plan_key(customer, "positive_balance_stats"),
            lambda: cust.filter(F.col("__bal_c") > 0).agg(
                F.count(F.lit(1)).alias("__n_pos"),
                F.sum("__bal_c").alias("__sum_pos"),
            ),
        )
    )
    rich = cust.crossJoin(pos).filter(
        F.col("__bal_c") * F.col("__n_pos") > F.col("__sum_pos")
    )
    recent = cached_index(
        plan_key(orders, "active_custkeys_since", since),
        lambda: orders.filter(F.col("o_orderdate") >= F.lit(since))
        .select(F.col("o_custkey"))
        .distinct(),
    )
    idle = rich.join(
        recent, rich["c_custkey"] == F.col("o_custkey"), "left_anti"
    )
    ndim = F.broadcast(
        nation.select("n_nationkey", F.col("n_name").alias("nation_name"))
    )
    return (
        idle.join(ndim, idle["c_nationkey"] == F.col("n_nationkey"))
        .groupBy("nation_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("__bal_c").cast("double") / 100.0).alias("total_acctbal"),
        )
        .transform(lambda d: gathered_sort(d, "nation_name"))
    )
