"""Operator unit tests on the 3×3 fixture — reference test parity:
tests/test_queries/test_snapshots.py, test_validation/test_continuity.py."""

from __future__ import annotations

import datetime as dt

from binance_futures_availability_spark.operators import (
    analytics,
    snapshots,
    timelines,
    volume,
)
from binance_futures_availability_spark.validation import completeness, continuity

from conftest import D1, D2, D3


def test_snapshot_returns_available_sorted(populated_da):
    rows = snapshots.available_symbols_on_date(populated_da, D3).collect()
    assert [r["symbol"] for r in rows] == ["BTCUSDT", "NEWUSDT"]


def test_snapshot_empty_out_of_range(populated_da):
    assert (
        snapshots.available_symbols_on_date(populated_da, dt.date(2020, 1, 1)).count()
        == 0
    )


def test_range_distinct(populated_da):
    rows = snapshots.symbols_available_in_range(populated_da, D1, D3).collect()
    assert [r["symbol"] for r in rows] == ["BTCUSDT", "ETHUSDT", "NEWUSDT"]


def test_timeline(populated_da):
    rows = timelines.availability_timeline(populated_da, "ETHUSDT").collect()
    assert [(r["date"], r["available"]) for r in rows] == [
        (D1, True),
        (D2, True),
        (D3, False),
    ]


def test_first_last_listing(populated_da):
    assert timelines.first_listing_date(populated_da, "NEWUSDT").collect()[0][
        "first_date"
    ] == D3
    assert timelines.last_available_date(populated_da, "ETHUSDT").collect()[0][
        "last_date"
    ] == D2


def test_trend(populated_da):
    rows = analytics.availability_trend(populated_da).collect()
    assert [(r["date"], r["available_count"]) for r in rows] == [
        (D1, 2),
        (D2, 2),
        (D3, 2),
    ]


def test_new_listings(populated_da):
    rows = analytics.new_listings(populated_da, D3).collect()
    assert [r["symbol"] for r in rows] == ["NEWUSDT"]


def test_delistings(populated_da):
    rows = analytics.delistings(populated_da, D3).collect()
    assert [r["symbol"] for r in rows] == ["ETHUSDT"]


def test_stats(populated_da):
    r = analytics.availability_stats(populated_da).collect()[0]
    assert r["total_records"] == 8
    assert r["available_records"] == 6
    assert r["unavailable_records"] == 2
    assert r["distinct_dates"] == 3
    assert r["distinct_symbols"] == 3


def test_top_by_volume(populated_da):
    rows = volume.top_by_volume(populated_da, D3, limit=10).collect()
    assert [(r["symbol"], r["volume_rank"]) for r in rows] == [
        ("BTCUSDT", 1),
        ("NEWUSDT", 2),
    ]
    # share: 100*100/150, 100*50/150 rounded
    assert [r["market_share_pct"] for r in rows] == [66.67, 33.33]


def test_top_by_volume_min_volume(populated_da):
    rows = volume.top_by_volume(populated_da, D3, limit=10, min_volume=60.0).collect()
    assert [r["symbol"] for r in rows] == ["BTCUSDT"]


def test_volume_percentile(populated_da):
    r = volume.volume_percentile(populated_da, "NEWUSDT", D3).collect()[0]
    assert r["rank"] == 2 and r["total_symbols"] == 2
    assert r["percentile"] == 0.0


def test_average_volume(populated_da):
    r = volume.average_volume(populated_da, "BTCUSDT", D1, D3).collect()[0]
    assert r["avg_volume_usdt"] == 200.0
    assert r["days_with_data"] == 3
    assert r["min_volume_usdt"] == 100.0
    assert r["max_volume_usdt"] == 300.0


def test_market_summary(populated_da):
    r = volume.market_summary(populated_da, D1).collect()[0]
    assert r["total_volume_usdt"] == 330.0
    assert r["symbol_count"] == 2


def test_continuity_no_gaps(populated_da):
    assert continuity.find_gaps(populated_da, D1, D3).count() == 0


def test_continuity_gaps(populated_da):
    rows = continuity.find_gaps(
        populated_da, dt.date(2024, 1, 12), dt.date(2024, 1, 16)
    ).collect()
    assert [r["expected_date"] for r in rows] == [
        dt.date(2024, 1, 12),
        dt.date(2024, 1, 16),
    ]


def test_incomplete_dates(populated_da):
    rows = completeness.incomplete_dates(populated_da, 3).collect()
    # every fixture date has 2 available < 3
    assert [r["date"] for r in rows] == [D1, D2, D3]
    assert all(r["symbol_count"] == 2 for r in rows)


def test_revenue_by_nation_literal_world(spark):
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    D = dt.date
    customer = spark.createDataFrame(
        [(1, "alice", 10, 0.0, "A"), (2, "bob", 20, 0.0, "B")],
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    orders = spark.createDataFrame(
        [
            (100, 1, "O", 0.0, D(1996, 3, 1), "1"),
            (200, 2, "O", 0.0, D(1996, 4, 1), "1"),
            (300, 1, "O", 0.0, D(1997, 1, 1), "1"),  # outside window
        ],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    lineitem = spark.createDataFrame(
        [
            (100, 1, 1, 1, 1.0, 100.00, 0.10, 0.0, "N", "O", D(1996, 3, 2)),
            (100, 2, 2, 2, 1.0, 50.00, 0.00, 0.0, "N", "O", D(1996, 3, 2)),
            (200, 3, 3, 1, 1.0, 20.00, 0.50, 0.0, "N", "O", D(1996, 4, 2)),
            (300, 4, 4, 1, 1.0, 999.00, 0.00, 0.0, "N", "O", D(1997, 1, 2)),
        ],
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
         "l_linestatus", "l_shipdate"],
    )
    nation = spark.createDataFrame(
        [(10, "FRANCE", 1), (20, "CANADA", 2)],
        ["n_nationkey", "n_name", "n_regionkey"],
    )
    region = spark.createDataFrame(
        [(1, "EUROPE"), (2, "AMERICA")], ["r_regionkey", "r_name"]
    )
    got = {
        (r["region_name"], r["nation_name"]): r
        for r in warehouse.revenue_by_nation(
            customer, orders, lineitem, nation, region,
            "1996-01-01", "1996-12-31",
        ).collect()
    }
    # alice: 100·0.9 + 50·1.0 = 140.00 exactly; 1997 order excluded
    assert got[("EUROPE", "FRANCE")]["revenue"] == 140.0
    assert got[("EUROPE", "FRANCE")]["n_lineitems"] == 2
    assert got[("AMERICA", "CANADA")]["revenue"] == 10.0


def test_revenue_by_nation_broadcasts_dims(spark):
    import datetime as dt

    from binance_futures_availability_spark.catalog import load_table
    from binance_futures_availability_spark.operators import warehouse

    df = warehouse.revenue_by_nation(
        load_table(spark, "/root/testdata/sf0.001", "customer"),
        load_table(spark, "/root/testdata/sf0.001", "orders"),
        load_table(spark, "/root/testdata/sf0.001", "lineitem"),
        load_table(spark, "/root/testdata/sf0.001", "nation"),
        load_table(spark, "/root/testdata/sf0.001", "region"),
        "1996-01-01", "1996-12-31",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the nation⋈region dim chain must arrive via broadcast — no fact row
    # ever shuffles for a dimension lookup
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the order-date window reaches the orders scan as a pushed filter
    assert "o_orderdate" in plan.split("PushedFilters")[1][:400] or \
           "o_orderdate" in plan


def test_pricing_summary_exact_decimal_sums(spark):
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    D = dt.date
    lineitem = spark.createDataFrame(
        [
            (1, 1, 1, 1, 2.0, 100.00, 0.10, 0.05, "N", "O", D(1996, 1, 1)),
            (2, 2, 2, 1, 3.0, 50.00, 0.00, 0.00, "N", "O", D(1996, 2, 1)),
            (3, 3, 3, 1, 1.0, 10.00, 0.50, 0.10, "R", "F", D(1996, 3, 1)),
            # after the cutoff — excluded
            (4, 4, 4, 1, 9.0, 999.00, 0.00, 0.00, "N", "O", D(1999, 1, 1)),
        ],
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
         "l_linestatus", "l_shipdate"],
    )
    got = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in warehouse.pricing_summary(lineitem, "1998-09-02").collect()
    }
    no = got[("N", "O")]
    assert no["count_order"] == 2 and no["sum_qty"] == 5.0
    assert no["sum_base_price"] == 150.0
    assert no["sum_disc_price"] == 140.0      # 100·0.9 + 50·1.0
    assert no["sum_charge"] == 144.5          # 90·1.05 + 50·1.0
    assert no["avg_qty"] == 2.5 and no["avg_disc"] == 0.05
    rf = got[("R", "F")]
    assert rf["sum_disc_price"] == 5.0 and rf["sum_charge"] == 5.5


def test_promo_revenue_share(spark):
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    D = dt.date
    lineitem = spark.createDataFrame(
        [
            (1, 10, 1, 1, 1.0, 100.00, 0.00, 0.0, "N", "O", D(1996, 6, 5)),
            (2, 20, 2, 1, 1.0, 300.00, 0.00, 0.0, "N", "O", D(1996, 6, 6)),
            # outside the window
            (3, 10, 3, 1, 1.0, 999.00, 0.00, 0.0, "N", "O", D(1996, 7, 1)),
        ],
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
         "l_linestatus", "l_shipdate"],
    )
    part = spark.createDataFrame(
        [(10, "widget", "B1", "PROMO", 1, 1.0), (20, "gadget", "B2", "STANDARD", 1, 1.0)],
        ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    )
    got = warehouse.promo_revenue(
        lineitem, part, "1996-06-01", "1996-06-30"
    ).collect()[0]
    assert got["n_lineitems"] == 2
    assert got["promo_rev"] == 100.0 and got["total_rev"] == 400.0
    assert got["promo_pct"] == 25.0
    # the part dimension arrives via broadcast — no fact shuffle at all
    plan = warehouse.promo_revenue(
        lineitem, part, "1996-06-01", "1996-06-30"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_availability_by_nation_enrichment(spark):
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse
    from binance_futures_availability_spark.schema import DAILY_AVAILABILITY
    from conftest import _row

    D = dt.date
    da = spark.createDataFrame(
        [
            _row(D(2024, 1, 1), "S0001", True, 10.0),
            _row(D(2024, 1, 2), "S0001", False, None),
            _row(D(2024, 1, 1), "S0002", True, 20.0),
        ],
        DAILY_AVAILABILITY,
    )
    supplier = spark.createDataFrame(
        [(1, "Supplier#1", 10, 0.0), (2, "Supplier#2", 20, 0.0)],
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    nation = spark.createDataFrame(
        [(10, "FRANCE", 1), (20, "CANADA", 2)],
        ["n_nationkey", "n_name", "n_regionkey"],
    )
    got = {
        r["nation_name"]: r
        for r in warehouse.availability_by_nation(da, supplier, nation).collect()
    }
    fr = got["FRANCE"]
    assert fr["n_symbols"] == 1 and fr["n_records"] == 2
    assert fr["available_records"] == 1 and fr["availability_pct"] == 50.0
    assert got["CANADA"]["availability_pct"] == 100.0


def test_availability_intervals_islands(spark):
    import datetime as dt

    from binance_futures_availability_spark.operators import analytics
    from binance_futures_availability_spark.schema import DAILY_AVAILABILITY
    from conftest import _row

    D = dt.date
    rows = [
        # A: available 1-2, gap (unavailable 3), available 4
        _row(D(2024, 1, 1), "A", True, 1.0),
        _row(D(2024, 1, 2), "A", True, 1.0),
        _row(D(2024, 1, 3), "A", False, None),
        _row(D(2024, 1, 4), "A", True, 1.0),
        # B: one unbroken run
        _row(D(2024, 1, 1), "B", True, 1.0),
        _row(D(2024, 1, 2), "B", True, 1.0),
        # C: a MISSING row (no record Jan 2) also breaks the island
        _row(D(2024, 1, 1), "C", True, 1.0),
        _row(D(2024, 1, 3), "C", True, 1.0),
    ]
    da = spark.createDataFrame(rows, DAILY_AVAILABILITY)
    got = sorted(
        (
            (r["symbol"], r["start_date"], r["end_date"], r["n_days"])
            for r in analytics.availability_intervals(da).collect()
        )
    )
    assert got == [
        ("A", D(2024, 1, 1), D(2024, 1, 2), 2),
        ("A", D(2024, 1, 4), D(2024, 1, 4), 1),
        ("B", D(2024, 1, 1), D(2024, 1, 2), 2),
        ("C", D(2024, 1, 1), D(2024, 1, 1), 1),
        ("C", D(2024, 1, 3), D(2024, 1, 3), 1),
    ]


def test_shipping_priority_literal_world(spark):
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    D = dt.date
    customer = spark.createDataFrame(
        [(1, "alice", 10, 0.0, "BUILDING"), (2, "bob", 20, 0.0, "AUTO")],
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    orders = spark.createDataFrame(
        [
            (100, 1, "O", 0.0, D(1996, 3, 1), "1-URGENT"),
            (200, 2, "O", 0.0, D(1996, 3, 1), "1-URGENT"),  # wrong segment
            (300, 1, "O", 0.0, D(1996, 8, 1), "2-HIGH"),    # after cutoff
            (400, 1, "O", 0.0, D(1996, 2, 1), "3-MEDIUM"),
        ],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    )
    lineitem = spark.createDataFrame(
        [
            # order 100: one line still unshipped after cutoff, one shipped
            (100, 1, 1, 1, 1.0, 100.00, 0.10, 0.0, "N", "O", D(1996, 7, 2)),
            (100, 2, 2, 2, 1.0, 999.00, 0.00, 0.0, "N", "O", D(1996, 5, 2)),
            (200, 3, 3, 1, 1.0, 20.00, 0.00, 0.0, "N", "O", D(1996, 7, 2)),
            (400, 4, 4, 1, 1.0, 30.00, 0.50, 0.0, "N", "O", D(1996, 7, 2)),
        ],
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
         "l_linestatus", "l_shipdate"],
    )
    rows = warehouse.shipping_priority(
        customer, orders, lineitem, "BUILDING", "1996-06-30", k=10
    ).collect()
    # order 200 excluded (segment), order 300 excluded (placed after
    # cutoff), order 100's shipped line excluded — 100·0.9 = 90.00 beats
    # order 400's 30·0.5 = 15.00
    assert [(r["o_orderkey"], r["revenue"]) for r in rows] == [
        (100, 90.0), (400, 15.0)
    ]
    assert rows[0]["o_orderpriority"] == "1-URGENT"
    assert rows[0]["o_orderdate"] == dt.date(1996, 3, 1)


def test_returned_item_customers_topk_and_dims(spark):
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    D = dt.date
    customer = spark.createDataFrame(
        [(1, "alice", 10, 5.5, "B"), (2, "bob", 20, 1.25, "B"),
         (3, "carol", 10, 0.0, "B")],
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    nation = spark.createDataFrame(
        [(10, "FRANCE", 1), (20, "CANADA", 2)],
        ["n_nationkey", "n_name", "n_regionkey"],
    )
    orders = spark.createDataFrame(
        [
            (100, 1, "F", 0.0, D(1996, 2, 1), "1"),
            (200, 2, "F", 0.0, D(1996, 2, 1), "1"),
            (300, 3, "F", 0.0, D(1996, 6, 1), "1"),  # outside quarter
        ],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    )
    lineitem = spark.createDataFrame(
        [
            (100, 1, 1, 1, 1.0, 100.00, 0.10, 0.0, "R", "F", D(1996, 3, 2)),
            (100, 2, 2, 2, 1.0, 40.00, 0.00, 0.0, "N", "F", D(1996, 3, 2)),
            (200, 3, 3, 1, 1.0, 60.00, 0.00, 0.0, "R", "F", D(1996, 3, 2)),
            (300, 4, 4, 1, 1.0, 999.00, 0.00, 0.0, "R", "F", D(1996, 7, 2)),
        ],
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
         "l_linestatus", "l_shipdate"],
    )
    rows = warehouse.returned_item_customers(
        customer, orders, lineitem, nation, "1996-01-01", "1996-03-31", k=2
    ).collect()
    # alice: only the R line counts (100·0.9 = 90); bob 60; carol's order
    # is outside the quarter
    assert [(r["c_custkey"], r["revenue"], r["nation_name"]) for r in rows] \
        == [(1, 90.0, "FRANCE"), (2, 60.0, "CANADA")]
    assert rows[0]["c_acctbal"] == 5.5


def test_large_volume_customers_having(spark):
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    D = dt.date
    customer = spark.createDataFrame(
        [(1, "alice", 10, 0.0, "B"), (2, "bob", 20, 0.0, "B")],
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    orders = spark.createDataFrame(
        [
            (100, 1, "F", 1234.56, D(1996, 2, 1), "1"),
            (200, 2, "F", 99.99, D(1996, 3, 1), "1"),
        ],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    )
    lineitem = spark.createDataFrame(
        [
            (100, 1, 1, 1, 150.0, 1.0, 0.0, 0.0, "N", "F", D(1996, 2, 2)),
            (100, 2, 2, 2, 150.5, 1.0, 0.0, 0.0, "N", "F", D(1996, 2, 2)),
            (200, 3, 3, 1, 300.0, 1.0, 0.0, 0.0, "N", "F", D(1996, 3, 2)),
        ],
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
         "l_linestatus", "l_shipdate"],
    )
    rows = {
        r["o_orderkey"]: r
        for r in warehouse.large_volume_customers(
            customer, orders, lineitem, 300.0
        ).collect()
    }
    # order 100 sums 300.5 > 300 (the half-unit survives integer
    # hundredths); order 200 sums exactly 300 — strict > excludes it
    assert set(rows) == {100}
    r = rows[100]
    assert r["sum_qty"] == 300.5 and r["c_name"] == "alice"
    assert r["o_totalprice"] == 1234.56
    assert r["o_orderdate"] == dt.date(1996, 2, 1)


def test_availability_rollup_grouping_sets(populated_da):
    from binance_futures_availability_spark.operators import analytics

    rows = analytics.availability_rollup(populated_da).collect()
    got = {(r["year"], r["month"]): r for r in rows}
    # fixture world: 8 (date, symbol) rows across Jan 2024 — month row,
    # year subtotal, and grand total must agree
    assert got[(2024, 1)]["n_records"] == 8
    assert got[(2024, 1)]["n_symbols"] == 3
    assert got[(2024, None)]["n_records"] == 8
    assert got[(None, None)]["n_records"] == 8
    assert got[(2024, 1)]["n_available"] == 6  # BTC 3 + ETH 2 + NEW 1
    assert len(rows) == 3


def test_approx_stats_within_error_bounds(populated_da):
    from binance_futures_availability_spark.operators import analytics

    exact = analytics.availability_stats(populated_da).collect()[0]
    approx = analytics.approx_availability_stats(populated_da).collect()[0]
    assert approx["total_records"] == exact["total_records"]
    # HLL++ rsd=0.05: generous 3-sigma band
    for a, e in (
        (approx["approx_dates"], exact["distinct_dates"]),
        (approx["approx_symbols"], exact["distinct_symbols"]),
    ):
        assert abs(a - e) <= max(1, 0.15 * e)
    q50, q90, q99 = approx["volume_quantiles"]
    assert q50 <= q90 <= q99


def test_symbol_volume_profile_windows(populated_da):
    from binance_futures_availability_spark.operators import volume as vol

    got = {
        r["symbol"]: r
        for r in vol.symbol_volume_profile(populated_da).collect()
    }
    btc = got["BTCUSDT"]
    # BTC volumes 300/200/100 across D1..D3 in date order
    assert (btc["first_volume"], btc["second_volume"], btc["last_volume"]) == (
        300.0, 200.0, 100.0,
    )
    assert btc["n_days"] == 3 and btc["total_volume"] == 600.0
    # single-day symbol: NTH_VALUE(2) is NULL
    new = got["NEWUSDT"]
    assert new["second_volume"] is None and new["n_days"] == 1
    # cume_dist: NEW(50) < ETH(50)?? ETH total 30+20=50 ties NEW 50
    eth = got["ETHUSDT"]
    assert eth["total_volume"] == new["total_volume"] == 50.0
    assert eth["volume_cume_dist"] == new["volume_cume_dist"]  # tie shares value
    assert btc["volume_cume_dist"] == 1.0


def test_gap_filled_volumes_locf(populated_da):
    from binance_futures_availability_spark.operators import timelines as tl

    got = {
        (r["symbol"], r["date"]): r
        for r in tl.gap_filled_volumes(populated_da).collect()
    }
    # NEWUSDT observed only on D3 -> no densification before its first day
    assert (("NEWUSDT", D1)) not in got and ("NEWUSDT", D3) in got
    # BTC has all three days observed, nothing filled
    assert all(not got[("BTCUSDT", d)]["is_filled"] for d in (D1, D2, D3))
    # ETH observed D1, D2: series spans its own range only
    assert ("ETHUSDT", D3) not in got
    assert got[("ETHUSDT", D2)]["quote_volume_usdt"] == 20.0


def test_gap_filled_volumes_carries_forward(spark):
    import datetime as dt

    from binance_futures_availability_spark.operators import timelines as tl
    from conftest import _row
    from binance_futures_availability_spark.schema import DAILY_AVAILABILITY

    D = dt.date
    rows = [
        _row(D(2024, 2, 1), "AUSDT", True, 10.0),
        _row(D(2024, 2, 4), "AUSDT", True, 40.0),  # 2-day hole
    ]
    da = spark.createDataFrame(rows, DAILY_AVAILABILITY)
    got = {r["date"]: r for r in tl.gap_filled_volumes(da).collect()}
    assert sorted(got) == [D(2024, 2, d) for d in (1, 2, 3, 4)]
    for d in (2, 3):  # holes carry the last observed value, flagged
        assert got[D(2024, 2, d)]["quote_volume_usdt"] == 10.0
        assert got[D(2024, 2, d)]["is_filled"]
    assert got[D(2024, 2, 4)]["quote_volume_usdt"] == 40.0
    assert not got[D(2024, 2, 4)]["is_filled"]


def test_availability_pivot_weekday_matrix(populated_da):
    import datetime as dt

    from binance_futures_availability_spark.operators import analytics

    rows = analytics.availability_pivot(populated_da).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["month"] == dt.date(2024, 1, 1)
    # fixture availabilities: D1(Sat)=2, D2(Sun)=2, D3(Mon)=2
    assert r["dow_6"] == 2 and r["dow_0"] == 2 and r["dow_1"] == 2
    # all other weekday columns zero-filled, never NULL
    assert all(r[f"dow_{d}"] == 0 for d in (2, 3, 4, 5))


def test_load_table_hot_evicts_superseded_fingerprints(spark, tmp_path):
    """Rewriting a table changes its fingerprint; the hot-cache must
    evict-and-unpersist the stale pinned snapshot instead of stranding
    its blocks in executor storage for the session (ADVICE r8). 100
    rewrite cycles must not grow the cache monotonically."""
    import time

    from binance_futures_availability_spark import catalog, index_cache

    sf_dir = str(tmp_path)
    path = catalog.table_path(sf_dir, "region")

    def hot_entries():
        return [
            k
            for k in index_cache._HANDLES
            if "hot" in k and k[0][0].startswith(f"hot:{path}#")
        ]

    def write(v):
        spark.createDataFrame(
            [(v, "x", "y")], "r_regionkey long, r_name string, r_comment string"
        ).write.mode("overwrite").parquet(path)
        # parquet mtime granularity can be 1s on some filesystems; nudge
        # the fingerprint by touching the dir contents deterministically
        time.sleep(0.01)

    before = hot_entries()
    assert not before
    sizes = set()
    for v in range(8):
        write(v)
        df = catalog.load_table_hot(spark, sf_dir, "region", slices=2)
        assert df.count() == 1
        live = hot_entries()
        sizes.add(len(live))
    assert sizes == {1}  # never more than one live entry per path
    # and the survivor is the latest fingerprint's DataFrame
    assert (
        catalog.load_table_hot(spark, sf_dir, "region", slices=2)
        .select("r_regionkey")
        .first()[0]
        == 7
    )
