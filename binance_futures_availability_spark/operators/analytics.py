"""Analytics queries — trends, listings/delistings (anti-joins), stats.

Parity: reference src/binance_futures_availability/queries/analytics.py
(A1 :29-62 and :160-206, J3 :64-110, J4 :112-158) and the conditional-agg /
count-distinct stats blocks (availability_db.py:232-242,
.github/scripts/generate_stats.py:17-36).

Anti-join note (SURVEY.md §4): the reference uses null-sensitive ``NOT IN
(subquery)``; its subquery columns are NOT NULL so ``left_anti`` is
semantics-identical — we encode left_anti explicitly, which Catalyst executes
as a broadcast anti-join when the right side (a distinct symbol set) is small.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import gathered_sort, sized_sort


def availability_trend(
    da: DataFrame,
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
) -> DataFrame:
    """A1 — per-date count of available symbols, sorted by date.

    Reference SQL: analytics.py:52-59 (full table) and :160-206 (ranged).
    Map-side partial counts make this one narrow shuffle at any scale; the
    matview (sources/writer.refresh_symbol_counts) answers it from a summary
    table 50× faster for interactive use (ADR-0019).
    """
    out = da.filter(F.col("available"))
    if start is not None:
        out = out.filter(F.col("date") >= F.lit(start))
    if end is not None:
        out = out.filter(F.col("date") <= F.lit(end))
    return gathered_sort(
        out.groupBy("date").agg(F.count(F.lit(1)).alias("available_count")), "date"
    )


def new_listings(da: DataFrame, date: dt.date | str) -> DataFrame:
    """J3 — symbols available on ``date`` but never available before it.

    Reference SQL: analytics.py:95-106 (NOT IN over earlier dates).
    ``before`` collapses to a distinct symbol set before the anti-join, so
    the join's right side is tiny (≤ #symbols) and broadcasts.
    """
    today = (
        da.filter((F.col("date") == F.lit(date)) & F.col("available"))
        .select("symbol")
        .distinct()
    )
    before = (
        da.filter((F.col("date") < F.lit(date)) & F.col("available"))
        .select("symbol")
        .distinct()
    )
    return gathered_sort(today.join(before, "symbol", "left_anti"), "symbol")


def delistings(da: DataFrame, date: dt.date | str) -> DataFrame:
    """J4 — symbols available the day before ``date`` but not on ``date``.

    Reference SQL: analytics.py:142-153 (date arithmetic F1 at :146).
    """
    yesterday = (
        da.filter(
            (F.col("date") == F.date_sub(F.lit(date), 1)) & F.col("available")
        )
        .select("symbol")
        .distinct()
    )
    today = (
        da.filter((F.col("date") == F.lit(date)) & F.col("available"))
        .select("symbol")
        .distinct()
    )
    return gathered_sort(yesterday.join(today, "symbol", "left_anti"), "symbol")


def availability_stats(da: DataFrame) -> DataFrame:
    """A5 + A6 — one-row overall stats block.

    Reference: generate_stats.py:17-36 (conditional agg + COUNT DISTINCT).
    count_distinct over date/symbol is exact here; at 100 TB swap in
    approx_count_distinct for the interactive path.
    """
    return da.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.sum(F.when(F.col("available"), 1).otherwise(0)).alias("available_records"),
        F.sum(F.when(~F.col("available"), 1).otherwise(0)).alias(
            "unavailable_records"
        ),
        F.countDistinct("date").alias("distinct_dates"),
        F.countDistinct("symbol").alias("distinct_symbols"),
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
    )


def transition_events(da: DataFrame) -> DataFrame:
    """Whole-history listing/delisting/relisting/gap events, batch form.

    The batch twin of streaming.availability_transitions (identical event
    semantics, proven equal by test_streaming): one LAG window per symbol
    over the fact table instead of carried state —

    - ``listing``    first row for a symbol, available
    - ``relisting``  unavailable → available
    - ``delisting``  available → unavailable
    - ``gap``        consecutive available rows more than 1 day apart

    One shuffle by symbol (the same partitioning the rankings window
    cluster uses); generalizes J3/J4/J5 from per-date questions to the
    full history in a single pass.
    """
    # Materialize each lag ONCE in a dedicated projection, then derive the
    # event from the lag columns: inlining the lag expressions into the
    # CASE/filter made WindowExec evaluate lag(available) five times and
    # lag(date) twice per row (window expressions are not CSE'd — the plan
    # showed _we0.._we6); this shape's Window node carries exactly two.
    w = Window.partitionBy("symbol").orderBy("date")
    lagged = da.select(
        "symbol",
        F.col("date").alias("event_date"),
        "available",
        F.lag("available").over(w).alias("__pa"),
        F.lag("date").over(w).alias("__pd"),
    )
    avail = F.col("available")
    pa = F.col("__pa")
    event = (
        F.when(pa.isNull() & avail, F.lit("listing"))
        .when(avail & ~pa, F.lit("relisting"))
        .when(~avail & pa, F.lit("delisting"))
        .when(
            avail & pa & (F.datediff(F.col("event_date"), F.col("__pd")) > 1),
            F.lit("gap"),
        )
    )
    events = lagged.select(
        "symbol",
        event.alias("event"),
        "event_date",
        F.when(pa.isNotNull(), F.col("__pd")).alias("prev_date"),
    ).filter(F.col("event").isNotNull())
    # Presentation sort: the event stream is worst-case fact-sized (the
    # adversarially flappy synthetic fixture emits events on 36% of fact
    # rows at sf10 — 7.8M rows), so the single-partition gathered sort is
    # only safe below a size cutoff. Catalyst's optimized-plan stats give
    # a zero-job estimate of the INPUT fact (a parquet read here, so the
    # estimate is the fact's file size, not a guess);
    # large facts take the distributed range sort over a lazily
    # checkpointed event stream instead — the checkpoint stops orderBy's
    # range-sampling pass from re-executing the whole LAG window, and the
    # sort itself stays parallel. The cutover is measured, not guessed:
    # at sf1 (2.1M-row fact, ~0.8M events) the gathered sort wins
    # (1.1 s vs 1.7 s — checkpoint+range machinery costs more than a
    # sub-million-row local sort); at sf10 (21M-row fact, 7.8M events)
    # distributed wins 3.1 s vs 6.3 s. 300 MB of fact file sits
    # between the two.
    # (cutover logic generalized into functions.sized_sort in r13 —
    # the measurement above is where its 300 MB constant came from)
    return sized_sort(events, da, "symbol", "event_date")


def availability_intervals(da: DataFrame) -> DataFrame:
    """Contiguous availability runs per symbol — the gaps-and-islands
    pattern: (symbol, start_date, end_date, n_days).

    Each symbol's available dates are islanded by the classic anchor
    trick: ``date − row_number`` days is CONSTANT within a consecutive
    run, so one (symbol ORDER BY date) window plus a group-by on the
    anchor recovers every interval in a single shuffle — the interval
    form of the timeline (the reference surfaces this as first/last
    listing dates and gap events; this materializes the full validity
    intervals an SCD-style dimension needs). Day-integer arithmetic is
    exact on both engines.
    """
    from pyspark.sql import Window

    avail = da.filter(F.col("available")).select("symbol", "date")
    w = Window.partitionBy("symbol").orderBy("date")
    anchored = avail.withColumn(
        "__anchor", F.date_sub(F.col("date"), F.row_number().over(w))
    )
    return anchored.groupBy("symbol", "__anchor").agg(
        F.min("date").alias("start_date"),
        F.max("date").alias("end_date"),
        F.count(F.lit(1)).cast("int").alias("n_days"),
    ).drop("__anchor")


def availability_rollup(da: DataFrame) -> DataFrame:
    """Hierarchical coverage report via GROUP BY ROLLUP(year, month):
    per-month rows, per-year subtotals (month NULL), and the grand total
    (both NULL) in ONE pass — (year, month, n_records, n_available,
    n_symbols).

    Catalyst plans rollup as an Expand (one input row emitted once per
    grouping set) feeding a single partial aggregate — still one shuffle,
    and the expansion factor is the hierarchy depth (3), not data-driven.
    That beats three separate aggregation jobs at any scale; the exact
    COUNT(DISTINCT symbol) adds the usual expand-per-distinct-agg cost,
    acceptable against a #symbols-bounded universe (swap in
    approx_count_distinct past that — see approx_availability_stats).
    """
    from ..index_cache import cached_index, plan_key

    y = F.year("date").alias("year")
    m = F.month("date").alias("month")
    # two-level: reduce the fact to (year, month, symbol) partials first,
    # so the rollup's Expand and the COUNT(DISTINCT) expand both run over
    # a #symbols×#months frame instead of the raw fact stream. The
    # partial is parameter-free — the symbol-month coverage cube a
    # warehouse materializes once per fact — so it is a session-cached
    # index artifact: the fact-wide aggregate is paid once per fact, and
    # a warm rollup is the Expand over the #symbols×#months cube only.
    partial = cached_index(
        plan_key(da, "symbol_month_coverage"),
        lambda: da.groupBy(y, m, F.col("symbol")).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("available").cast("long")).alias("_av"),
        ),
    )
    return partial.rollup("year", "month").agg(
        F.sum("_n").cast("long").alias("n_records"),
        F.sum("_av").alias("n_available"),
        F.countDistinct("symbol").alias("n_symbols"),
    )


def approx_availability_stats(da: DataFrame, rsd: float = 0.05) -> DataFrame:
    """The sketch-based twin of ``availability_stats`` for scales where
    exact distincts and percentiles stop being interactive: HyperLogLog++
    distinct counts (relative standard deviation ``rsd``) and
    approx_percentile volume quantiles (GK sketch).

    Both sketches are single-pass, mergeable partial aggregates — the
    whole query is one map-side-combined reduction to a single row with
    NO expand and NO sort, at any corpus size; that is the entire point
    of sketches at 100 TB. NOT oracle-gated: sketch outputs are
    implementation-defined (documented trade, same family as tfidf's
    ln); the pytest contract asserts the published error bounds against
    the exact twin instead.
    """
    return da.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.approx_count_distinct("date", rsd).alias("approx_dates"),
        F.approx_count_distinct("symbol", rsd).alias("approx_symbols"),
        F.percentile_approx(
            "quote_volume_usdt", [0.5, 0.9, 0.99], 10_000
        ).alias("volume_quantiles"),
    )


def availability_pivot(da: DataFrame) -> DataFrame:
    """PIVOT coverage: month × weekday availability matrix —
    (month, dow_0..dow_6) with available-record counts, Sunday-based
    weekday columns. The wide-format report surface (`GROUP BY month
    PIVOT dow`) BI layers ask of an engine.

    Spark's ``pivot`` with an EXPLICIT value list compiles to the same
    single partial-agg shuffle as a plain groupBy (one aggregate per
    (month) key with 7 conditional columns — no second pass, no
    values-discovery job, which an implicit pivot would pay). Weekday
    normalized to 0=Sunday to match DuckDB's dayofweek convention.
    """
    base = da.select(
        F.date_trunc("month", F.col("date")).cast("date").alias("month"),
        (F.dayofweek("date") - 1).alias("__dow"),
        F.col("available").cast("long").alias("__av"),
    )
    pivoted = (
        base.groupBy("month")
        .pivot("__dow", list(range(7)))
        .sum("__av")
    )
    return pivoted.select(
        "month",
        *[
            F.coalesce(F.col(str(d)), F.lit(0)).alias(f"dow_{d}")
            for d in range(7)
        ],
    )
