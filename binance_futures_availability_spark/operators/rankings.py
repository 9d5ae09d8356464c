"""Volume-rankings pipeline — the reference's richest operator cluster.

Parity: reference .github/scripts/generate_volume_rankings.py:79-153
(W4-W8 + J1/J2 + F5-F7 in SURVEY.md §2.5): DENSE_RANK per date,
PERCENT_RANK*100, market share with NULLIF guard, 30-row trailing
availability count, LAG at row offsets 1/7/14/30, narrowing casts to the
13-column archive schema.

Semantics caveats preserved exactly (SURVEY.md §2.5):
- LAG is by ROW offset, not calendar days — "7 days ago" in the spec is
  really "7 cohort rows ago" (generate_volume_rankings.py:124-133).
- DENSE_RANK: ties share a rank, no gaps.
- rank_change_* is NULL while history is shorter than the offset.
- days_available_30d counts cohort rows in a 29-PRECEDING..CURRENT frame.

Scale notes: both window families shuffle once — by ``date`` (rank,
percentile, share) and by ``symbol`` (trailing count, lags). The reference
joins three CTEs over the same cohort (J1 inner + J2 left); because all
three are keyed (date, symbol) and derived from one scan, we compute the
date-windows and symbol-windows over a single cached cohort projection, so
the physical plan is scan → window(date) → window(symbol) with NO join at
all — the joins in the reference SQL are an artifact of SQL CTE syntax, and
Catalyst cannot always eliminate them, so we don't introduce them.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def volume_rankings(
    da: DataFrame,
    start_date: dt.date | str | None = None,
    generated_at: dt.datetime | str | None = None,
    sort: bool = True,
) -> DataFrame:
    """Compute the 13-column rankings archive rows.

    ``start_date`` reproduces the incremental-append filter
    (``AND date > start_date``, generate_volume_rankings.py:93) — the
    watermark pattern for the daily pipeline.

    ``generated_at`` pins the generation timestamp (reference uses
    CURRENT_TIMESTAMP, :148); tests/oracles pass a literal for determinism.

    Market share uses the exact DECIMAL(18,2) per-date total (order-stable)
    instead of a DOUBLE window sum; see operators/volume.py for why.

    ``sort=True`` (the reference's ORDER BY date, rank, symbol) is a
    DISTRIBUTED range sort: the archive is #dates × #symbols rows, which
    saturates toward fact cardinality on dense markets (21.4M rows at the
    sf10 fixture), so a gathered single-partition sort — correct for
    presentation-bounded results — goes super-linear exactly when the
    archive grows (measured at sf10: windows alone 5.6 s, gathered sort
    37.7 s, range sort 8.7 s INCLUDING its sampling re-execution of the
    window pipeline; sf1→sf10 α fell 1.36 → ~1.0). Consumers that
    re-shuffle anyway (rank_gaps, partitioned writes) pass
    ``sort=False`` — Catalyst eliminates a range sort below an exchange.
    """
    cohort = da.filter(F.col("available") & F.col("quote_volume_usdt").isNotNull())
    if start_date is not None:
        cohort = cohort.filter(F.col("date") > F.lit(start_date))
    cohort = cohort.select("date", "symbol", "quote_volume_usdt", "trade_count")

    w_date = Window.partitionBy("date").orderBy(F.col("quote_volume_usdt").desc())
    w_date_all = Window.partitionBy("date")
    w_sym = Window.partitionBy("symbol").orderBy("date")
    w_trail = Window.partitionBy("symbol").orderBy("date").rowsBetween(-29, 0)

    total_dec = F.sum(F.col("quote_volume_usdt").cast("decimal(18,2)")).over(w_date_all)
    share = F.when(
        total_dec.cast("double") != 0.0,
        F.col("quote_volume_usdt") / total_dec.cast("double") * 100.0,
    )

    ranked = cohort.select(
        "date",
        "symbol",
        "quote_volume_usdt",
        "trade_count",
        F.dense_rank().over(w_date).alias("rank_i"),
        (F.percent_rank().over(w_date) * 100.0).alias("percentile_d"),
        share.alias("share_d"),
    )

    lagged = ranked.select(
        "date",
        "symbol",
        "quote_volume_usdt",
        "trade_count",
        "rank_i",
        "percentile_d",
        "share_d",
        F.lag("rank_i", 1).over(w_sym).alias("rank_1d_ago"),
        F.lag("rank_i", 7).over(w_sym).alias("rank_7d_ago"),
        F.lag("rank_i", 14).over(w_sym).alias("rank_14d_ago"),
        F.lag("rank_i", 30).over(w_sym).alias("rank_30d_ago"),
        F.count(F.lit(1)).over(w_trail).alias("days_avail_30d"),
    )

    gen_ts = (
        F.current_timestamp()
        if generated_at is None
        else F.lit(generated_at).cast("timestamp")
    )
    out = lagged.select(
        "date",
        "symbol",
        F.col("rank_i").cast("smallint").alias("rank"),
        "quote_volume_usdt",
        "trade_count",
        (F.col("rank_i") - F.col("rank_1d_ago")).cast("smallint").alias("rank_change_1d"),
        (F.col("rank_i") - F.col("rank_7d_ago")).cast("smallint").alias("rank_change_7d"),
        (F.col("rank_i") - F.col("rank_14d_ago"))
        .cast("smallint")
        .alias("rank_change_14d"),
        (F.col("rank_i") - F.col("rank_30d_ago"))
        .cast("smallint")
        .alias("rank_change_30d"),
        F.col("percentile_d").cast("float").alias("percentile"),
        F.col("share_d").cast("float").alias("market_share_pct"),
        F.col("days_avail_30d").cast("tinyint").alias("days_available"),
        gen_ts.alias("generation_timestamp"),
    )
    if not sort:
        return out
    # Bare range sort ON PURPOSE — two r13 alternatives were built,
    # measured at sf1 (interleaved isolated A/B, two rounds each), and
    # REVERTED (guide §1: a change the bench rejects does not ship):
    # (1) sized_sort's gathered branch (1 job/4 stages at sf0.1, the
    #     sampling job gone) — but the source-bytes cutover mis-fires
    #     for THIS output: the archive saturates toward fact cardinality
    #     (#dates × #symbols) while the fact sits under the 300 MB
    #     cutover, and the single-partition sort measured vr ≈ 1.95 s at
    #     sf1 vs 1.53 s bare (gathered_sort's docstring already banned
    #     the archive);
    # (2) lazy localCheckpoint under the range sort (stops the sampler
    #     re-executing the two-window pipeline) — vr ≈ 1.64 s at sf1:
    #     materializing the 13-column archive costs more than the
    #     8-partition window re-run it saves.
    # The sampling re-execution is therefore the measured cheapest way
    # to draw partition bounds for this pipeline at every tested SF.
    return out.orderBy("date", "rank", "symbol")


def rank_gaps(rankings_df: DataFrame) -> DataFrame:
    """W9 — per-date rank-continuity validation.

    Reference: docs/guides/using-volume-rankings.md:508-518 — a gap is a
    consecutive pair of rank values (ordered within a date) differing by
    more than 1. Valid DENSE_RANK output has no gaps, so on a healthy
    archive this returns 0 rows; corruption (lost rows, ties mis-ranked)
    surfaces here. ONE shuffle total: the explicit ``repartition("date")``
    satisfies both the dedup aggregation (hash(date) clusters equal
    (date, rank) rows) and the window's required distribution, so the
    dedup and the lag run exchange-free on top of it — a bare
    ``distinct()`` would exchange on (date, rank) and the window would
    re-exchange on date. Gaps are empty-by-construction on a healthy
    archive → gathered presentation sort (a range orderBy would pay a
    sampling pass re-executing the distinct + window).
    """
    from ..functions import gathered_sort

    w = Window.partitionBy("date").orderBy("rank")
    return gathered_sort(
        rankings_df.select("date", "rank")
        .repartition("date")
        .dropDuplicates()  # ties legitimately repeat a rank; gaps are between distinct values
        .select(
            "date", "rank", F.lag("rank").over(w).alias("prev_rank")
        )
        .filter(
            F.col("prev_rank").isNotNull()
            & ((F.col("rank") - F.col("prev_rank")) > 1)
        )
        .select("date", "prev_rank", "rank"),
        "date",
        "rank",
    )


def validate_rankings(df: DataFrame) -> dict:
    """Output validators — assertions, not rewrites (SURVEY.md §4).

    Reference: generate_volume_rankings.py:196-227 (rank positive/non-null,
    percentile within [0,100], share within [0,100]).
    """
    checks = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("rank").isNull() | (F.col("rank") <= 0), 1).otherwise(0)).alias(
            "bad_rank"
        ),
        F.sum(
            F.when((F.col("percentile") < 0) | (F.col("percentile") > 100), 1).otherwise(0)
        ).alias("bad_percentile"),
        F.sum(
            F.when(
                (F.col("market_share_pct") < 0) | (F.col("market_share_pct") > 100.0001),
                1,
            ).otherwise(0)
        ).alias("bad_share"),
    ).collect()[0]
    result = checks.asDict()
    result["ok"] = (
        result["bad_rank"] == 0
        and result["bad_percentile"] == 0
        and result["bad_share"] == 0
    )
    return result
