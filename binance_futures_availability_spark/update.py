"""The composed daily-update pipeline — the engine's cron entry point.

Parity target: reference ``.github/scripts/run_daily_update.py:33-93``
(lookback window calc → batch probe → UPSERT → summary) plus the two
steps its workflow runs right after: the validation trio
(``scripts/operations/validate.py:56-183``, warnings-only) and the
rankings incremental append
(``.github/scripts/generate_volume_rankings.py:259-293``).

Semantics carried over exactly:
- ADR-0011 rolling lookback: end = today − 1 (S3 Vision T+1), start =
  end − (lookback_days − 1); re-probing the same dates is idempotent
  because the UPSERT dedups on (date, symbol) with the latest
  ``probe_timestamp`` winning.
- Warnings never fail the run (reference validate.py:29-35 "trust human
  judgment"): the report is returned/logged, exit stays 0.

Scale shape: probing is driver-threaded for one day (the reference's
150-worker optimum) or executor-distributed for backfills
(``probe_matrix_distributed``); the probe rows reach Spark as one local
Arrow table, never through Python workers. A tick lists the fact table
ONCE — the post-upsert read that validation, rankings and release share.
The upsert itself reads and rewrites only the touched date partitions,
found by one directory check per touched date (work ∝ lookback_days,
not table size); validation is one per-date aggregation; the rankings
append computes rows only past the archive watermark.
"""

from __future__ import annotations

import datetime as dt
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest.probe import BatchProber, results_to_df
from .operators import rankings as rankings_ops
from .schema import (
    DAILY_AVAILABILITY_KEY,
    DAILY_AVAILABILITY_VERSION,
)
from .sources import writer
from .validation import cross_check


def lookback_window(
    today: dt.date, lookback_days: int = 1
) -> tuple[dt.date, dt.date]:
    """ADR-0011 window: probe [today−lookback_days, today−1] — yesterday
    anchored (S3 Vision publishes T+1), re-covering the previous
    ``lookback_days − 1`` days every run (run_daily_update.py:44-48)."""
    if lookback_days < 1:
        raise ValueError(f"lookback_days must be >= 1, got {lookback_days}")
    end = today - dt.timedelta(days=1)
    start = end - dt.timedelta(days=lookback_days - 1)
    return start, end


def validate_report(
    da: DataFrame,
    end_date: dt.date | str | None = None,
    min_symbols: int = 5,
    api_symbols: DataFrame | None = None,
) -> dict:
    """The three-layer validation trio as ONE warnings-only report
    (reference scripts/operations/validate.py:56-183).

    1. Continuity — missing dates between the table's first date and
       ``end_date`` (default: max(date) − 3 days, the reference's S3
       publishing-delay allowance, validate.py:68-70).
    2. Completeness — dates whose symbol count falls below
       ``min_symbols`` (HAVING filter, A7).
    3. Cross-check — set compare vs the exchange's live symbol list,
       SKIPPED when ``api_symbols`` is None (the reference skips on
       geo-blocking; here: offline runs).

    Never raises on findings; the caller logs and exits 0
    (validate.py:183's always-0 policy).

    Continuity and completeness come from ONE aggregation — the count of
    available rows per date, collected (bounded by the calendar, not the
    table). A calendar date in [first date, ``end``] with no row is a gap,
    as ``continuity.find_gaps`` reports it; a date with
    0 < available < ``min_symbols`` is incomplete, as
    ``completeness.incomplete_dates`` reports it (a date whose rows are all
    unavailable has no available cohort, so it is neither).
    """
    available = {
        r["date"]: r["n"]
        for r in da.groupBy("date")
        .agg(F.count(F.when(F.col("available"), 1)).alias("n"))
        .collect()
    }
    if not available:
        return {
            "empty": True,
            "missing_dates": [],
            "incomplete_dates": [],
            "cross_check": None,
            "has_warnings": True,
        }
    lo, hi = min(available), max(available)
    if end_date is None:
        end = hi - dt.timedelta(days=3)
    else:
        end = (
            dt.date.fromisoformat(end_date)
            if isinstance(end_date, str)
            else end_date
        )
    report: dict = {"empty": False}
    calendar = (lo + dt.timedelta(days=i) for i in range((end - lo).days + 1))
    report["missing_dates"] = [d for d in calendar if d not in available]
    report["incomplete_dates"] = [
        (d, n) for d, n in sorted(available.items()) if 0 < n < min_symbols
    ]
    if api_symbols is not None:
        db_symbols = da.filter("available").select("symbol").distinct()
        report["cross_check"] = cross_check.compare_symbol_sets(
            db_symbols, api_symbols
        )
    else:
        report["cross_check"] = None  # offline: reference's 451-skip path
    report["has_warnings"] = bool(
        report["missing_dates"]
        or report["incomplete_dates"]
        or (
            report["cross_check"] is not None
            and (
                report["cross_check"].get("only_in_db")
                or report["cross_check"].get("only_in_api")
            )
        )
    )
    return report


def run_daily_update(
    spark: SparkSession,
    fact_path: str,
    symbols: list[str],
    lookback_days: int = 1,
    today: dt.date | None = None,
    head: Callable | None = None,
    rankings_path: str | None = None,
    generated_at: dt.datetime | str | None = None,
    max_workers: int = 150,
    validate: bool = True,
    release_path: str | None = None,
) -> dict:
    """One cron tick, end to end (run_daily_update.py:33-93):

    1. window calc (ADR-0011 lookback),
    2. probe every symbol × day in the window (``head`` injectable for
       tests, exactly like the reference's mocked prober),
    3. UPSERT into the partitioned fact table — touched partitions only;
       a re-run of the same window is a no-op on the table's content,
    4. warnings-only validation report,
    5. optional rankings append for dates past the archive watermark
       (duplicate-date guard raises — the reference's concat rejection),
    6. optional release artifact refresh (``release_path``): the updated
       table exported → gzip + sha256, the workflow's publish step
       (update-database.yml:403-410); the shipped stats block rides the
       summary so the caller can log/compare it.

    Returns a summary dict mirroring the reference's closing log line
    (records / available / unavailable / window) plus the report, and
    ``timings``: wall seconds of each step (probe, upsert — including the
    read of the committed table —, validate, rankings, release; a skipped
    step reads ~0).
    """
    timings: dict[str, float] = {}
    mark = time.perf_counter()

    def lap(step: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        timings[step] = round(now - mark, 3)
        mark = now

    today = today or dt.date.today()
    start, end = lookback_window(today, lookback_days)
    prober = BatchProber(max_workers=max_workers, head=head)
    records = prober.probe_date_range(start, end, symbols)
    incoming = results_to_df(spark, records)
    lap("probe")

    if writer.table_exists(spark, fact_path):
        writer.upsert_partitioned(
            fact_path,
            incoming,
            DAILY_AVAILABILITY_KEY,
            DAILY_AVAILABILITY_VERSION,
        )
    else:
        writer.write_partitioned(incoming, fact_path)
    da = spark.read.parquet(fact_path)
    lap("upsert")

    summary: dict = {
        "window": (start.isoformat(), end.isoformat()),
        "records": len(records),
        "available": sum(1 for r in records if r["available"]),
        "unavailable": sum(1 for r in records if not r["available"]),
    }
    if validate:
        summary["validation"] = validate_report(da, end_date=end)
    lap("validate")

    if rankings_path is not None:
        if writer.table_exists(spark, rankings_path):
            archive = spark.read.parquet(rankings_path)
            watermark = archive.agg(F.max("date").alias("hi")).collect()[0][
                "hi"
            ]
            new_rows = rankings_ops.volume_rankings(
                da,
                start_date=watermark,
                generated_at=generated_at,
                sort=False,
            )
            if new_rows.take(1):
                # duplicate-date guard (generate_volume_rankings.py:259-293)
                # — raises before any write; then append ONLY the new rows'
                # files (work ∝ new dates, the archive is never rewritten)
                rankings_ops.incremental_append(archive, new_rows)
                new_rows.write.mode("append").parquet(rankings_path)
                summary["rankings_appended"] = True
            else:
                summary["rankings_appended"] = False
        else:
            rankings_ops.volume_rankings(
                da, generated_at=generated_at, sort=False
            ).write.mode("overwrite").parquet(rankings_path)
            summary["rankings_appended"] = True
    lap("rankings")

    if release_path is not None:
        from .sources import release as release_mod

        summary["release_stats"] = release_mod.release_database(
            da, release_path
        )
    lap("release")
    summary["timings"] = timings
    return summary
