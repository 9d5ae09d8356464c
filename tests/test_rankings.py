"""Ranking-pipeline semantics suite — mirrors the reference's conformance
tests (tests/test_volume_rankings/test_rankings_generation.py): tie behavior,
NULL rank-changes, percentile extremes, market-share sum, cohort exclusions,
trailing window, single-symbol edge, duplicate-date append guard."""

from __future__ import annotations

import datetime as dt
import glob

import pytest
from pyspark.sql import functions as F

from binance_futures_availability_spark.operators import rankings
from binance_futures_availability_spark.schema import DAILY_AVAILABILITY

from conftest import _row

D = dt.date


def make_da(spark, rows):
    return spark.createDataFrame([_row(*r) for r in rows], DAILY_AVAILABILITY)


GEN = "2026-01-01 00:00:00"


def test_dense_rank_ties_no_gaps(spark):
    da = make_da(
        spark,
        [
            (D(2024, 1, 1), "A", True, 100.0),
            (D(2024, 1, 1), "B", True, 100.0),
            (D(2024, 1, 1), "C", True, 50.0),
        ],
    )
    rows = rankings.volume_rankings(da, generated_at=GEN).collect()
    by_sym = {r["symbol"]: r["rank"] for r in rows}
    # ties share rank 1; next distinct value gets rank 2 (no gap)
    assert by_sym == {"A": 1, "B": 1, "C": 2}


def test_rank_change_null_insufficient_history(spark):
    da = make_da(
        spark,
        [
            (D(2024, 1, 1), "A", True, 100.0),
            (D(2024, 1, 2), "A", True, 90.0),
        ],
    )
    rows = {
        r["date"]: r for r in rankings.volume_rankings(da, generated_at=GEN).collect()
    }
    assert rows[D(2024, 1, 1)]["rank_change_1d"] is None
    assert rows[D(2024, 1, 2)]["rank_change_1d"] == 0
    assert rows[D(2024, 1, 2)]["rank_change_7d"] is None


def test_percentile_extremes_and_share(spark):
    da = make_da(
        spark,
        [
            (D(2024, 1, 1), "A", True, 300.0),
            (D(2024, 1, 1), "B", True, 200.0),
            (D(2024, 1, 1), "C", True, 100.0),
        ],
    )
    rows = {
        r["symbol"]: r for r in rankings.volume_rankings(da, generated_at=GEN).collect()
    }
    assert rows["A"]["percentile"] == 0.0  # top symbol: percent_rank 0
    assert rows["C"]["percentile"] == 100.0
    share_sum = sum(r["market_share_pct"] for r in rows.values())
    assert share_sum == pytest.approx(100.0, abs=0.01)


def test_cohort_excludes_unavailable_and_null_volume(spark):
    da = make_da(
        spark,
        [
            (D(2024, 1, 1), "A", True, 100.0),
            (D(2024, 1, 1), "B", False, 500.0),  # unavailable
            (D(2024, 1, 1), "C", True, None),  # null volume
        ],
    )
    rows = rankings.volume_rankings(da, generated_at=GEN).collect()
    assert [r["symbol"] for r in rows] == ["A"]


def test_trailing_days_available_counts_rows(spark):
    rows_in = [(D(2024, 1, d), "A", True, float(d)) for d in range(1, 6)]
    da = make_da(spark, rows_in)
    rows = {
        r["date"]: r for r in rankings.volume_rankings(da, generated_at=GEN).collect()
    }
    assert rows[D(2024, 1, 1)]["days_available"] == 1
    assert rows[D(2024, 1, 5)]["days_available"] == 5


def test_lag_is_row_offset_not_calendar(spark):
    # gap between Jan 1 and Jan 10: LAG(1) must pick the previous ROW
    da = make_da(
        spark,
        [
            (D(2024, 1, 1), "A", True, 100.0),
            (D(2024, 1, 10), "A", True, 50.0),
        ],
    )
    rows = {
        r["date"]: r for r in rankings.volume_rankings(da, generated_at=GEN).collect()
    }
    assert rows[D(2024, 1, 10)]["rank_change_1d"] == 0  # rank 1 both rows


def test_single_symbol_edge(spark):
    da = make_da(spark, [(D(2024, 1, 1), "A", True, 100.0)])
    r = rankings.volume_rankings(da, generated_at=GEN).collect()[0]
    assert r["rank"] == 1
    assert r["percentile"] == 0.0  # percent_rank of single row
    assert r["market_share_pct"] == pytest.approx(100.0)
    assert r["days_available"] == 1


def test_incremental_start_date_filter(spark):
    da = make_da(
        spark,
        [
            (D(2024, 1, 1), "A", True, 100.0),
            (D(2024, 1, 2), "A", True, 90.0),
        ],
    )
    rows = rankings.volume_rankings(
        da, start_date=D(2024, 1, 1), generated_at=GEN
    ).collect()
    assert [r["date"] for r in rows] == [D(2024, 1, 2)]


def test_duplicate_date_append_rejected(spark, tmp_path, monkeypatch):
    """The tick's duplicate-date guard (``update._append_rankings``):
    staged rows at or below the archive's watermark raise before
    anything is published — the archive is unchanged and no staging
    directory is left. ``volume_rankings`` is made to ignore its
    ``start_date`` watermark filter so the guard, not the filter, is
    what stands between the duplicate dates and the archive."""
    from binance_futures_availability_spark import update

    da = make_da(
        spark,
        [
            (D(2024, 1, 1), "A", True, 100.0),
            (D(2024, 1, 2), "A", True, 90.0),
        ],
    )
    path = str(tmp_path / "rankings")
    rankings.volume_rankings(
        da.filter(F.col("date") == D(2024, 1, 1)), generated_at=GEN, sort=False
    ).write.parquet(path)

    def archive():
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    before = archive()
    real = rankings.volume_rankings
    monkeypatch.setattr(
        rankings,
        "volume_rankings",
        lambda da, start_date=None, **kw: real(da, **kw),
    )
    with pytest.raises(ValueError, match="duplicate dates"):
        update._append_rankings(da, path, GEN, D(2024, 1, 2))
    monkeypatch.undo()
    assert archive() == before
    assert not glob.glob(path + ".__staging__*")


def test_append_and_validate(spark):
    da1 = make_da(spark, [(D(2024, 1, 1), "A", True, 100.0)])
    da2 = make_da(spark, [(D(2024, 1, 2), "A", True, 90.0)])
    r1 = rankings.volume_rankings(da1, generated_at=GEN)
    r2 = rankings.volume_rankings(da2, generated_at=GEN)
    merged = r1.unionByName(r2)
    assert merged.count() == 2
    report = rankings.validate_rankings(merged)
    assert report["ok"] and report["rows"] == 2


def test_rankings_schema_narrowing(spark):
    da = make_da(spark, [(D(2024, 1, 1), "A", True, 100.0)])
    out = rankings.volume_rankings(da, generated_at=GEN)
    types = dict(out.dtypes)
    assert types["rank"] == "smallint"
    assert types["rank_change_1d"] == "smallint"
    assert types["percentile"] == "float"
    assert types["market_share_pct"] == "float"
    assert types["days_available"] == "tinyint"
    assert types["generation_timestamp"] == "timestamp"


def test_rank_gaps_clean_archive_is_empty(spark):
    da = make_da(
        spark,
        [
            (D(2024, 1, 1), "A", True, 100.0),
            (D(2024, 1, 1), "B", True, 100.0),
            (D(2024, 1, 1), "C", True, 50.0),
            (D(2024, 1, 2), "A", True, 10.0),
        ],
    )
    archive = rankings.volume_rankings(da, generated_at=GEN)
    assert rankings.rank_gaps(archive).count() == 0


def test_rank_gaps_detects_corruption(spark):
    # hand-built archive rows with ranks 1, 2, 4 on one date (gap 2→4)
    corrupted = spark.createDataFrame(
        [
            (D(2024, 1, 1), 1),
            (D(2024, 1, 1), 2),
            (D(2024, 1, 1), 4),
            (D(2024, 1, 2), 1),
        ],
        "date date, rank int",
    )
    got = rankings.rank_gaps(corrupted).collect()
    assert len(got) == 1
    assert (got[0]["date"], got[0]["prev_rank"], got[0]["rank"]) == (
        D(2024, 1, 1),
        2,
        4,
    )
