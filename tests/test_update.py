"""The composed daily-update pipeline (update.py) + its CLI verbs.

Parity targets: reference .github/scripts/run_daily_update.py:33-93 (window
calc → probe → upsert → summary), tests/test_probing/test_20day_lookback.py
:24-45 (lookback math), scripts/operations/validate.py:29-35,56-183
(warnings-only validation trio), generate_volume_rankings.py:259-293
(watermarked incremental append with duplicate-date guard).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import pytest
from pyspark.sql import functions as F

from binance_futures_availability_spark import update as update_mod
from binance_futures_availability_spark.cli.main import main as cli_main
from binance_futures_availability_spark.ingest import discovery, probe
from binance_futures_availability_spark.operators import rankings as rankings_ops
from binance_futures_availability_spark.validation import completeness, continuity


# ---------------------------------------------------------------- helpers

def _hash(sym: str, date: str) -> int:
    return int(hashlib.md5(f"probe:{sym}:{date}".encode()).hexdigest()[:15], 16)


def det_head(url: str, timeout: float) -> tuple[int, dict]:
    """Deterministic fake S3 HEAD: availability and size are pure md5
    functions of (symbol, date) parsed back out of the kline URL — the
    injected-prober pattern the reference's probing tests use."""
    name = url.rsplit("/", 1)[-1]  # SYM-1m-YYYY-MM-DD.zip
    sym, _, rest = name.partition("-1m-")
    date = rest[:-4]
    h = _hash(sym, date)
    if h % 10 < 7:
        return 200, {"Content-Length": str(h % 100000)}
    return 404, {}


SYMS = ["AAAUSDT", "BBBUSDT"]
TODAY = dt.date(2024, 3, 10)


# --------------------------------------------------------- lookback window

def test_lookback_window_math():
    """ADR-0011: end = today − 1 (S3 publishes T+1), start re-covers the
    previous lookback_days − 1 days (reference test_20day_lookback.py)."""
    assert update_mod.lookback_window(TODAY, 1) == (
        dt.date(2024, 3, 9),
        dt.date(2024, 3, 9),
    )
    start, end = update_mod.lookback_window(TODAY, 20)
    assert end == dt.date(2024, 3, 9)
    assert start == dt.date(2024, 2, 19)
    assert (end - start).days + 1 == 20
    with pytest.raises(ValueError):
        update_mod.lookback_window(TODAY, 0)


# ------------------------------------------------------- composed pipeline

def test_run_daily_update_end_to_end(spark, tmp_path):
    fact = str(tmp_path / "fact")
    summary = update_mod.run_daily_update(
        spark, fact, SYMS, lookback_days=3, today=TODAY, head=det_head
    )
    assert summary["window"] == ("2024-03-07", "2024-03-09")
    assert summary["records"] == 6  # 2 symbols x 3 days
    dates = [f"2024-03-0{d}" for d in (7, 8, 9)]
    expect_avail = sum(
        1 for s in SYMS for d in dates if _hash(s, d) % 10 < 7
    )
    assert summary["available"] == expect_avail
    assert summary["unavailable"] == 6 - expect_avail

    rows = {
        (str(r["date"]), r["symbol"]): r
        for r in spark.read.parquet(fact).collect()
    }
    assert len(rows) == 6
    for s in SYMS:
        for d in dates:
            h = _hash(s, d)
            r = rows[(d, s)]
            assert r["available"] is (h % 10 < 7)
            if h % 10 < 7:
                assert r["file_size_bytes"] == h % 100000
                assert r["status_code"] == 200
            else:
                assert r["file_size_bytes"] is None
                assert r["status_code"] == 404

    # warnings-only validation rode along: contiguous window -> no gaps;
    # 2 symbols < default min_symbols=5 -> every date flagged incomplete
    report = summary["validation"]
    assert report["missing_dates"] == []
    assert [d for d, _ in report["incomplete_dates"]] == [
        dt.date.fromisoformat(d) for d in dates
    ]
    assert report["has_warnings"] is True
    timings = summary["timings"]
    assert list(timings) == ["probe", "upsert", "validate", "rankings", "release"]
    assert all(t >= 0 for t in timings.values())


def test_run_daily_update_rerun_is_idempotent(spark, tmp_path):
    fact = str(tmp_path / "fact")
    kw = dict(lookback_days=2, today=TODAY, head=det_head)
    update_mod.run_daily_update(spark, fact, SYMS, **kw)
    first = sorted(
        (str(r["date"]), r["symbol"], r["available"], r["file_size_bytes"])
        for r in spark.read.parquet(fact).collect()
    )
    update_mod.run_daily_update(spark, fact, SYMS, **kw)
    second = sorted(
        (str(r["date"]), r["symbol"], r["available"], r["file_size_bytes"])
        for r in spark.read.parquet(fact).collect()
    )
    assert first == second  # same keys, same values, no duplicates


def test_run_daily_update_latest_probe_wins(spark, tmp_path):
    """A re-probe of the same window replaces rows (INSERT OR REPLACE):
    flipping the transport's answers flips the stored rows."""
    fact = str(tmp_path / "fact")
    update_mod.run_daily_update(
        spark, fact, SYMS, lookback_days=2, today=TODAY, head=det_head
    )
    all_404 = lambda url, timeout: (404, {})  # noqa: E731
    update_mod.run_daily_update(
        spark, fact, SYMS, lookback_days=2, today=TODAY, head=all_404
    )
    got = spark.read.parquet(fact).collect()
    assert len(got) == 4
    assert all(r["available"] is False for r in got)


def test_run_daily_update_probe_failure_raises(spark, tmp_path):
    """Strict error policy (ADR-0003): a non-200/404 status fails the run
    listing the symbol — never recorded as data."""
    boom = lambda url, timeout: (500, {})  # noqa: E731
    with pytest.raises(RuntimeError, match="AAAUSDT"):
        update_mod.run_daily_update(
            spark,
            str(tmp_path / "fact"),
            SYMS,
            today=TODAY,
            head=boom,
        )


def test_run_daily_update_rankings_watermark_append(
    spark, populated_da, tmp_path
):
    """The rankings leg appends ONLY rows past the archive watermark and
    reports False when nothing new ranks (probe rows carry no volume)."""
    fact = str(tmp_path / "fact")
    rank_path = str(tmp_path / "rankings")
    d1 = dt.date(2024, 1, 13)

    # seed: fact table with volumes through D3; archive through D1 only
    populated_da.write.mode("overwrite").partitionBy("date").parquet(fact)
    rankings_ops.volume_rankings(
        populated_da.filter(F.col("date") <= F.lit(d1)),
        generated_at="2024-02-01 00:00:00",
        sort=False,
    ).write.mode("overwrite").parquet(rank_path)

    # probe a window DISJOINT from the seeded dates (Feb 1)
    summary = update_mod.run_daily_update(
        spark,
        fact,
        SYMS,
        today=dt.date(2024, 2, 2),
        head=det_head,
        rankings_path=rank_path,
        generated_at="2024-02-02 00:00:00",
    )
    assert summary["rankings_appended"] is True
    archive = spark.read.parquet(rank_path)
    got_dates = {str(r["date"]) for r in archive.select("date").distinct().collect()}
    assert got_dates == {"2024-01-13", "2024-01-14", "2024-01-15"}
    # duplicate-date guard: no (date, symbol) appears twice
    assert (
        archive.groupBy("date", "symbol").count().filter("count > 1").count()
        == 0
    )

    # second tick: watermark is now D3; the new probe rows have NULL
    # volume -> nothing ranks -> append skipped, archive unchanged
    n_before = archive.count()
    summary2 = update_mod.run_daily_update(
        spark,
        fact,
        SYMS,
        today=dt.date(2024, 2, 3),
        head=det_head,
        rankings_path=rank_path,
        generated_at="2024-02-03 00:00:00",
    )
    assert summary2["rankings_appended"] is False
    assert spark.read.parquet(rank_path).count() == n_before


# ---------------------------------------------------------- validate_report

def test_validate_report_detects_gaps_and_incomplete(spark, populated_da):
    # drop the middle date entirely -> continuity gap at 2024-01-14
    gappy = populated_da.filter(F.col("date") != F.lit(dt.date(2024, 1, 14)))
    report = update_mod.validate_report(
        gappy, end_date="2024-01-15", min_symbols=3
    )
    assert report["missing_dates"] == [dt.date(2024, 1, 14)]
    assert (dt.date(2024, 1, 13), 3) not in report["incomplete_dates"]
    assert report["has_warnings"] is True


def test_validate_report_cross_check_and_clean(spark, populated_da):
    api = spark.createDataFrame(
        [("BTCUSDT",), ("ETHUSDT",), ("NEWUSDT",)], "symbol string"
    )
    report = update_mod.validate_report(
        populated_da, end_date="2024-01-15", min_symbols=1, api_symbols=api
    )
    assert report["missing_dates"] == []
    assert report["incomplete_dates"] == []
    cc = report["cross_check"]
    assert cc["only_in_db"] == 0 and cc["only_in_api"] == 0
    assert cc["matched"] == 3 and cc["match_pct"] == 100.0
    assert report["has_warnings"] is False


def test_validate_report_empty_table(spark):
    from binance_futures_availability_spark.schema import DAILY_AVAILABILITY

    empty = spark.createDataFrame([], DAILY_AVAILABILITY)
    report = update_mod.validate_report(empty)
    assert report["empty"] is True and report["has_warnings"] is True


def _trio_report(da, end_date, min_symbols):
    """(missing, incomplete) from the catalog's own validation operators
    — the three-action form validate_report replaces."""
    lo, hi = da.agg(F.min("date"), F.max("date")).first()
    if lo is None:
        return [], []
    if end_date is None:
        end = hi - dt.timedelta(days=3)
    else:
        end = dt.date.fromisoformat(end_date)
    missing = []
    if end >= lo:
        missing = [
            r["expected_date"]
            for r in continuity.find_gaps(da, lo, end)
            .orderBy("expected_date")
            .collect()
        ]
    incomplete = [
        (r["date"], r["symbol_count"])
        for r in completeness.incomplete_dates(da, min_symbols, lo, hi)
        .orderBy("date")
        .collect()
    ]
    return missing, incomplete


@pytest.mark.parametrize(
    "case, end_date, min_symbols",
    [
        ("populated", None, 5),
        ("populated", "2024-01-15", 2),
        ("gappy", "2024-01-20", 3),
        ("before_first", "2024-01-01", 3),
        ("all_unavailable_date", "2024-01-18", 2),
        ("empty", None, 5),
    ],
)
def test_validate_report_one_pass_matches_trio(
    spark, populated_da, case, end_date, min_symbols
):
    """The one-aggregation report equals find_gaps + incomplete_dates: on
    the fixture, with a gap, with ``end_date`` before the first date, with
    a date whose rows are all unavailable, and on an empty table."""
    from conftest import _row

    from binance_futures_availability_spark.schema import DAILY_AVAILABILITY

    da = {
        "populated": populated_da,
        "gappy": populated_da.filter(
            F.col("date") != F.lit(dt.date(2024, 1, 14))
        ),
        "before_first": populated_da,
        "all_unavailable_date": populated_da.unionByName(
            spark.createDataFrame(
                [
                    _row(dt.date(2024, 1, 17), s, False, None)
                    for s in ("BTCUSDT", "ETHUSDT")
                ],
                DAILY_AVAILABILITY,
            )
        ),
        "empty": spark.createDataFrame([], DAILY_AVAILABILITY),
    }[case]
    report = update_mod.validate_report(
        da, end_date=end_date, min_symbols=min_symbols
    )
    missing, incomplete = _trio_report(da, end_date, min_symbols)
    assert report["missing_dates"] == missing
    assert report["incomplete_dates"] == incomplete
    assert report["empty"] is (case == "empty")
    if case == "all_unavailable_date":
        assert missing == [dt.date(2024, 1, 16), dt.date(2024, 1, 18)]
        assert dt.date(2024, 1, 17) not in [d for d, _ in incomplete]


def test_daily_update_tick_job_shape_on_many_partitions(
    spark, tmp_path, monkeypatch
):
    """A tick on a table with more than 32 date partitions (where Spark
    lists partitions in a job, one task per directory by default): no job
    runs a stage wider than the session's cores, the table is listed once,
    and the upsert reads only the touched partition directories."""
    from conftest import _row
    from pyspark.sql.readwriter import DataFrameReader

    from binance_futures_availability_spark.schema import DAILY_AVAILABILITY
    from binance_futures_availability_spark.sources import writer

    fact = str(tmp_path / "fact")
    first = dt.date(2024, 1, 1)  # 40 dates: 2024-01-01 .. 2024-02-09
    writer.write_partitioned(
        spark.createDataFrame(
            [
                _row(first + dt.timedelta(days=i), s, True, 10.0 + i)
                for i in range(40)
                for s in SYMS
            ],
            DAILY_AVAILABILITY,
        ),
        fact,
    )
    reads = []
    real_parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.extend(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    sc = spark.sparkContext
    group = f"tick-shape-{tmp_path.name}"
    sc.setJobGroup(group, "daily update tick")
    try:
        # window 2024-02-08 .. 2024-02-10: two existing dates, one new
        summary = update_mod.run_daily_update(
            spark,
            fact,
            SYMS,
            lookback_days=3,
            today=dt.date(2024, 2, 11),
            head=det_head,
            rankings_path=str(tmp_path / "rankings"),
            release_path=str(tmp_path / "release" / "a.duckdb.gz"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tick_reads = list(reads)
    assert summary["records"] == 6
    assert spark.read.parquet(fact).count() == 41 * len(SYMS)

    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    assert job_ids
    widths = {
        (j, s): tracker.getStageInfo(s).numTasks
        for j in job_ids
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    }
    assert max(widths.values()) <= sc.defaultParallelism, widths

    root = fact.rstrip("/")
    table_reads = [
        p for p in tick_reads if p.startswith(root + "/") or p == root
    ]
    assert table_reads.count(root) == 1  # the post-upsert read
    assert sorted(p for p in table_reads if p != root) == [
        f"{root}/date=2024-02-08",
        f"{root}/date=2024-02-09",
    ]


# ------------------------------------------------------------- CLI verbs

def test_cli_update_verb(spark, tmp_path, capsys, monkeypatch):
    """`bfa-spark update` drives the composed pipeline end-to-end through
    main(); the transport is injected at the module seam the way the
    reference mocks its prober."""
    monkeypatch.setattr(probe, "_default_head", det_head)
    fact = str(tmp_path / "fact")
    rc = cli_main(
        [
            "update",
            "--table", fact,
            "--symbols", ",".join(SYMS),
            "--lookback-days", "2",
            "--today", "2024-03-10",
            "--json",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out)
    assert summary["records"] == 4
    assert spark.read.parquet(fact).count() == 4
    # symbols default to the table's universe on a second tick
    rc = cli_main(
        ["update", "--table", fact, "--today", "2024-03-11", "--json"]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["records"] == 2


def test_cli_update_requires_table_and_symbols(tmp_path, monkeypatch):
    monkeypatch.delenv("BFA_TABLE_PATH", raising=False)
    with pytest.raises(SystemExit, match="--table"):
        cli_main(["update", "--symbols", "A"])
    with pytest.raises(SystemExit, match="symbol universe"):
        cli_main(["update", "--table", str(tmp_path / "nope")])


def test_cli_validate_verb_always_exit_zero(
    spark, populated_da, tmp_path, capsys
):
    """Warnings never fail the run (reference validate.py:183)."""
    fact = str(tmp_path / "vfact")
    # drop a date so the report has findings
    populated_da.filter(
        F.col("date") != F.lit(dt.date(2024, 1, 14))
    ).write.mode("overwrite").parquet(fact)
    rc = cli_main(
        [
            "validate",
            "--table", fact,
            "--end-date", "2024-01-15",
            "--min-symbols", "3",
            "--json",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out)
    assert report["missing_dates"] == ["2024-01-14"]
    assert report["has_warnings"] is True


FAKE_LISTING = b"""<?xml version="1.0" encoding="UTF-8"?>
<ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/">
  <IsTruncated>false</IsTruncated>
  <CommonPrefixes><Prefix>data/futures/um/daily/klines/BTCUSDT/</Prefix></CommonPrefixes>
  <CommonPrefixes><Prefix>data/futures/um/daily/klines/ETHUSDT/</Prefix></CommonPrefixes>
  <CommonPrefixes><Prefix>data/futures/um/daily/klines/BTCUSDT_240329/</Prefix></CommonPrefixes>
</ListBucketResult>"""


def test_cli_discover_writes_symbols_file(tmp_path, capsys, monkeypatch):
    """`bfa-spark discover --out` persists the symbols.json artifact that
    `update --symbols-file` reads back (the reference's discover workflow
    refreshing data/symbols.json)."""
    from binance_futures_availability_spark.ingest import rest

    monkeypatch.setattr(discovery, "_default_fetch", lambda url: FAKE_LISTING)
    out = str(tmp_path / "symbols.json")
    rc = cli_main(["discover", "--out", out])
    assert rc == 0
    assert "2 perpetual, 1 delivery" in capsys.readouterr().out
    assert rest.load_symbols(out, "perpetual") == ["BTCUSDT", "ETHUSDT"]
    assert rest.load_symbols(out, "delivery") == ["BTCUSDT_240329"]
    payload = json.loads(open(out).read())
    assert payload["metadata"]["perpetual_count"] == 2


def test_run_daily_update_refreshes_release_artifact(spark, tmp_path):
    """Step 6 of the cron tick: the updated table ships as the gzip
    release artifact (reference update-database.yml's publish step), and
    the shipped stats block equals the live table's."""
    from binance_futures_availability_spark.sources import release

    fact = str(tmp_path / "fact")
    rel = str(tmp_path / "availability.duckdb.gz")
    summary = update_mod.run_daily_update(
        spark,
        fact,
        SYMS,
        lookback_days=2,
        today=TODAY,
        head=det_head,
        release_path=rel,
    )
    assert summary["release_stats"]["total_records"] == 4
    ok, diffs = release.verify_release(spark.read.parquet(fact), rel)
    assert ok, diffs


def test_cli_update_with_release_flag(spark, tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(probe, "_default_head", det_head)
    fact = str(tmp_path / "fact")
    rel = str(tmp_path / "rel.duckdb.gz")
    rc = cli_main(
        [
            "update",
            "--table", fact,
            "--symbols", ",".join(SYMS),
            "--today", "2024-03-10",
            "--release", rel,
            "--json",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out)
    assert summary["release_stats"]["total_records"] == 2
    import os

    assert os.path.exists(rel) and os.path.exists(rel + ".sha256")
