"""Upsert / matview / differ semantics — reference parity:
tests/test_database/test_availability_db.py:33-51 (upsert keeps one row with
the new value), availability_db.py:219-244 (matview refresh),
scripts/verify-database-consistency.py:266-339 (row diff)."""

from __future__ import annotations

import datetime as dt

from binance_futures_availability_spark.schema import DAILY_AVAILABILITY
from binance_futures_availability_spark.sources import writer
from binance_futures_availability_spark.validation import cross_check, differ

from conftest import _row

D = dt.date


def make_da(spark, rows):
    return spark.createDataFrame([_row(*r) for r in rows], DAILY_AVAILABILITY)


def test_upsert_replaces_on_key_collision(spark):
    existing = make_da(spark, [(D(2024, 1, 1), "BTCUSDT", True, 100.0)])
    incoming = make_da(spark, [(D(2024, 1, 1), "BTCUSDT", True, 999.0)])
    out = writer.upsert(existing, incoming, ["date", "symbol"], "probe_timestamp")
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["quote_volume_usdt"] == 999.0


def test_upsert_keeps_disjoint_keys(spark):
    existing = make_da(spark, [(D(2024, 1, 1), "BTCUSDT", True, 100.0)])
    incoming = make_da(spark, [(D(2024, 1, 2), "BTCUSDT", True, 200.0)])
    out = writer.upsert(existing, incoming, ["date", "symbol"], "probe_timestamp")
    assert out.count() == 2


def test_upsert_accepts_narrower_incoming_frame(spark):
    """An 8-column probe batch upserts into the 17-column table: replaced
    rows NULL the unsupplied columns (INSERT OR REPLACE with a column
    list), disjoint keys pass through."""
    from pyspark.sql import functions as F

    from binance_futures_availability_spark.schema import PROBE_RESULT

    existing = make_da(spark, [(D(2024, 1, 1), "BTCUSDT", True, 100.0)])
    probe_cols = [f.name for f in PROBE_RESULT.fields]
    incoming = existing.select(probe_cols).withColumn(
        "probe_timestamp", F.col("probe_timestamp") + F.expr("INTERVAL 1 DAY")
    )
    out = writer.upsert(existing, incoming, ["date", "symbol"], "probe_timestamp")
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["quote_volume_usdt"] is None  # replaced, not carried over


def test_dedup_latest(spark):
    import datetime

    r1 = list(_row(D(2024, 1, 1), "BTCUSDT", True, 1.0))
    r2 = list(_row(D(2024, 1, 1), "BTCUSDT", True, 2.0))
    r2[7] = datetime.datetime(2024, 1, 17)  # later probe_timestamp wins
    df = spark.createDataFrame([tuple(r1), tuple(r2)], DAILY_AVAILABILITY)
    out = writer.dedup_latest(df, ["date", "symbol"], "probe_timestamp").collect()
    assert len(out) == 1
    assert out[0]["quote_volume_usdt"] == 2.0


def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "fact")
    initial = make_da(
        spark,
        [
            (D(2024, 1, 1), "BTCUSDT", True, 100.0),
            (D(2024, 1, 1), "ETHUSDT", True, 50.0),
            (D(2024, 1, 2), "BTCUSDT", True, 200.0),
        ],
    )
    writer.write_partitioned(initial, path)
    import os

    d1_dir = os.path.join(path, "date=2024-01-01")
    d1_mtime_before = max(
        os.path.getmtime(os.path.join(d1_dir, f)) for f in os.listdir(d1_dir)
    )

    # incremental upsert touching only 2024-01-02 (replace) and -03 (new)
    incoming = make_da(
        spark,
        [
            (D(2024, 1, 2), "BTCUSDT", True, 999.0),
            (D(2024, 1, 3), "BTCUSDT", True, 300.0),
        ],
    )
    writer.upsert_partitioned(
        path, incoming, ["date", "symbol"], "probe_timestamp"
    )

    got = {
        (r["date"], r["symbol"]): r["quote_volume_usdt"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (D(2024, 1, 1), "BTCUSDT"): 100.0,
        (D(2024, 1, 1), "ETHUSDT"): 50.0,
        (D(2024, 1, 2), "BTCUSDT"): 999.0,  # replaced
        (D(2024, 1, 3), "BTCUSDT"): 300.0,  # appended
    }
    # untouched partition's files were not rewritten
    d1_mtime_after = max(
        os.path.getmtime(os.path.join(d1_dir, f)) for f in os.listdir(d1_dir)
    )
    assert d1_mtime_after == d1_mtime_before
    # staging directory cleaned up
    assert not os.path.exists(path + ".__staging__")


def test_upsert_partitioned_insert_only_keeps_table_schema(spark, tmp_path):
    """A narrow probe batch (8 columns) landing only on NEW dates commits
    full-width files: the insert-only branch NULL-fills to the table's
    17 columns instead of writing 8-column files into the table."""
    import glob

    import pyarrow.parquet as pq

    from binance_futures_availability_spark.schema import PROBE_RESULT

    path = str(tmp_path / "fact")
    writer.write_partitioned(
        make_da(
            spark,
            [
                (D(2024, 1, 1), "BTCUSDT", True, 100.0),
                (D(2024, 1, 2), "BTCUSDT", True, 200.0),
            ],
        ),
        path,
    )
    probe_cols = [f.name for f in PROBE_RESULT.fields]
    incoming = make_da(
        spark,
        [
            (D(2024, 1, 3), "BTCUSDT", True, None),
            (D(2024, 1, 4), "ETHUSDT", False, None),
        ],
    ).select(probe_cols)
    writer.upsert_partitioned(
        path, incoming, ["date", "symbol"], "probe_timestamp"
    )

    # every committed file, ``date`` counted from its directory
    want = sorted(DAILY_AVAILABILITY.fieldNames())
    cols = {
        f: sorted(pq.read_schema(f).names + ["date"])
        for f in glob.glob(path + "/date=*/*.parquet")
    }
    assert any("date=2024-01-04" in f for f in cols)
    assert all(c == want for c in cols.values()), cols
    got = {
        (r["date"], r["symbol"]): r["quote_volume_usdt"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (D(2024, 1, 1), "BTCUSDT"): 100.0,
        (D(2024, 1, 2), "BTCUSDT"): 200.0,
        (D(2024, 1, 3), "BTCUSDT"): None,
        (D(2024, 1, 4), "ETHUSDT"): None,
    }


def test_writers_leave_session_overwrite_mode_static(spark, tmp_path):
    """The partition-overwrite mode rides on each write as an option: no
    writer changes the session's conf, whose value stays static."""
    from pyspark.sql import functions as F

    key = "spark.sql.sources.partitionOverwriteMode"
    assert spark.conf.get(key).lower() == "static"
    path = str(tmp_path / "fact")
    writer.write_partitioned(
        make_da(
            spark,
            [
                (D(2024, 1, 1), "BTCUSDT", True, 100.0),
                (D(2024, 1, 2), "ETHUSDT", True, 50.0),
            ],
        ),
        path,
    )
    # upsert: slow path (2024-01-02 exists) + insert-only path (new date)
    for day in (D(2024, 1, 2), D(2024, 1, 3)):
        writer.upsert_partitioned(
            path,
            make_da(spark, [(day, "BTCUSDT", True, 1.0)]),
            ["date", "symbol"],
            "probe_timestamp",
        )
        assert spark.conf.get(key).lower() == "static"
    src = make_da(spark, [(D(2024, 1, 1), "XRPUSDT", True, 2.0)])
    writer.merge_into(path, src, ["date", "symbol"])  # dynamic commit
    assert spark.conf.get(key).lower() == "static"
    writer.merge_into(path, src, ["symbol"])  # static, whole-table commit
    assert spark.conf.get(key).lower() == "static"
    assert spark.read.parquet(path).count() == 5
    frag = str(tmp_path / "frag")
    spark.range(12).withColumn("date", F.lit(D(2024, 1, 1))).repartition(
        3
    ).write.partitionBy("date").parquet(frag)
    assert writer.compact_partitions(spark, frag, max_files=1)
    assert spark.conf.get(key).lower() == "static"


def test_matview_counts(spark, populated_da):
    mv = {r["date"]: r for r in writer.refresh_symbol_counts(populated_da).collect()}
    d3 = mv[D(2024, 1, 15)]
    assert d3["total_symbols"] == 3
    assert d3["available_count"] == 2
    assert d3["unavailable_count"] == 1


def test_differ_statuses(spark):
    a = make_da(
        spark,
        [
            (D(2024, 1, 1), "BTCUSDT", True, 100.0),
            (D(2024, 1, 1), "ETHUSDT", True, 50.0),
            (D(2024, 1, 1), "XRPUSDT", True, 10.0),
        ],
    )
    b = make_da(
        spark,
        [
            (D(2024, 1, 1), "BTCUSDT", True, 100.0),  # equal
            (D(2024, 1, 1), "ETHUSDT", True, 51.0),  # mismatch
            (D(2024, 1, 1), "ADAUSDT", True, 5.0),  # only_right
        ],
    )
    summary = differ.diff_summary(a, b, ["date", "symbol"])
    assert summary == {"only_left": 1, "only_right": 1, "mismatch": 1, "equal": 1}


def test_cross_check_sets(spark):
    db = spark.createDataFrame([("A",), ("B",), ("C",)], ["symbol"])
    api = spark.createDataFrame([("B",), ("C",), ("D",)], ["symbol"])
    r = cross_check.compare_symbol_sets(db, api)
    assert r["matched"] == 2
    assert r["only_in_db"] == 1
    assert r["only_in_api"] == 1
    missing = cross_check.symbols_missing_from_db(api, db).collect()
    assert [r["symbol"] for r in missing] == ["D"]


def test_incremental_matview_refresh_matches_full(spark):
    da = make_da(
        spark,
        [
            (D(2024, 1, 1), "BTCUSDT", True, 1.0),
            (D(2024, 1, 1), "ETHUSDT", False, None),
            (D(2024, 1, 2), "BTCUSDT", True, 2.0),
        ],
    )
    stale_full = writer.refresh_symbol_counts(da)
    # day 2 gains a symbol; day 1 untouched
    da2 = make_da(
        spark,
        [
            (D(2024, 1, 1), "BTCUSDT", True, 1.0),
            (D(2024, 1, 1), "ETHUSDT", False, None),
            (D(2024, 1, 2), "BTCUSDT", True, 2.0),
            (D(2024, 1, 2), "ETHUSDT", True, 3.0),
        ],
    )
    incr = writer.refresh_symbol_counts_incremental(
        stale_full, da2, [D(2024, 1, 2)]
    )
    full = writer.refresh_symbol_counts(da2)
    key = lambda r: r["date"]  # noqa: E731
    got = {r["date"]: (r["total_symbols"], r["available_count"]) for r in incr.collect()}
    want = {r["date"]: (r["total_symbols"], r["available_count"]) for r in full.collect()}
    assert got == want
    # the incremental plan only scans the touched-date slice of the fact table
    plan = incr._jdf.queryExecution().optimizedPlan().toString()
    assert "2024-01-02" in plan


# --------------------------------------------------- Delta-style MERGE INTO


def _seed_merge_target(spark, tmp_path):
    path = str(tmp_path / "merge_target")
    writer.write_partitioned(
        make_da(
            spark,
            [
                (D(2024, 1, 1), "BTCUSDT", True, 100.0),
                (D(2024, 1, 1), "ETHUSDT", True, 50.0),
                (D(2024, 1, 2), "BTCUSDT", True, 200.0),
            ],
        ),
        path,
    )
    return path


def test_merge_into_update_and_insert(spark, tmp_path):
    path = _seed_merge_target(spark, tmp_path)
    source = make_da(
        spark,
        [
            (D(2024, 1, 1), "ETHUSDT", True, 999.0),   # matched → update
            (D(2024, 1, 2), "NEWUSDT", True, 300.0),   # not matched → insert
        ],
    )
    writer.merge_into(path, source, ["date", "symbol"])
    got = {
        (r["date"], r["symbol"]): r["quote_volume_usdt"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (D(2024, 1, 1), "BTCUSDT"): 100.0,
        (D(2024, 1, 1), "ETHUSDT"): 999.0,
        (D(2024, 1, 2), "BTCUSDT"): 200.0,
        (D(2024, 1, 2), "NEWUSDT"): 300.0,
    }


def test_merge_into_delete_matched(spark, tmp_path):
    path = _seed_merge_target(spark, tmp_path)
    source = make_da(spark, [(D(2024, 1, 1), "ETHUSDT", True, 0.0)])
    writer.merge_into(
        path, source, ["date", "symbol"],
        when_matched="delete", when_not_matched=None,
    )
    got = {(r["date"], r["symbol"]) for r in spark.read.parquet(path).collect()}
    assert got == {(D(2024, 1, 1), "BTCUSDT"), (D(2024, 1, 2), "BTCUSDT")}


def test_merge_into_delete_empties_whole_partition(spark, tmp_path):
    """An emptied touched partition must disappear (dynamic overwrite
    leaves absent partitions on disk — merge_into removes them)."""
    path = _seed_merge_target(spark, tmp_path)
    source = make_da(
        spark,
        [
            (D(2024, 1, 1), "BTCUSDT", True, 0.0),
            (D(2024, 1, 1), "ETHUSDT", True, 0.0),
        ],
    )
    writer.merge_into(
        path, source, ["date", "symbol"],
        when_matched="delete", when_not_matched=None,
    )
    got = [(r["date"], r["symbol"]) for r in spark.read.parquet(path).collect()]
    assert got == [(D(2024, 1, 2), "BTCUSDT")]
    import os

    assert not os.path.exists(os.path.join(path, "date=2024-01-01"))


def test_merge_into_prunes_untouched_partitions(spark, tmp_path):
    import os

    path = _seed_merge_target(spark, tmp_path)
    d1_dir = os.path.join(path, "date=2024-01-01")
    before = {f: os.path.getmtime(os.path.join(d1_dir, f)) for f in os.listdir(d1_dir)}
    source = make_da(spark, [(D(2024, 1, 2), "BTCUSDT", True, 777.0)])
    writer.merge_into(path, source, ["date", "symbol"])
    after = {f: os.path.getmtime(os.path.join(d1_dir, f)) for f in os.listdir(d1_dir)}
    assert after == before  # untouched partition files not rewritten
    got = {
        (r["date"], r["symbol"]): r["quote_volume_usdt"]
        for r in spark.read.parquet(path).collect()
    }
    assert got[(D(2024, 1, 2), "BTCUSDT")] == 777.0
    assert len(got) == 3


def test_merge_into_without_partition_key_full_rewrite(spark, tmp_path):
    """Merge on a key that does not include the partition column: matched
    rows may live anywhere, so the whole table is rewritten — values still
    correct."""
    path = _seed_merge_target(spark, tmp_path)
    source = make_da(spark, [(D(2024, 1, 3), "BTCUSDT", True, 1.0)])
    # key = symbol only → the matched BTCUSDT target SET (both dates) is
    # replaced by the matching source rows (set-replace update semantics)
    writer.merge_into(path, source, ["symbol"], when_matched="update")
    got = {(r["date"], r["symbol"]) for r in spark.read.parquet(path).collect()}
    assert got == {(D(2024, 1, 1), "ETHUSDT"), (D(2024, 1, 3), "BTCUSDT")}


def test_merge_into_matched_none_keeps_target(spark, tmp_path):
    path = _seed_merge_target(spark, tmp_path)
    source = make_da(
        spark,
        [
            (D(2024, 1, 1), "ETHUSDT", True, 999.0),  # matched → untouched
            (D(2024, 1, 1), "XRPUSDT", True, 10.0),   # inserted
        ],
    )
    writer.merge_into(path, source, ["date", "symbol"], when_matched=None)
    got = {
        (r["date"], r["symbol"]): r["quote_volume_usdt"]
        for r in spark.read.parquet(path).collect()
    }
    assert got[(D(2024, 1, 1), "ETHUSDT")] == 50.0  # NOT updated
    assert got[(D(2024, 1, 1), "XRPUSDT")] == 10.0
    assert len(got) == 4


def test_compact_partitions_rewrites_only_fragmented(spark, tmp_path):
    import datetime as dt
    import glob
    import os

    from binance_futures_availability_spark.sources.writer import (
        compact_partitions,
        partition_file_stats,
    )

    path = str(tmp_path / "frag")
    D = dt.date
    rows = [
        (D(2024, 1, d), f"S{i}", float(i)) for d in (1, 2, 3) for i in range(8)
    ]
    (
        spark.createDataFrame(rows, ["date", "symbol", "v"])
        .repartition(6)
        .write.partitionBy("date")
        .parquet(path)
    )
    before = {
        str(r["date"]): r
        for r in partition_file_stats(spark, path).collect()
    }
    assert all(r["n_files"] > 1 for r in before.values())

    compacted = compact_partitions(spark, path, max_files=1)
    assert sorted(str(d) for d in compacted) == sorted(before)
    after = {
        str(r["date"]): r for r in partition_file_stats(spark, path).collect()
    }
    assert all(r["n_files"] == 1 for r in after.values())
    # data survives byte-for-byte (row multiset)
    got = sorted(
        (str(r["date"]), r["symbol"], r["v"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == sorted((str(d), s, v) for d, s, v in rows)

    # second pass is a no-op: nothing fragmented, nothing rewritten
    files = sorted(glob.glob(path + "/date=*/*.parquet"))
    mtimes = {f: os.path.getmtime(f) for f in files}
    assert compact_partitions(spark, path, max_files=1) == []
    assert {f: os.path.getmtime(f) for f in files} == mtimes

    # multi-file target: each partition lands files_per_partition files
    path2 = str(tmp_path / "frag2")
    (
        spark.createDataFrame(rows, ["date", "symbol", "v"])
        .repartition(6)
        .write.partitionBy("date")
        .parquet(path2)
    )
    compact_partitions(spark, path2, max_files=1, files_per_partition=2)
    stats2 = partition_file_stats(spark, path2).collect()
    assert all(r["n_files"] <= 2 for r in stats2)
    assert sum(r["n_rows"] for r in stats2) == len(rows)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    from pyspark.sql import functions as F

    from binance_futures_availability_spark.sources.writer import write_zordered

    grid = spark.range(64 * 64).selectExpr(
        "CAST(id / 64 AS LONG) AS x", "CAST(id % 64 AS LONG) AS y"
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lin")
    write_zordered(grid, zpath, "x", "y", n_files=16, bits=6)
    # linear baseline: range-sorted by x only, same file count
    (
        grid.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def files_covering(path, col, lo, hi):
        stats = (
            spark.read.parquet(path)
            .select(col, F.input_file_name().alias("f"))
            .groupBy("f")
            .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
            .collect()
        )
        return sum(1 for r in stats if r["mn"] <= hi and lo <= r["mx"]), len(stats)

    zx, zn = files_covering(zpath, "x", 10, 13)
    zy, _ = files_covering(zpath, "y", 10, 13)
    lx, ln = files_covering(lpath, "x", 10, 13)
    ly, _ = files_covering(lpath, "y", 10, 13)
    # linear layout: great on x, useless on y (every file covers all y)
    assert lx <= 2 and ly == ln
    # z-order: BOTH dimensions prune to a strict subset of files
    assert zx < zn and zy < zn
    assert zy <= zn // 2  # the dimension linear sort abandons
    # data intact
    assert spark.read.parquet(zpath).count() == 64 * 64


def test_expire_partitions_metadata_only(spark, tmp_path):
    import datetime as dt
    import os

    from binance_futures_availability_spark.sources.writer import (
        expire_partitions,
    )

    path = str(tmp_path / "retain")
    D = dt.date
    rows = [(str(D(2024, 1, d)), f"S{i}", float(i)) for d in (1, 2, 3) for i in range(3)]
    (
        spark.createDataFrame(rows, ["date", "symbol", "v"])
        .write.partitionBy("date")
        .parquet(path)
    )
    removed = expire_partitions(spark, path, before="2024-01-03")
    assert removed == ["2024-01-01", "2024-01-02"]
    assert [d for d in sorted(os.listdir(path)) if d.startswith("date=")] == ["date=2024-01-03"]
    left = spark.read.parquet(path)
    assert left.count() == 3
    assert {str(r["date"]) for r in left.select("date").distinct().collect()} == {"2024-01-03"}
    # idempotent: nothing else matches
    assert expire_partitions(spark, path, before="2024-01-03") == []
