"""Upsert / matview / differ semantics — reference parity:
tests/test_database/test_availability_db.py:33-51 (upsert keeps one row with
the new value), availability_db.py:219-244 (matview refresh),
scripts/verify-database-consistency.py:266-339 (row diff)."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib

import pytest

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
    import glob
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
    assert not glob.glob(path + ".__staging__*")


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


def _fact_rows(spark, path):
    return sorted(
        (r["date"], r["symbol"], r["quote_volume_usdt"])
        for r in spark.read.schema(DAILY_AVAILABILITY).parquet(path).collect()
    )


def _seed_fact(spark, path):
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


@pytest.mark.parametrize("case", ["overlap", "insert_only", "first_write"])
def test_upsert_publish_failure_keeps_old_rows(
    spark, tmp_path, monkeypatch, case
):
    """A failure in the publish step (after the merge is staged, before
    anything is swapped) leaves every committed row readable — or, on a
    first write, no table at all — and no staging directory behind: on
    the overlap path, for a new date into an existing table, and for a
    missing table."""
    import glob
    import os

    path = str(tmp_path / "fact")
    day = D(2024, 1, 3) if case == "insert_only" else D(2024, 1, 2)
    if case != "first_write":
        _seed_fact(spark, path)
        before = _fact_rows(spark, path)

    def boom(fs, src, dst):
        raise OSError("publish failed")

    monkeypatch.setattr(writer, "_swap", boom)
    with pytest.raises(OSError, match="publish failed"):
        writer.upsert_partitioned(
            path,
            make_da(spark, [(day, "BTCUSDT", True, 999.0)]),
            ["date", "symbol"],
            "probe_timestamp",
        )
    if case == "first_write":
        assert not os.path.exists(path)
    else:
        assert _fact_rows(spark, path) == before
    assert not glob.glob(path + ".__staging__*")


def test_upserts_stage_to_distinct_paths(spark, tmp_path, monkeypatch):
    """Two upserts of the same table stage to two different siblings, so
    concurrent writers never share a staging directory."""
    import glob

    path = str(tmp_path / "fact")
    _seed_fact(spark, path)
    staged = []
    real = writer._staging_path

    def spy(root):
        staged.append(real(root))
        return staged[-1]

    monkeypatch.setattr(writer, "_staging_path", spy)
    for qv in (1.0, 2.0):
        writer.upsert_partitioned(
            path,
            make_da(spark, [(D(2024, 1, 2), "BTCUSDT", True, qv)]),
            ["date", "symbol"],
            "probe_timestamp",
        )
    assert len(staged) == 2 and staged[0] != staged[1]
    assert all(p.startswith(path + ".__staging__-") for p in staged)
    assert not glob.glob(path + ".__staging__*")
    assert (D(2024, 1, 2), "BTCUSDT", 2.0) in _fact_rows(spark, path)


def test_publish_refuses_a_frame_off_the_table_schema(
    spark, tmp_path, monkeypatch
):
    """A merge whose columns are not the table's declared ones (an extra
    column, a column of another type) is refused before anything is
    written or published — on the overlap path and on the insert-only
    path (a new date) alike."""
    import glob

    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "fact")
    _seed_fact(spark, path)
    before = _fact_rows(spark, path)
    writes = []
    real = DataFrameWriter.parquet

    def spy(self, target, *a, **kw):
        writes.append(target)
        return real(self, target, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    for day in (D(2024, 1, 2), D(2024, 1, 3)):
        good = make_da(spark, [(day, "BTCUSDT", True, 999.0)])
        for bad in (
            good.withColumn("extra", F.lit(1)),
            good.withColumn("status_code", F.col("status_code").cast("string")),
        ):
            with pytest.raises(ValueError, match="table schema"):
                writer.upsert_partitioned(
                    path, bad, ["date", "symbol"], "probe_timestamp"
                )
    with pytest.raises(ValueError, match="table schema"):
        writer._publish(
            good.drop("url"), path, DAILY_AVAILABILITY, partition_col="date"
        )
    assert writes == []
    assert _fact_rows(spark, path) == before
    assert not glob.glob(path + ".__staging__*")


def _materialized_fact(spark, path):
    """A 20-row table (10 dates x 2 symbols) committed by
    ``materialize_fact``: range-split data files, no date directories."""
    from binance_futures_availability_spark.operators.availability import (
        materialize_fact,
    )

    materialize_fact(
        make_da(
            spark,
            [
                (D(2024, 1, 1) + dt.timedelta(days=i), sym, True, float(i))
                for i in range(10)
                for sym in ("BTCUSDT", "ETHUSDT")
            ],
        ),
        path,
    )


@pytest.mark.parametrize("op", ["upsert", "merge", "compact"])
def test_in_place_writers_refuse_the_materialized_layout(spark, tmp_path, op):
    """An in-place update that stages ``date=`` directories into a table
    of data files (``materialize_fact``'s layout) is not a first write: it
    is refused before anything is written, every row stays readable in
    the original layout and no staging directory is left."""
    import glob
    import os

    path = str(tmp_path / "fact")
    _materialized_fact(spark, path)
    before = _fact_rows(spark, path)
    layout = sorted(os.listdir(path))
    src = make_da(spark, [(D(2024, 1, 2), "BTCUSDT", True, 999.0)])
    with pytest.raises(ValueError, match="not laid out as staged"):
        if op == "upsert":
            writer.upsert_partitioned(
                path, src, ["date", "symbol"], "probe_timestamp"
            )
        elif op == "merge":
            writer.merge_into(path, src, ["date", "symbol"])
        else:
            writer.compact_partitions(spark, path, max_files=0)
    assert len(before) == 20 and _fact_rows(spark, path) == before
    assert sorted(os.listdir(path)) == layout
    assert not glob.glob(path + ".__staging__*")


def test_publish_refuses_data_files_into_a_partitioned_table(spark, tmp_path):
    """Staged part files are not appended to a root of ``date=``
    directories."""
    import glob

    path = str(tmp_path / "fact")
    _seed_fact(spark, path)
    before = _fact_rows(spark, path)
    with pytest.raises(ValueError, match="not laid out as staged"):
        writer._publish(
            make_da(spark, [(D(2024, 1, 3), "BTCUSDT", True, 1.0)]),
            path,
            DAILY_AVAILABILITY,
        )
    assert _fact_rows(spark, path) == before
    assert not glob.glob(path + ".__staging__*")


def test_materialize_fact_onto_a_committed_table_publishes_nothing(
    spark, tmp_path
):
    """A second materialization of a committed path (the lost race of two
    cold processes) publishes nothing: the committed rows and files stay,
    and no staging directory is left."""
    import glob
    import os

    from binance_futures_availability_spark.operators.availability import (
        materialize_fact,
    )

    path = str(tmp_path / "fact")
    _materialized_fact(spark, path)
    before = _fact_rows(spark, path)
    files = sorted(os.listdir(path))
    materialize_fact(make_da(spark, [(D(2030, 1, 1), "XRPUSDT", True, 1.0)]), path)
    assert _fact_rows(spark, path) == before
    assert sorted(os.listdir(path)) == files
    assert not glob.glob(path + ".__staging__*")


def test_writers_leave_session_overwrite_mode_static(spark, tmp_path):
    """No writer changes the session's partition-overwrite mode, which
    stays static through every upsert, merge and compaction."""
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



PACKAGE = pathlib.Path(writer.__file__).resolve().parents[1]


def _package_trees():
    sources = [
        *sorted(PACKAGE.rglob("*.py")),
        PACKAGE.parent / "__spark_entry__.py",
    ]
    return [(p, ast.parse(p.read_text())) for p in sources]


def test_no_session_conf_writes_in_package():
    """No code of the package changes a session conf: no ``.conf.set(``
    call anywhere (sizing rides on the frames, write modes on the
    writes)."""
    calls = [
        (p.name, n.lineno)
        for p, tree in _package_trees()
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "set"
        and isinstance(n.func.value, ast.Attribute)
        and n.func.value.attr == "conf"
    ]
    assert calls == []


#: the modules whose ``os.replace`` commits one local file (the release
#: artifact, the symbol discovery cache); table directories are committed
#: by ``writer._publish``
SINGLE_FILE_COMMITS = {"sources/release.py", "ingest/discovery.py"}


def test_no_directory_renames_outside_publish():
    """No ``os.rename`` anywhere in the package or the entry module, and
    ``os.replace`` only where a single local file is committed: no module
    carries a directory commit protocol of its own."""
    calls = [
        (p.relative_to(PACKAGE.parent).as_posix(), n.func.attr, n.lineno)
        for p, tree in _package_trees()
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("rename", "replace")
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "os"
    ]
    allowed = {f"{PACKAGE.name}/{m}" for m in SINGLE_FILE_COMMITS}
    assert [
        c for c in calls if c[1] == "rename" or c[0] not in allowed
    ] == []


#: the deployment settings the package reads from the environment: paths,
#: resources and credentials — never a choice between physical plans
DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CACHE",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_INDEX_CACHE_BYTES",
    "PYSPARK_SUBMIT_ARGS",
    "BFA_TABLE_PATH",
    "GITHUB_TOKEN",
}


def test_env_reads_name_only_deployment_settings():
    """Every ``os.environ``/``os.getenv`` read in the package and the
    entry module names a literal deployment setting."""

    def is_environ(n):
        return isinstance(n, ast.Attribute) and n.attr == "environ"

    bad = []
    for p, tree in _package_trees():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and (
                n.func.attr == "getenv" or is_environ(n.func.value)
            ):
                key = n.args[0] if n.args else None
            elif isinstance(n, ast.Subscript) and is_environ(n.value):
                key = n.slice
            elif isinstance(n, ast.Compare) and any(
                is_environ(c) for c in n.comparators
            ):
                key = n.left
            else:
                continue
            name = getattr(key, "value", None)
            if name not in DEPLOYMENT_ENV:
                bad.append((p.name, n.lineno, name))
    assert bad == []


def test_no_broadcast_parameters_on_public_operators():
    """Join strategy is not a caller's choice: no public operator
    function takes a ``broadcast_*`` parameter."""
    bad = [
        (p.name, n.name, a.arg)
        for p in sorted((PACKAGE / "operators").glob("*.py"))
        for n in ast.parse(p.read_text()).body
        if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")
        for a in (*n.args.posonlyargs, *n.args.args, *n.args.kwonlyargs)
        if a.arg.startswith("broadcast_")
    ]
    assert bad == []


def test_no_checkout_path_literals_in_package():
    """No string constant outside a docstring names one particular
    checkout by its absolute path: artifact paths resolve through
    ``catalog._artifact_root()``, so a copy of the repo uses its own."""
    checkout = str(PACKAGE.parent)
    bad = []
    for p, tree in _package_trees():
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(
                n,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            )
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        bad += [
            (p.name, n.lineno)
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and checkout in n.value
            and id(n) not in docstrings
        ]
    assert bad == []


@pytest.mark.parametrize(
    "module, name",
    [
        ("sources/writer.py", "upsert_partitioned"),
        ("update.py", "run_daily_update"),
        ("update.py", "_append_rankings"),
        ("operators/availability.py", "materialize_fact"),
        ("operators/availability.py", "availability_fact"),
    ],
)
def test_tick_commits_only_through_publish(module, name):
    """The tick's table writers and the fact materialization hold no
    ``DataFrameWriter`` of their own (no ``.write`` attribute): every
    commit goes through ``writer._publish``; the upsert calls it exactly
    once."""
    fn = next(
        n
        for n in ast.walk(ast.parse((PACKAGE / module).read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == name
    )
    assert not [
        n.lineno
        for n in ast.walk(fn)
        if isinstance(n, ast.Attribute) and n.attr == "write"
    ]
    if name == "upsert_partitioned":
        called = [
            getattr(n.func, "id", getattr(n.func, "attr", None))
            for n in ast.walk(fn)
            if isinstance(n, ast.Call)
        ]
        assert called.count("_publish") == 1
        assert not [c for c in called if c and "overwrite" in c], called


def test_square_roots_only_in_the_cosine_kernel():
    """``operators/similarity.py`` computes cosine square roots in one
    place: every ``np.sqrt`` call sits in ``_cosines`` (the shared
    cosine-matrix kernel) or in ``centroid_outliers``' row-wise
    ``cos_to_own``, so the kernels behind the oracle gate cannot drift
    apart."""
    allowed = {("_cosines",), ("centroid_outliers", "cos_to_own")}
    bad = []

    def visit(node, scope):
        for n in ast.iter_child_nodes(node):
            if isinstance(n, ast.FunctionDef):
                visit(n, (*scope, n.name))
                continue
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "sqrt"
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id == "np"
                and scope not in allowed
            ):
                bad.append((scope, n.lineno))
            visit(n, scope)

    visit(ast.parse((PACKAGE / "operators" / "similarity.py").read_text()), ())
    assert bad == []


def _calls_by_function(module: str, name: str):
    """(top-level function, line) of every call of ``name`` (as a
    function or an attribute) in ``operators/<module>``."""
    tree = ast.parse((PACKAGE / "operators" / module).read_text())
    return [
        (top.name, n.lineno)
        for top in tree.body
        if isinstance(top, ast.FunctionDef)
        for n in ast.walk(top)
        if isinstance(n, ast.Call)
        and getattr(n.func, "attr", getattr(n.func, "id", None)) == name
    ]


def test_one_intersect_verify_per_dedup_pair_path():
    """``operators/dedup.py`` verifies shingle pairs in one place per
    path: at most two ``array_intersect`` calls, one in the prefix-pair
    builder and one in the MinHash verified-stats build, so no private
    copy of either verify can return beside the registry's artifact."""
    calls = _calls_by_function("dedup.py", "array_intersect")
    assert len(calls) <= 2, calls
    assert {name for name, _ in calls} <= {
        "_prefix_filtered_pairs",
        "_candidate_pair_stats",
    }, calls


def test_one_quantizer_and_one_ntile_rule_in_textops():
    """``operators/textops.py`` writes the nano-nat quantizer and the
    NTILE tile arithmetic once: at most three ``F.log`` calls (the
    ``tfidf_weights`` idf, the ``bm25_scores`` idf and ``_nano_nats``) and
    one ``divmod`` (in ``_ntile``), so no operator can carry a private
    copy that drifts from the shared one."""
    logs = _calls_by_function("textops.py", "log")
    assert len(logs) <= 3, logs
    assert {name for name, _ in logs} <= {
        "tfidf_weights",
        "bm25_scores",
        "_nano_nats",
    }, logs
    divmods = _calls_by_function("textops.py", "divmod")
    assert len(divmods) <= 1, divmods
    assert {name for name, _ in divmods} <= {"_ntile"}, divmods
