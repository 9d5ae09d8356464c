"""DB → gzip release sink + consistency verification (§2.1 S19).

Parity targets: reference .github/workflows/update-database.yml:403-410
(gzip release step) and scripts/verify-database-consistency.py:85-137
(download + decompress), :140-203 (stats block), :206+ (field diff).
"""

from __future__ import annotations

import datetime as dt
import gzip
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from binance_futures_availability_spark.sources import release


def test_release_roundtrip_consistent(spark, populated_da, tmp_path):
    out = str(tmp_path / "availability.duckdb.gz")
    stats = release.release_database(populated_da, out)
    assert os.path.exists(out) and os.path.exists(out + ".sha256")
    assert stats["total_records"] == populated_da.count()

    ok, diffs = release.verify_release(
        populated_da, out, as_of=dt.date(2024, 1, 15)
    )
    assert ok, diffs

    # the artifact is a real reference-compatible DuckDB file
    db = release.open_release(out)
    try:
        con = duckdb.connect(db, read_only=True)
        n = con.execute("SELECT COUNT(*) FROM daily_availability").fetchone()[0]
        con.close()
        assert n == populated_da.count()
    finally:
        os.unlink(db)


def test_release_stats_matches_database_stats(spark, populated_da, tmp_path):
    """The Spark-side single-row aggregate equals the DuckDB-side block
    field-for-field, including the deterministic as_of count."""
    out = str(tmp_path / "rel.duckdb.gz")
    release.release_database(populated_da, out)
    db = release.open_release(out)
    try:
        theirs = release.database_stats(db, as_of=dt.date(2024, 1, 14))
    finally:
        os.unlink(db)
    ours = release.release_stats(populated_da, as_of="2024-01-14").collect()[0]
    for k in release.STAT_KEYS:
        assert ours[k] == theirs[k], k


def test_verify_release_reports_tamper(spark, populated_da, tmp_path):
    """Dropping rows from the live table surfaces as per-field differences
    (the reference's compare_databases listing)."""
    out = str(tmp_path / "rel.duckdb.gz")
    release.release_database(populated_da, out)
    tampered = populated_da.filter(F.col("symbol") != "BTCUSDT")
    ok, diffs = release.verify_release(tampered, out)
    assert not ok
    joined = "\n".join(diffs)
    assert "total_records" in joined and "distinct_symbols" in joined


def test_open_release_checksum_mismatch(spark, populated_da, tmp_path):
    out = str(tmp_path / "rel.duckdb.gz")
    release.release_database(populated_da, out)
    # corrupt one byte past the gzip header
    with open(out, "r+b") as f:
        f.seek(os.path.getsize(out) - 1)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(ValueError, match="checksum mismatch"):
        release.open_release(out)


def test_release_compression_is_streamed_gzip(spark, populated_da, tmp_path):
    """The artifact is plain gzip (the workflow's `gzip -c`) — any standard
    tool can decompress it; no custom container format."""
    out = str(tmp_path / "rel.duckdb.gz")
    release.release_database(populated_da, out)
    with gzip.open(out, "rb") as f:
        magic = f.read(12)
    # DuckDB file magic block contains 'DUCK'
    assert b"DUCK" in magic


def test_cli_release_and_verify(spark, populated_da, tmp_path, capsys):
    """`bfa-spark release` + `verify-release` drive the sink and the
    integrity check through main(); divergence exits 1 (an integrity
    failure, unlike validate's warnings-only policy)."""
    import json as json_mod

    from binance_futures_availability_spark.cli.main import main as cli_main

    fact = str(tmp_path / "fact")
    populated_da.write.mode("overwrite").parquet(fact)
    out = str(tmp_path / "rel.duckdb.gz")
    rc = cli_main(["release", "--table", fact, "--out", out, "--json"])
    assert rc == 0
    stats = json_mod.loads(capsys.readouterr().out)
    assert stats["total_records"] == populated_da.count()

    rc = cli_main(["verify-release", "--table", fact, "--artifact", out])
    assert rc == 0
    assert "consistent" in capsys.readouterr().out

    # shrink the live table -> divergence -> exit 1
    populated_da.limit(3).write.mode("overwrite").parquet(fact)
    rc = cli_main(
        ["verify-release", "--table", fact, "--artifact", out, "--json"]
    )
    assert rc == 1
    rep = json_mod.loads(capsys.readouterr().out)
    assert rep["consistent"] is False and rep["differences"]


def test_cli_stats_verb(spark, populated_da, tmp_path, capsys):
    """`bfa-spark stats` prints the reference's generate_stats.py block,
    with the recent window anchored to the table's MAX date."""
    import json as json_mod

    from binance_futures_availability_spark.cli.main import main as cli_main

    fact = str(tmp_path / "fact")
    populated_da.write.mode("overwrite").parquet(fact)
    rc = cli_main(["stats", "--table", fact, "--days", "2", "--json"])
    assert rc == 0
    rep = json_mod.loads(capsys.readouterr().out)
    assert rep["overall"]["total_records"] == populated_da.count()
    # populated_da: D3 has BTC/ETH/NEW rows, D2 has BTC/ETH only
    assert rep["recent"] == [
        {"date": "2024-01-15", "symbol_count": 3},
        {"date": "2024-01-14", "symbol_count": 2},
    ]


def test_release_stats_empty_table_is_zero_not_null(spark):
    """SUM over an empty frame is NULL; the stats block must coalesce to
    0 so an empty live table compares equal to an empty artifact and the
    CLI's formatting never sees None."""
    from binance_futures_availability_spark.schema import DAILY_AVAILABILITY

    empty = spark.createDataFrame([], DAILY_AVAILABILITY)
    row = release.release_stats(empty).collect()[0]
    assert row["total_records"] == 0
    assert row["available_records"] == 0
    assert row["unavailable_records"] == 0
    assert row["volume_records"] == 0
    assert row["asof_count"] == 0
    assert row["min_date"] is None and row["max_date"] is None


def test_open_release_cleans_temp_on_corrupt_artifact(tmp_path):
    """A corrupt artifact without a sidecar must not leak the
    partially-written temp database."""
    import glob
    import tempfile

    bad = tmp_path / "bad.duckdb.gz"
    bad.write_bytes(b"\x1f\x8b\x08\x00garbage-not-gzip-body")
    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "release_db_*")))
    with pytest.raises(Exception):
        release.open_release(str(bad))
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "release_db_*")))
    assert after == before


class _FakeGitHub:
    """Records the publish_release call sequence and emulates the GitHub
    Releases API: a rolling release that may pre-exist with assets."""

    def __init__(self, existing_release: dict | None = None):
        self.release = existing_release
        self.calls: list[tuple[str, str]] = []
        self.uploads: dict[str, bytes] = {}
        self.deleted: list[int] = []
        self.next_id = 100

    def __call__(self, method, url, headers, body):
        import json as json_mod

        self.calls.append((method, url))
        if method == "GET" and "/releases/tags/" in url:
            if self.release is None:
                return 404, {"message": "Not Found"}
            return 200, self.release
        if method == "POST" and url.endswith("/releases"):
            payload = json_mod.loads(body)
            assert payload["tag_name"] and payload["make_latest"] == "true"
            self.release = {"id": self.next_id, "assets": [],
                            "body": payload["body"], "name": payload["name"]}
            return 201, self.release
        if method == "PATCH":
            payload = json_mod.loads(body)
            self.release.update(payload)
            return 200, self.release
        if method == "DELETE":
            self.deleted.append(int(url.rsplit("/", 1)[1]))
            return 204, {}
        if method == "POST" and "uploads.github.com" in url:
            name = url.split("?name=")[1]
            self.uploads[name] = body
            return 201, {"name": name}
        raise AssertionError(f"unexpected call {method} {url}")


def test_publish_release_creates_and_uploads(tmp_path):
    """Fresh repo (tag 404): create-release then upload artifact+sidecar —
    the action-gh-release first-run path."""
    art = tmp_path / "availability.duckdb.gz"
    art.write_bytes(b"gzbytes")
    side = tmp_path / "availability.duckdb.gz.sha256"
    side.write_text("abc  availability.duckdb.gz\n")
    gh = _FakeGitHub()
    out = release.publish_release(
        "owner/repo", [str(art), str(side)], "notes body", transport=gh
    )
    assert out["release_id"] == 100
    assert out["uploaded"] == [
        "availability.duckdb.gz",
        "availability.duckdb.gz.sha256",
    ]
    assert out["replaced"] == []
    assert gh.uploads["availability.duckdb.gz"] == b"gzbytes"
    assert gh.release["body"] == "notes body"
    # sequence: lookup, create, two uploads — nothing else
    methods = [m for m, _ in gh.calls]
    assert methods == ["GET", "POST", "POST", "POST"]


def test_publish_release_replaces_stale_assets(tmp_path):
    """Existing rolling release: PATCH the body, DELETE the same-name
    asset before re-upload (GitHub rejects duplicate asset names)."""
    art = tmp_path / "availability.duckdb.gz"
    art.write_bytes(b"v2")
    gh = _FakeGitHub(
        existing_release={
            "id": 7,
            "assets": [{"name": "availability.duckdb.gz", "id": 55},
                       {"name": "unrelated.parquet", "id": 56}],
        }
    )
    out = release.publish_release(
        "owner/repo", [str(art)], "new body", transport=gh
    )
    assert out == {
        "release_id": 7,
        "uploaded": ["availability.duckdb.gz"],
        "replaced": ["availability.duckdb.gz"],
    }
    assert gh.deleted == [55]  # only the colliding asset
    assert gh.release["body"] == "new body"


def test_publish_release_requires_token_or_transport(monkeypatch):
    monkeypatch.delenv("GITHUB_TOKEN", raising=False)
    with pytest.raises(ValueError, match="token"):
        release.publish_release("o/r", [], "b")


def test_render_release_notes_block(spark, populated_da):
    """Notes derive from the verified stats block and carry the workflow's
    sections (statistics / update details / files / usage)."""
    row = release.release_stats(populated_da).collect()[0]
    stats = {k: row[k] for k in release.STAT_KEYS}
    notes = release.render_release_notes(
        stats, repo="owner/repo", as_of="2024-03-01",
        validation_warnings=["2024-02-29: 97 symbols (<100)"],
    )
    assert f"**Total Records**: {stats['total_records']:,}" in notes
    assert "## Database Update - 2024-03-01" in notes
    assert "Completed with warnings" in notes
    assert "97 symbols" in notes
    assert "owner/repo/releases/download/latest" in notes


def test_cli_publish_dry_run(spark, populated_da, tmp_path, capsys):
    """`bfa-spark publish --dry-run` renders the plan from the artifact
    itself — stats in the notes describe exactly what ships."""
    import json as json_mod

    from binance_futures_availability_spark.cli.main import main as cli_main

    out = str(tmp_path / "rel.duckdb.gz")
    release.release_database(populated_da, out)
    rc = cli_main(
        ["publish", "--artifact", out, "--repo", "o/r", "--dry-run", "--json"]
    )
    assert rc == 0
    plan = json_mod.loads(capsys.readouterr().out)
    assert plan["files"] == ["rel.duckdb.gz", "rel.duckdb.gz.sha256"]
    assert f"**Total Records**: {populated_da.count():,}" in plan["notes"]


def test_release_in_place_equals_staged_export(spark, populated_da, tmp_path):
    """The export of a bare scan of committed local files (DuckDB reads
    them in place, no Spark job) and the staged export of the same table
    give the same ordered rows and stats block — including a partition
    whose files hold only the 8 probe columns, which the in-place read
    NULL-fills. The in-place release verifies against the live table."""
    import glob

    from binance_futures_availability_spark.schema import (
        DAILY_AVAILABILITY,
        PROBE_RESULT,
    )
    from binance_futures_availability_spark.sources import duckdb_io

    fact = str(tmp_path / "fact")
    populated_da.write.partitionBy("date").parquet(fact)
    narrow = [f.name for f in PROBE_RESULT.fields if f.name != "date"]
    (
        populated_da.filter(F.col("date") == F.lit(dt.date(2024, 1, 13)))
        .withColumn("date", F.lit(dt.date(2024, 1, 16)))
        .select(*narrow, "date")
        .write.partitionBy("date")
        .mode("append")
        .parquet(fact)
    )
    narrow_files = glob.glob(fact + "/date=2024-01-16/*.parquet")
    assert narrow_files
    assert all(
        len(duckdb.read_parquet(f).columns) == len(narrow) for f in narrow_files
    )

    da = spark.read.schema(DAILY_AVAILABILITY).parquet(fact)
    assert duckdb_io._local_scan_files(da)
    staged_da = da.filter(F.lit(True))
    assert duckdb_io._local_scan_files(staged_da) is None

    sc = spark.sparkContext
    group = f"in-place-{tmp_path.name}"
    sc.setJobGroup(group, "in-place export")
    try:
        duckdb_io.export_duckdb(da, str(tmp_path / "in_place.duckdb"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    duckdb_io.export_duckdb(staged_da, str(tmp_path / "staged.duckdb"))

    def rows(db):
        con = duckdb.connect(db, read_only=True)
        try:
            return con.execute("SELECT * FROM daily_availability").fetchall()
        finally:
            con.close()

    in_place = rows(str(tmp_path / "in_place.duckdb"))
    assert in_place == rows(str(tmp_path / "staged.duckdb"))
    assert len(in_place) == populated_da.count() + 3
    # the 8-column partition came back NULL-filled (column 8 is
    # quote_volume_usdt, set on two of the 2024-01-13 rows it copies)
    late = [r for r in in_place if r[0] == dt.date(2024, 1, 16)]
    assert len(late) == 3 and all(r[8] is None for r in late)
    for as_of in (None, dt.date(2024, 1, 16)):
        assert release.database_stats(
            str(tmp_path / "in_place.duckdb"), as_of=as_of
        ) == release.database_stats(str(tmp_path / "staged.duckdb"), as_of=as_of)

    out = str(tmp_path / "availability.duckdb.gz")
    release.release_database(da, out)
    ok, diffs = release.verify_release(da, out, as_of=dt.date(2024, 1, 16))
    assert ok, diffs
