"""DuckDB ⇄ Spark fact-table connector — the migration path.

The reference keeps its entire state in one DuckDB file
(``~/.cache/binance-futures/availability.duckdb``, reference
database/availability_db.py:32-47) with the 17-column
``daily_availability`` table (database/schema.py:68-95, composite PK
(date, symbol)). A user migrating to this engine starts from that file,
so the connector provides both directions:

- ``import_duckdb``: .duckdb → parquet fact table in the engine's one
  materialized layout (``materialize_fact``: range-split files sorted by
  (date, symbol)). A table that takes updates is written with
  ``writer.write_partitioned`` instead, from the frame ``import_duckdb``
  returns without ``dest_path``.
- ``export_duckdb``: fact DataFrame → .duckdb with the reference's exact
  CREATE TABLE (PK included), so the reference CLI keeps working on the
  exported file.

Scale stance: a .duckdb file is a single-node artifact by construction —
there is nothing to distribute while reading it. The bridge is DuckDB's
own parquet COPY / ``read_parquet`` (multi-threaded, streams to disk, no
driver-memory residency), after which Spark owns the data: the
partitioned write and everything downstream distribute normally. An
export of a bare scan of local parquet files hands DuckDB the committed
files themselves, so no Spark job runs and no copy is staged.
Pre-ADR-0007 databases (missing the nine volume columns —
schema.py:20-42's migration) import cleanly: absent columns are
NULL-filled, exactly what the reference's ``ALTER TABLE ADD COLUMN``
migration produces.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index_cache import cached_value, invalidate, path_key
from ..schema import DAILY_AVAILABILITY

#: SQL identifiers interpolated into DuckDB statements (CREATE/COPY/INSERT
#: have no placeholder form for table names) — restrict to plain identifiers
#: so a caller-supplied name can never smuggle SQL.
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(table: str) -> str:
    if not _IDENT.match(table):
        raise ValueError(f"invalid table identifier: {table!r}")
    return table

#: reference database/schema.py:68-95, verbatim column list + PK
_CREATE_DAILY = """
CREATE TABLE {table} (
    date DATE NOT NULL,
    symbol VARCHAR NOT NULL,
    available BOOLEAN NOT NULL,
    file_size_bytes BIGINT,
    last_modified TIMESTAMP,
    url VARCHAR NOT NULL,
    status_code INTEGER NOT NULL,
    probe_timestamp TIMESTAMP NOT NULL,
    quote_volume_usdt DOUBLE,
    trade_count BIGINT,
    volume_base DOUBLE,
    taker_buy_volume_base DOUBLE,
    taker_buy_quote_volume_usdt DOUBLE,
    open_price DOUBLE,
    high_price DOUBLE,
    low_price DOUBLE,
    close_price DOUBLE,
    PRIMARY KEY (date, symbol)
)
"""

_FACT_COLUMNS = [f.name for f in DAILY_AVAILABILITY.fields]


def _connect(db_path: str, read_only: bool = False):
    import duckdb

    return duckdb.connect(db_path, read_only=read_only)


def read_fact(spark: SparkSession, path: str) -> DataFrame:
    """Catalog read of an imported fact table in declared column order and
    types.

    The handle is a registry value, like operators.availability.
    _FACT_HANDLES: an unpersisted parquet read that keeps its file
    listing, so repeat reads skip re-discovery without pinning the whole
    table in memory. Keyed per (resolved path, top-level directory
    fingerprint, session): an in-place rewrite misses and the sweep
    releases the superseded snapshot; ``import_duckdb`` also invalidates
    eagerly on re-import. Unreadable/remote paths are never cached."""
    from ..catalog import _dir_fingerprint

    real = os.path.realpath(path)
    fp = _dir_fingerprint(real)
    return cached_value(
        None
        if fp is None
        else path_key(real, fp, "fact_import", spark.sparkContext.applicationId),
        lambda: spark.read.parquet(path).select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in DAILY_AVAILABILITY.fields
            ]
        ),
    )


def import_duckdb(
    spark: SparkSession,
    db_path: str,
    dest_path: str | None = None,
    table: str = "daily_availability",
) -> DataFrame:
    """Read the reference's DuckDB fact table into Spark.

    DuckDB COPYs the table to a parquet staging file (its native,
    multi-threaded export — constant memory, any table size a .duckdb
    can hold); Spark reads the staging file, casts every column to the
    engine's declared StructType, and — when ``dest_path`` is given —
    commits the fact table there and returns the catalog read over it.
    Without ``dest_path`` the cast staging read is returned directly.

    The commit is ``operators.availability.materialize_fact``'s: the
    engine's range-split layout, published through ``writer._publish``.
    A table already at ``dest_path`` is removed first, so a re-import
    replaces it. A table that takes updates is written with
    ``writer.write_partitioned`` from the frame returned without
    ``dest_path``.

    Columns the source predates (pre-ADR-0007 files lack the nine
    volume columns) are NULL-filled; unknown extra columns are ignored.

    Staging lifecycle: with ``dest_path`` the staging dir is deleted as
    soon as the fact table is committed; without
    ``dest_path`` the RETURNED frame still lazily reads the staging file,
    so it cannot be deleted here — cleanup is registered atexit instead
    (process-lifetime staging, never a permanent leak).
    """
    _check_ident(table)
    con = _connect(db_path, read_only=True)
    try:
        present = {
            r[0]
            for r in con.execute(
                "SELECT column_name FROM information_schema.columns "
                "WHERE table_name = ?",
                [table],
            ).fetchall()
        }
        if not present:
            raise ValueError(f"table {table!r} not found in {db_path}")
        select = ", ".join(
            c if c in present else f"NULL AS {c}" for c in _FACT_COLUMNS
        )
        staging = tempfile.mkdtemp(prefix="duckdb_import_")
        staged = os.path.join(staging, "fact.parquet")
        con.execute(
            f"COPY (SELECT {select} FROM {table}) TO '{staged}' "
            "(FORMAT PARQUET)"
        )
    finally:
        con.close()
    raw = spark.read.parquet(staged)
    cast = raw.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in DAILY_AVAILABILITY.fields
        ]
    )
    if dest_path is None:
        atexit.register(shutil.rmtree, staging, ignore_errors=True)
        return cast
    from ..operators.availability import materialize_fact
    from .writer import _rm_tree

    try:
        _rm_tree(spark, dest_path)
        materialize_fact(cast, dest_path)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    invalidate(os.path.realpath(dest_path))
    return read_fact(spark, dest_path)


def export_duckdb(
    da: DataFrame,
    db_path: str,
    table: str = "daily_availability",
    mode: str = "overwrite",
) -> None:
    """Write the fact DataFrame to a .duckdb file the reference can open.

    The table is created with the reference's exact schema INCLUDING the
    (date, symbol) primary key (database/schema.py:68-95) — DuckDB only
    accepts PKs at CREATE time, so ``mode='overwrite'`` drops and
    recreates while ``mode='append'`` INSERT OR REPLACEs into the
    existing table (the reference's own upsert verb,
    availability_db.py:97-124), ordered by (date, symbol).

    Data reaches DuckDB's ``read_parquet`` — no row-at-a-time driver loop
    — from one of two sources:

    - ``da`` is a bare parquet scan of local files (the cron tick's
      post-upsert read): DuckDB reads exactly ``da.inputFiles()`` in
      place (``hive_partitioning`` restores the partition column,
      ``union_by_name`` NULL-fills the columns a file lacks). No Spark
      job runs and nothing is copied.
    - any other frame is written by Spark to a parquet staging directory
      first.

    Missing nullable columns are NULL-filled (the mirror of the import
    path's pre-ADR-0007 handling): a probe-only table — no volume
    enrichment yet — still exports as a valid full-schema database.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    _check_ident(table)
    files = _local_scan_files(da)
    staging = None if files else tempfile.mkdtemp(prefix="duckdb_export_")
    try:
        if staging is not None:
            present = set(da.columns)
            da.select(
                *[
                    F.col(f.name)
                    if f.name in present
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in DAILY_AVAILABILITY.fields
                ]
            ).write.mode("overwrite").parquet(os.path.join(staging, "fact"))
            files = [os.path.join(staging, "fact", "*.parquet")]
        con = _connect(db_path)
        try:
            scan = (
                "read_parquet(?, hive_partitioning = true, "
                "union_by_name = true)"
            )
            # the frame's columns the files hold; the rest read as NULL
            have = set(da.columns) & {
                d[0]
                for d in con.execute(
                    f"SELECT * FROM {scan} LIMIT 0", [files]
                ).description
            }
            cols = ", ".join(_FACT_COLUMNS)
            select = ", ".join(
                c if c in have else f"NULL AS {c}" for c in _FACT_COLUMNS
            )
            if mode == "overwrite":
                con.execute(f"DROP TABLE IF EXISTS {table}")
            exists = con.execute(
                "SELECT 1 FROM information_schema.tables "
                "WHERE table_name = ?",
                [table],
            ).fetchone()
            if not exists:
                con.execute(_CREATE_DAILY.format(table=table))
            con.execute(
                f"INSERT OR REPLACE INTO {table} ({cols}) "
                f"SELECT {select} FROM {scan} ORDER BY date, symbol",
                [files],
            )
        finally:
            con.close()
    finally:
        if staging is not None:
            shutil.rmtree(staging, ignore_errors=True)


def _local_scan_files(da: DataFrame) -> list[str] | None:
    """The local files ``da`` reads when it is a bare parquet scan — its
    analyzed plan is the file relation alone, so its rows are exactly the
    files' rows — else None (also for a scan of no file, or of a file
    on another file system)."""
    plan = da._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    relation = plan.relation()
    if (
        relation.getClass().getSimpleName() != "HadoopFsRelation"
        or relation.fileFormat().getClass().getSimpleName()
        != "ParquetFileFormat"
    ):
        return None
    uris = [urlparse(f) for f in da.inputFiles()]
    if not uris or any(u.scheme != "file" for u in uris):
        return None
    return [unquote(u.path) for u in uris]
