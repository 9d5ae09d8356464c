"""Availability fact-table adapter over the synthetic testdata.

The engine's domain model is the 17-column ``daily_availability`` table
(reference: src/binance_futures_availability/database/schema.py:68-95). The
driver's testdata is TPC-H-ish, so for the correctness gate we *derive* an
availability-shaped DataFrame from ``lineitem`` deterministically:

- ``date``    = CAST(l_shipdate AS DATE)
- ``symbol``  = 'S' || lpad(l_suppkey, 3, '0')   (supplier plays "symbol")
- one row per (date, symbol) that had any shipment — absent combinations are
  the natural "file missing" gaps the reference's continuity/anti-join
  queries look for
- ``available``          = trade_count >= 2            (both truth values occur)
- ``quote_volume_usdt``  = exact DECIMAL(18,2) sum of l_extendedprice, cast to
  DOUBLE, NULLed for ~1/7 of rows (volume_base % 7 == 0) so the reference's
  IS [NOT] NULL cohort predicates (queries/volume.py:57-59,
  scripts/operations/backfill_volume.py:77-82) are non-degenerate
- ``trade_count``        = COUNT(*)
- ``file_size_bytes``    = exact integer sum of round(l_quantity)
- ``status_code``        = 200 if available else 404
- ``last_modified``      = date + 1 day as timestamp

Exact-decimal discipline: every monetary aggregate is summed as
DECIMAL(18,2) (order-independent, exact) and only then cast to DOUBLE, so
Spark and the DuckDB oracle produce bit-identical values regardless of
reduction order. Floating-point SUM would hash-mismatch.

The same derivation exists as a SQL CTE (``DA_SQL``) for oracle queries.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import _artifact_root, _dir_fingerprint, load_table
from ..index_cache import cached_index, invalidate, path_key
from ..schema import DAILY_AVAILABILITY
from ..sources import writer

#: bump when the derivation changes — invalidates materialized caches
DA_VERSION = "v4"


def availability_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the daily_availability-shaped DataFrame from lineitem.

    One narrow projection feeds one hash aggregation: Catalyst prunes the scan
    to 3 columns and does partial (map-side) aggregation before the shuffle on
    (date, symbol) — the same shape a 100 TB fact-table rollup wants.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.to_date("l_shipdate").alias("date"),
        F.concat(F.lit("S"), F.lpad(F.col("l_suppkey").cast("string"), 4, "0")).alias(
            "symbol"
        ),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price_dec"),
        F.round("l_quantity").cast("long").alias("qty_int"),
        (F.col("l_linenumber") % 2 == 0).alias("is_taker"),
    )
    agg = base.groupBy("date", "symbol").agg(
        F.count(F.lit(1)).alias("trade_count"),
        F.sum("price_dec").alias("vol_dec"),
        F.sum("qty_int").alias("file_size_bytes"),
        F.sum(F.when(F.col("is_taker"), F.col("qty_int")).otherwise(F.lit(0))).alias(
            "taker_qty"
        ),
        F.sum(
            F.when(F.col("is_taker"), F.col("price_dec")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("taker_vol_dec"),
        F.min("price_dec").alias("min_price_dec"),
        F.max("price_dec").alias("max_price_dec"),
    )
    return agg.select(
        "date",
        "symbol",
        (F.col("trade_count") >= 2).alias("available"),
        "file_size_bytes",
        F.to_timestamp(F.date_add("date", 1)).alias("last_modified"),
        F.concat(
            F.lit("s3://data/"), F.col("symbol"), F.lit("/"), F.col("date").cast("string")
        ).alias("url"),
        F.when(F.col("trade_count") >= 2, F.lit(200)).otherwise(F.lit(404)).alias(
            "status_code"
        ),
        # probe_timestamp is the declared UPSERT version column (schema.py);
        # pinned to noon-of-date so writer paths run on derived data
        (F.col("date").cast("timestamp") + F.expr("INTERVAL 12 HOURS")).alias(
            "probe_timestamp"
        ),
        F.when(F.col("file_size_bytes") % 7 != 0, F.col("vol_dec").cast("double")).alias(
            "quote_volume_usdt"
        ),
        "trade_count",
        F.col("file_size_bytes").cast("double").alias("volume_base"),
        F.col("taker_qty").cast("double").alias("taker_buy_volume_base"),
        F.col("taker_vol_dec").cast("double").alias("taker_buy_quote_volume_usdt"),
        # synthetic OHLC from exact decimal extremes (open=low, close=high —
        # deterministic; avoids arg_min/arg_max whose tie-breaks differ
        # between engines)
        F.col("min_price_dec").cast("double").alias("open_price"),
        F.col("max_price_dec").cast("double").alias("high_price"),
        F.col("min_price_dec").cast("double").alias("low_price"),
        F.col("max_price_dec").cast("double").alias("close_price"),
    )


def materialize_fact(da: DataFrame, path: str) -> None:
    """Persist the fact table once so queries read it through the catalog
    instead of re-deriving it (the reference's ``daily_availability`` is a
    *stored* table, not a view — database/schema.py:68-95).

    One layout: a handful of range-split files, each sorted by (date,
    symbol) with NON-OVERLAPPING ranges, so parquet footer min/max serve
    file-level date pruning (P1/J3/J4) and row-group stats the symbol path
    (P3), while full scans (aggregations, windows, the symbol-clustered
    projection's build) parallelize across the splits. A table that takes updates is
    written with ``writer.write_partitioned`` instead (directory per date,
    what ``upsert_partitioned`` rewrites); the writers that update in
    place refuse this layout.

    Commits through ``writer._publish``: staged to a unique sibling and
    renamed into place only while ``path`` holds no committed table, so
    when another process commits first nothing is published and its
    byte-equivalent table (same deterministic derivation) stands.
    """
    spark = da.sparkSession
    writer._publish(
        da.repartitionByRange(8, "date", "symbol").sortWithinPartitions(
            "date", "symbol"
        ),
        path,
        DAILY_AVAILABILITY,
        check=lambda: not writer.table_exists(spark, path),
    )


#: session-lifetime handles to the materialized table, keyed by parquet path.
#: Each is a plain parquet read, never pinned in memory: the handle keeps
#: the file listing, so repeated catalog reads skip re-discovery, and only
#: the narrow artifacts derived from it (symbol-clustered projections,
#: index artifacts) are persisted, in the registry.
_FACT_HANDLES: dict[str, DataFrame] = {}


def _source_fingerprint(sf_dir: str) -> str:
    """Digest of the derivation input's file identities (relative name,
    size, mtime_ns) for every file under ``lineitem.parquet``.

    Folding this into the cache key means regenerating the testdata in
    place yields a NEW cache entry instead of silently serving stale rows
    (the _SUCCESS marker and the session's fact handle both survive an
    in-place rewrite and would otherwise mask it)."""
    src = os.path.join(os.path.realpath(sf_dir), "lineitem.parquet")
    entries: list[str] = []
    if os.path.isdir(src):
        for root, _dirs, files in os.walk(src):
            for name in sorted(files):
                st = os.stat(os.path.join(root, name))
                rel = os.path.relpath(os.path.join(root, name), src)
                entries.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        entries.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("\n".join(entries).encode()).hexdigest()[:8]


def _snapshot_key(sf_dir: str) -> str:
    """``<md5 of the resolved sf_dir>-<source fingerprint>``: the key of
    every artifact derived from one testdata dir. The FULL resolved path
    (a basename alone would silently share artifacts between /a/sf0.1 and
    /b/sf0.1) plus the input fingerprint (detects in-place
    regeneration)."""
    digest = hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:8]
    return f"{digest}-{_source_fingerprint(sf_dir)}"


def availability_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized ``daily_availability`` for a testdata dir.

    Derives from lineitem exactly once per (sf_dir, source fingerprint,
    DA_VERSION), stores it under ``catalog._artifact_root()``, and
    thereafter returns a catalog read — so an 18-query session performs
    ONE derivation aggregation instead of 18 full re-aggregations of the
    fact source (the round-1 scale-killer).

    Concurrency: ``materialize_fact`` commits through ``writer._publish``,
    so two processes racing on a cold cache both produce correct results,
    at most one commit is published, and no partially-written directory
    is ever readable under ``path``.
    """
    sf_name = os.path.basename(os.path.realpath(sf_dir)) or "default"
    name = f"{sf_name}-{_snapshot_key(sf_dir)}"
    path = os.path.join(_artifact_root(), f"da_{DA_VERSION}", name)
    handle = _FACT_HANDLES.get(path)
    if handle is not None:
        return handle
    # a new fingerprint supersedes any older materialization of the same
    # sf_dir — drop the stale handle and release every registry entry
    # derived from it (clustered projections, index artifacts) so a
    # session that regenerates testdata doesn't strand cached blocks
    stale_prefix = name.rsplit("-", 1)[0] + "-"
    for old_path in [
        p
        for p in _FACT_HANDLES
        if os.path.basename(p).startswith(stale_prefix) and p != path
    ]:
        del _FACT_HANDLES[old_path]
        invalidate(old_path)
    if not writer.table_exists(spark, path):
        materialize_fact(availability_from_lineitem(spark, sf_dir), path)
    handle = spark.read.parquet(path)
    # carry the source identity the way catalog.load_table_hot does:
    # plan_key keys every artifact derived from the fact on this ``hot:``
    # directory URI, not on its part files. The fingerprint is the
    # directory's own (catalog._dir_fingerprint), the one the registry's
    # sweep recomputes — any other digest would read as stale and evict
    # the fact's artifacts on every miss insert.
    handle._spark_graft_source = (path, _dir_fingerprint(path))
    _FACT_HANDLES[path] = handle
    return handle


def availability_fact_by_symbol(
    spark: SparkSession,
    sf_dir: str,
    cols: tuple[str, ...] = ("symbol", "date", "available"),
) -> DataFrame:
    """A narrow, symbol-clustered cached view of the fact table for
    window-by-symbol operators (transition_events and kin).

    InMemoryRelation preserves its child plan's outputPartitioning and
    ordering, so a handle cached as ``repartition(symbol) →
    sortWithinPartitions(symbol, date)`` satisfies a
    ``Window.partitionBy(symbol).orderBy(date)`` directly: the window
    plans with NO exchange and NO sort (measured 0.6 → 0.35 s at sf0.1).
    This is the in-memory analogue of ``writer.write_bucketed``'s
    idx_symbol_date layout — on a cluster, the bucketed table gives the
    same property across sessions. One narrow-projection copy per column
    set; built lazily on first use and shared for the session.
    """
    fact = availability_fact(spark, sf_dir)

    def build() -> DataFrame:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        return (
            fact.select(*cols)
            .repartition(n, "symbol")
            .sortWithinPartitions("symbol", "date")
        )

    # keyed on the fact handle's source identity: a testdata rewrite
    # resolves a new fact path, and availability_fact invalidates the
    # superseded one's entries
    return cached_index(
        path_key(*fact._spark_graft_source, "symbol_clustered", tuple(cols)),
        build,
    )


#: DuckDB CTE equivalent of :func:`availability_from_lineitem` — prepend to
#: oracle SQL as ``WITH da AS ({DA_SQL}) SELECT ...``.
DA_SQL = """
SELECT date,
       symbol,
       trade_count >= 2 AS available,
       -- DuckDB SUM(BIGINT) yields HUGEINT (fetched as float64); cast back
       -- so the oracle hash matches Spark's LongType (oracles.py dialect note)
       CAST(file_size_bytes AS BIGINT) AS file_size_bytes,
       CAST(date + INTERVAL 1 DAY AS TIMESTAMP) AS last_modified,
       's3://data/' || symbol || '/' || CAST(date AS VARCHAR) AS url,
       CASE WHEN trade_count >= 2 THEN 200 ELSE 404 END AS status_code,
       CAST(date AS TIMESTAMP) + INTERVAL 12 HOUR AS probe_timestamp,
       CASE WHEN file_size_bytes % 7 <> 0 THEN CAST(vol_dec AS DOUBLE) END
           AS quote_volume_usdt,
       trade_count,
       CAST(file_size_bytes AS DOUBLE) AS volume_base,
       CAST(taker_qty AS DOUBLE) AS taker_buy_volume_base,
       CAST(taker_vol_dec AS DOUBLE) AS taker_buy_quote_volume_usdt,
       CAST(min_price_dec AS DOUBLE) AS open_price,
       CAST(max_price_dec AS DOUBLE) AS high_price,
       CAST(min_price_dec AS DOUBLE) AS low_price,
       CAST(max_price_dec AS DOUBLE) AS close_price
FROM (
    SELECT CAST(l_shipdate AS DATE) AS date,
           'S' || lpad(CAST(l_suppkey AS VARCHAR), 4, '0') AS symbol,
           COUNT(*) AS trade_count,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS vol_dec,
           SUM(CAST(round(l_quantity) AS BIGINT)) AS file_size_bytes,
           SUM(CASE WHEN l_linenumber % 2 = 0
                    THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END)
               AS taker_qty,
           SUM(CASE WHEN l_linenumber % 2 = 0
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS taker_vol_dec,
           MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price_dec,
           MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS max_price_dec
    FROM lineitem
    GROUP BY 1, 2
)
""".strip()


def with_da(select_sql: str) -> str:
    """Wrap an oracle SELECT that references table ``da`` with the CTE.

    If the query already starts with its own WITH clause, splice ``da`` into
    the same CTE list (SQL does not allow nested top-level WITH).
    """
    stripped = select_sql.lstrip()
    if stripped.upper().startswith("WITH "):
        return f"WITH da AS (\n{DA_SQL}\n),\n{stripped[5:]}"
    return f"WITH da AS (\n{DA_SQL}\n)\n{select_sql}"
