"""Table registry: parquet directories → DataFrames.

The engine's "catalog" role (reference keeps one DuckDB file,
database/availability_db.py:32-47; here a directory of parquet tables).
Also knows the driver-generated synthetic testdata layout (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings`` — one parquet file/dir per table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .index_cache import cached_index, cached_value, path_key

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _artifact_root() -> str:
    """Root of the on-disk artifacts derived from the testdata (the fact
    table, the IVF index): ``$SPARK_GRAFT_CACHE``, else ``.cache`` next to
    the imported package, so each checkout keeps its own."""
    return os.environ.get("SPARK_GRAFT_CACHE") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache"
    )


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _dir_fingerprint(path: str):
    """(name, size, mtime_ns) of every entry of ``path`` — the identity
    of one snapshot of a table directory, shared by every registry key
    over it (``index_cache.path_key`` and the ``hot:`` sweep). None for
    an unreadable/remote path (never memoized)."""
    try:
        with os.scandir(path) as entries:
            return tuple(
                sorted(
                    (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                    for e in entries
                )
            )
    except NotADirectoryError:  # single-file parquet table
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Column pruning + predicate pushdown happen at the scan
    because callers express projections/filters declaratively on the result.

    Relation handles are registry values (the engine's catalog-metadata
    cache): a fresh ``spark.read.parquet(path)`` builds a new
    InMemoryFileIndex, and the file listing + schema resolution run A
    SPARK JOB each time; resolving the same snapshot once per session is
    what any engine's catalog does. An in-place rewrite changes the
    directory fingerprint, so the next read misses and re-lists."""
    path = table_path(sf_dir, name)
    fp = _dir_fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    return cached_value(
        path_key(path, fp, "table", spark.sparkContext.applicationId),
        lambda: spark.read.parquet(path),
    )


def load_table_hot(
    spark: SparkSession, sf_dir: str, name: str, slices: int = 8
) -> DataFrame:
    """Catalog read pinned in the in-memory columnar cache, re-sliced so
    downstream scans parallelize regardless of the source file's row-group
    layout (a single-row-group parquet file yields ONE input partition —
    every aggregate over it runs single-threaded no matter the core count).
    The buffer-pool analogue for tables whole queries re-scan (the
    warehouse join family re-reads lineitem/orders/customer on every call;
    DuckDB serves the same re-reads from its buffer pool + OS page cache).

    Scale stance: pin hot DIMENSION tables and repeatedly-scanned working
    sets; a 100 TB fact stream should NOT route through here (Spark's
    storage layer would spill-evict it block by block — harmless but
    pointless). The repartition shuffle is paid once at first touch;
    filters still prune cached batches via per-batch column stats."""
    path = table_path(sf_dir, name)
    fp = _dir_fingerprint(path)
    if fp is None:
        # unfingerprintable (remote/unreadable) paths are never memoized
        # by load_table either; pinning a snapshot we could not detect
        # going stale would serve wrong rows after an in-place rewrite
        return load_table(spark, sf_dir, name)

    def pin() -> DataFrame:
        df = load_table(spark, sf_dir, name).repartition(slices)
        # source identity for index_cache.plan_key: inputFiles() is empty
        # once the CacheManager swaps in the InMemoryRelation, which would
        # silently disable derived-artifact caching over hot tables (the
        # plan_key PITFALL)
        df._spark_graft_source = (path, fp)
        return df

    return cached_index(
        path_key(path, fp, "hot", spark.sparkContext.applicationId, slices),
        pin,
    )
