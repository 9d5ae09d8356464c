"""Writers: key-dedup UPSERT, partitioned parquet, matview refresh.

Parity targets:
- INSERT OR REPLACE single/batch upsert (reference
  database/availability_db.py:94-197, S2/S3 in SURVEY.md). Spark/parquet has
  no PK, so upsert = union + deterministic winner per key (latest
  ``probe_timestamp``) — exactly the idempotent-reprobe semantics the 20-day
  lookback depends on (reference .github/scripts/run_daily_update.py:41-69).
- ``daily_symbol_counts`` matview refresh (availability_db.py:219-244, A8).

Scale notes: the dedup window shuffles on the key — the same shuffle a MERGE
would do. For a date-partitioned table, ``upsert_partitioned`` rewrites ONLY
the touched date partitions, which is the 100 TB-safe path: work is
proportional to the incoming dates, not the table.

One commit path: every table built or changed in place — the upsert (a
first write, new dates and overlap alike), ``merge_into``,
``compact_partitions``, the fact materialization
(``operators.availability.materialize_fact``, also behind
``duckdb_io.import_duckdb``), the rankings archive
(``update._append_rankings``) and the streaming sinks' frozen artifacts —
commits through ``_publish``: the frame is written once to a unique
sibling ``<root>.__staging__-<uuid>``, checked, and moved into place by
Hadoop FileSystem renames. One first-write rule: a root that holds no
data (missing, or only ``_``/``.`` names such as ``_SUCCESS`` or
``_temporary``) is replaced by the whole staged directory in one rename;
any other root gains the staged partitions (each the same
delete-then-rename swap Spark's dynamic-overwrite commit performs,
without a second write of the staged bytes) or part files next to its
own, and a staged layout that does not match the root's is refused
before anything is written. Only the whole-table writers
(``write_partitioned``, ``write_bucketed``, ``write_zordered``) write
their target directly.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import DAILY_AVAILABILITY


def upsert(
    existing: DataFrame,
    incoming: DataFrame,
    key: list[str],
    version_col: str,
) -> DataFrame:
    """S2/S3 — batch UPSERT: incoming rows replace same-key existing rows.

    Incoming always beats existing on key collision regardless of version
    (matching INSERT OR REPLACE), via a precedence column that sorts after
    the version. A narrower incoming frame (e.g. 8-column probe results
    into the 17-column fact table) is legal and NULLs the unsupplied
    columns on replace — exactly what INSERT OR REPLACE with a column list
    does in the reference (availability_db.py:97-124).
    """
    tagged = existing.withColumn("__src", F.lit(0)).unionByName(
        incoming.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )
    w = Window.partitionBy(*key).orderBy(F.col("__src").desc(), F.col(version_col).desc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def write_partitioned(df: DataFrame, path: str, partition_col: str = "date") -> None:
    """Write the fact table partitioned by date — the layout that replaces
    the reference's indexes (SURVEY.md §1.4): date-equality queries prune to
    one partition; parquet min/max stats on symbol serve the timeline path.

    The input is hash-clustered on the partition column before the write
    (guide §6's shuffle-before-write / Iceberg ``write.distribution-mode=
    hash`` pattern): without it every input task opens a writer for every
    partition value it holds — up to tasks × |dates| tiny files and a long
    sequential per-task file-open tail (measured 8-10 s for a 2.5k-date
    fact at sf0.1). Clustered, each date is written by exactly one task as
    one right-sized file (2.5k files, ~4.6 s at width 32). Width scales
    with the session (cores locally, cluster parallelism via conf), never
    hard-coded; a deployment whose single partition value outgrows one
    task adds a salt column to the clustering key (guide §2.5)."""
    spark = df.sparkSession
    width = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    (
        df.repartition(width, partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "symbol",
    n_buckets: int = 64,
    sort_cols: tuple[str, ...] = ("symbol", "date"),
    path: str | None = None,
) -> None:
    """Bucketed + sorted table — the Spark-native form of the reference's
    ``idx_symbol_date`` secondary index (schema.py:101-116).

    Rows are hash-clustered into ``n_buckets`` files by ``bucket_col`` and
    sorted within each bucket, so every per-symbol operation downstream —
    timeline scans, the rankings window cluster, self-joins on symbol —
    reads data already hash-distributed and sorted: Catalyst plans them
    with NO exchange on the bucket column. Pick ``n_buckets`` so one
    bucket ≈ one task's worth of data at table scale; date partitioning
    (write_partitioned) and bucketing compose for the two access paths.
    """
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(*sort_cols)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def upsert_partitioned(
    spark_existing_path: str,
    incoming: DataFrame,
    key: list[str],
    version_col: str,
    partition_col: str = "date",
) -> None:
    """Upsert into the fact table by rewriting only the partitions present
    in ``incoming``. Cost ∝ touched dates, not table size: nothing here
    lists or reads the whole table.

    The touched partition values are collected from ``incoming`` (bounded
    by the lookback window) and their ``<partition_col>=<v>`` directories
    are checked through the Hadoop FileSystem, one existence call each.
    Only the ones that exist — possibly none — are read (``basePath``
    keeps the partition column, old 8-column partitions read back
    NULL-filled), merged with ``incoming`` (latest version per key) and
    committed by ``_publish``: the merge is written once to a unique
    staging sibling and each staged partition is renamed into place. The
    merge is NULL-filled to the declared ``DAILY_AVAILABILITY``, so a
    narrower incoming frame (8 probe columns into the 17-column fact
    table) still commits full-width files, and a frame that does not match
    the declared schema is refused before anything is written. On a
    missing table ``_publish`` makes the staged directory the table, its
    ``_SUCCESS`` marker (``table_exists``) included; a table of data files
    (``materialize_fact``'s layout) is refused before anything is written.
    """
    spark = incoming.sparkSession
    root = spark_existing_path.rstrip("/")
    dirs = (
        f"{root}/{n}" for n in _partition_names(spark, incoming, partition_col)
    )
    present = [d for d in dirs if _exists(spark, d)]
    if present:
        existing = (
            spark.read.schema(DAILY_AVAILABILITY)
            .option("basePath", root)
            .parquet(*present)
        )
    else:
        # the merge's lineage never references the target
        existing = _widen(incoming.limit(0), DAILY_AVAILABILITY)
    merged = upsert(existing, incoming, key, version_col)
    _publish(merged, root, DAILY_AVAILABILITY, partition_col)


def _check_schema(df: DataFrame, schema) -> None:
    """Refuse ``df`` unless its columns are exactly ``schema``'s, by name
    and type (order and nullability aside) — a check of the frame's
    schema, no file is opened."""
    got = {f.name: f.dataType for f in df.schema.fields}
    want = {f.name: f.dataType for f in schema.fields}
    if got != want:
        diff = sorted(
            n for n in got.keys() | want.keys() if got.get(n) != want.get(n)
        )
        raise ValueError(f"frame does not match the table schema: {diff}")


def _publish(
    df: DataFrame,
    root: str,
    schema=None,
    partition_col: str | None = None,
    drop=(),
    check=None,
) -> list[str]:
    """Write ``df`` ONCE to a unique sibling ``<root>.__staging__-<uuid>``
    and move it into ``root`` with Hadoop FS renames; the staging
    directory is removed whatever happens. Returns the published names.

    - ``schema``: the table's declared schema; a frame that does not match
      it is refused before anything is written.
    - The staged layout is ``<partition_col>=<v>`` directories, or data
      files without ``partition_col``. A ``root`` whose data is of the
      other kind (files beside staged directories, directories beside
      staged files) is refused before anything is written.
    - A ``root`` that holds no data — missing, or only ``_``/``.`` names
      such as ``_SUCCESS`` or ``_temporary`` — is replaced by the whole
      staged directory in one rename, its ``_SUCCESS`` marker included:
      the table's first write.
    - Otherwise each staged directory replaces its target (delete, then
      rename: the per-partition swap of Spark's dynamic-overwrite commit,
      so the crash window is the same), and a name in ``drop`` that was
      not staged is deleted; staged data files are added to ``root`` (an
      append: part-file names are unique per job). Nothing else of
      ``root`` is ever deleted.
    - ``check()`` runs after the write, before anything is published; a
      falsy return publishes nothing.
    """
    if schema is not None:
        _check_schema(df, schema)
    spark = df.sparkSession
    root = root.rstrip("/")
    fs, dst = _hadoop_path(spark, root)
    staged_dirs = partition_col is not None
    held = _data_entries(fs, dst)
    if any(is_dir != staged_dirs for is_dir in held.values()):
        raise ValueError(f"{root} is not laid out as staged ({partition_col=})")
    staging = _staging_path(root)
    out = df.write
    if partition_col is not None:
        out = out.partitionBy(partition_col)
    try:
        out.parquet(staging)
        if check is not None and not check():
            return []
        src = _hadoop_path(spark, staging)[1]
        if not held:
            fs.mkdirs(dst.getParent())
            _swap(fs, src, dst)
            return [dst.getName()]
        names = list(_data_entries(fs, src))
        Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        for name in names:
            _swap(fs, Path(src, name), Path(dst, name))
        for name in sorted(set(drop) - set(names)):
            fs.delete(Path(dst, name), True)
        return names
    finally:
        _rm_tree(spark, staging)


def _data_entries(fs, path) -> dict[str, bool]:
    """``{name: is_directory}`` of the entries directly under ``path``
    that hold data — every name but the ``_``/``.`` ones (markers,
    checksums, a crashed job's ``_temporary``); one listing, no file
    opened, empty when ``path`` is missing."""
    if not fs.exists(path):
        return {}
    return {
        st.getPath().getName(): st.isDirectory()
        for st in fs.listStatus(path)
        if not st.getPath().getName().startswith(("_", "."))
    }


def _staging_path(root: str) -> str:
    """A staging sibling of ``root`` no other writer uses."""
    return f"{root}.__staging__-{uuid.uuid4().hex}"


def _swap(fs, src, dst) -> None:
    """Replace ``dst`` by ``src``: delete, then rename."""
    fs.delete(dst, True)
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


def _partition_names(spark, df: DataFrame, partition_col: str) -> list[str]:
    """The ``<col>=<value>`` directory name of every distinct
    ``partition_col`` value in ``df``, named exactly as Spark's writer
    names them (value cast to string in the session time zone, then
    path-escaped; NULL is the default partition)."""
    catalog = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog
    dir_name = catalog.ExternalCatalogUtils.getPartitionPathString
    values = df.select(F.col(partition_col).cast("string")).distinct()
    return [dir_name(partition_col, r[0]) for r in values.collect()]


def _widen(df: DataFrame, schema) -> DataFrame:
    """``df`` with every column of ``schema`` it lacks added as a typed
    NULL, in ``schema``'s order; ``df``'s other columns follow."""
    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ],
        *[c for c in df.columns if c not in schema.fieldNames()],
    )


def merge(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
) -> DataFrame:
    """Pure MERGE combinator (the DataFrame half of ``merge_into``):
    anti/semi joins + union, no I/O — oracle-expressible SQL shape.

    See ``merge_into`` for clause semantics. The joins' right sides are
    key-distinct projections, so at scale they broadcast (same shape as
    the anti-join listings queries).
    """
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched={when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"when_not_matched={when_not_matched!r}")
    keys = source.select(*on).distinct()
    target_keys = target.select(*on).distinct()
    parts = [target.join(keys, on, "left_anti")]
    if when_matched == "update":
        parts.append(source.join(target_keys, on, "left_semi"))
    elif when_matched is None:
        parts.append(target.join(keys, on, "left_semi"))
    # when_matched == "delete": matched target rows simply do not survive
    if when_not_matched == "insert":
        parts.append(source.join(target_keys, on, "left_anti"))
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p, allowMissingColumns=True)
    # align to the target schema (source-originated rows may be narrower)
    return merged.select(*target.columns)


def merge_into(
    target_path: str,
    source: DataFrame,
    on: list[str],
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    partition_col: str = "date",
) -> None:
    """Delta-style ``MERGE INTO`` for plain parquet (SURVEY §1.4's
    alternative, minus the transaction log's ACID under concurrent
    writers — single-writer pipelines get the same end state).

    - ``when_matched="update"``: the matched target ROW SET is replaced by
      the matching source rows — set-replace (INSERT OR REPLACE) semantics,
      identical to Delta's row-wise UPDATE whenever ``on`` is a full key of
      both sides; narrower sources NULL the unsupplied columns.
      ``"delete"`` drops matched target rows; ``None`` keeps them.
    - ``when_not_matched="insert"`` appends source rows with no target
      match; ``None`` ignores them.

    Cost model: when ``partition_col`` is one of the ``on`` keys, every
    matched row lives in a partition the source also touches, so only the
    source's partitions are staged and published — cost ∝ source, exactly
    like ``upsert_partitioned``; a touched partition whose rows were all
    deleted is removed. Otherwise the whole table must be rewritten
    (documented degradation: file-level pruning of arbitrary-predicate
    merges is what a Delta log buys; parquet alone cannot know which
    files hold matches without reading them): every staged partition is
    published and every other partition of the table removed. Either way
    the merge is written once (``_publish``).
    """
    spark = source.sparkSession
    root = target_path.rstrip("/")
    target = spark.read.parquet(root)
    if partition_col in on:
        touched = source.select(partition_col).distinct()
        scope = target.join(F.broadcast(touched), partition_col, "left_semi")
        drop = _partition_names(spark, source, partition_col)
    else:
        scope = target
        drop = list(_data_entries(*_hadoop_path(spark, root)))
    merged = merge(scope, source, on, when_matched, when_not_matched)
    _publish(merged, root, target.schema, partition_col, drop)


def _hadoop_path(spark, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop FileSystem API —
    works for any scheme the table lives on (local, hdfs://, s3a://),
    where ``os.path`` / ``shutil`` calls silently see nothing."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def _exists(spark, path: str) -> bool:
    fs, hpath = _hadoop_path(spark, path)
    return bool(fs.exists(hpath))


def _rm_tree(spark, path: str) -> None:
    """Recursive delete (a shutil.rmtree would silently leak the staging
    copy on object stores)."""
    fs, hpath = _hadoop_path(spark, path)
    fs.delete(hpath, True)


def table_exists(spark, path: str) -> bool:
    """True when ``path`` holds a committed table (its ``_SUCCESS`` marker).

    An ``os.path.exists`` check is always False for hdfs:// / s3a:// paths,
    which would make callers treat every write as the first one and
    overwrite committed data."""
    return _exists(spark, path.rstrip("/") + "/_SUCCESS")


def refresh_symbol_counts(da: DataFrame) -> DataFrame:
    """A8 — recompute the ``daily_symbol_counts`` summary (matview).

    Reference SQL: availability_db.py:219-244 (per-date total/available/
    unavailable + CURRENT_TIMESTAMP). One narrow shuffle; incremental refresh
    = filter ``da`` to touched dates first and overwrite those summary rows.
    """
    return da.groupBy("date").agg(
        F.count(F.lit(1)).alias("total_symbols"),
        F.sum(F.when(F.col("available"), 1).otherwise(0)).alias("available_count"),
        F.sum(F.when(~F.col("available"), 1).otherwise(0)).alias("unavailable_count"),
        F.current_timestamp().alias("last_updated"),
    )


def refresh_symbol_counts_incremental(
    existing_counts: DataFrame, da: DataFrame, touched_dates: list
) -> DataFrame:
    """A8 incremental — refresh summary rows ONLY for ``touched_dates``.

    The daily pipeline upserts a bounded set of dates (the 20-day lookback
    window); recomputing the whole summary scans the entire fact table for
    no reason. The literal date list makes the fact-table filter a static
    partition-pruning predicate on a date-partitioned table, so refresh
    cost is ∝ touched dates, not history length (the incremental promise
    of availability_db.py:219-244's post-batch refresh).
    """
    touched = [F.lit(d).cast("date") for d in touched_dates]
    recomputed = refresh_symbol_counts(da.filter(F.col("date").isin(touched)))
    untouched = existing_counts.filter(~F.col("date").isin(touched))
    return untouched.unionByName(recomputed)


def partition_file_stats(spark, path: str, partition_col: str = "date") -> DataFrame:
    """(partition value, n_files, n_rows) for a partitioned table — the
    health check behind compaction. One narrow scan using
    ``input_file_name()``; output is bounded by the partition count."""
    df = spark.read.parquet(path).select(
        partition_col, F.input_file_name().alias("__file")
    )
    return df.groupBy(partition_col).agg(
        F.countDistinct("__file").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def compact_partitions(
    spark,
    path: str,
    partition_col: str = "date",
    max_files: int = 1,
    files_per_partition: int = 1,
) -> list:
    """Rewrite only the partitions fragmented past ``max_files`` into
    ``files_per_partition`` files each — the SMALL-FILES problem every
    streaming/upsert sink accumulates (each micro-batch or touched-
    partition rewrite appends task-count files; a year of hourly batches
    is ~10⁴ files per partition, and at 100 TB the NameNode/listing and
    per-file open costs dominate scans long before data volume does).

    Cost ∝ fragmented partitions, not table size: the stats pass is one
    narrow scan; only offending partitions are re-read (partition-pruned
    filter), re-clustered so each holds ``files_per_partition`` write
    tasks, written once to a staging sibling and published partition by
    partition (``_publish``) — untouched partitions are never rewritten.
    Returns the compacted partition values.
    """
    stats = partition_file_stats(spark, path, partition_col)
    fragged = [
        r[partition_col]
        for r in stats.filter(F.col("n_files") > max_files).collect()
    ]
    if not fragged:
        return []
    part = spark.read.parquet(path).filter(
        F.col(partition_col).isin(fragged)
    )
    shuffle_cols = [F.col(partition_col)]
    if files_per_partition > 1:
        salt = F.pmod(
            F.hash(*[F.col(c) for c in part.columns]),
            F.lit(files_per_partition),
        )
        shuffle_cols.append(salt)
    _publish(part.repartition(*shuffle_cols), path, part.schema, partition_col)
    return fragged


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Z-ORDER data layout: cluster files along the Morton curve of two
    integer columns so parquet row-group/file min-max statistics prune
    point and range queries on EITHER column — the lakehouse layout
    trick (Delta OPTIMIZE ZORDER) for tables with two hot predicates,
    where a linear sort serves one dimension and destroys the other.

    Implementation is pure Spark: the interleave is a codegen bit
    expression (functions.interleave_bits), the layout one
    repartitionByRange + in-partition sort on the Z value — the same
    cost as a linear sorted write. Readers need no special support:
    pruning falls out of ordinary parquet stats over the clustered
    files. Scale note: range-partitioning on Z keeps file count and
    clustering independent of executor count; pick ``n_files`` ≈ table
    bytes / target file size.
    """
    from ..functions import interleave_bits

    z = interleave_bits(F.col(col_a), F.col(col_b), bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def expire_partitions(
    spark,
    path: str,
    before: str,
    partition_col: str = "date",
) -> list:
    """Retention enforcement: drop every ``<partition_col>=<value>``
    directory with ``value < before`` — a pure METADATA operation (list
    the table root, delete matching directories); no data file is ever
    opened, so retention on a 100 TB table costs the same as on 100 MB.

    Values compare as their directory strings: ISO dates order
    lexicographically, which is exactly why the fact table partitions on
    ISO-formatted dates. Returns the removed partition values. The same
    guard every retention job needs: a malformed ``before`` that matches
    nothing simply removes nothing.
    """
    fs, root = _hadoop_path(spark, path)
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    prefix = partition_col + "="
    removed = []
    for name in _data_entries(fs, root):
        value = name[len(prefix):]
        if name.startswith(prefix) and value < before:
            fs.delete(Path(root, name), True)
            removed.append(value)
    return sorted(removed)
