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
the touched date partitions (dynamic partition overwrite), which is the
100 TB-safe path: work is proportional to the incoming dates, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_latest(
    df: DataFrame, key: list[str], version_col: str
) -> DataFrame:
    """Keep exactly one row per key — the one with the highest version.

    Ties (same version) break deterministically on the remaining column
    values, mirroring last-write-wins of INSERT OR REPLACE
    (availability_db.py:97-101).
    """
    order = [F.col(version_col).desc()] + [
        F.col(c).desc() for c in df.columns if c not in key and c != version_col
    ]
    w = Window.partitionBy(*key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


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
    """Upsert by rewriting only the partitions present in ``incoming``.
    Cost ∝ touched dates, not table size: nothing here lists or reads the
    whole table.

    The touched partition values are collected from ``incoming`` (bounded
    by the lookback window) and their ``<partition_col>=<v>`` directories
    are checked through the Hadoop FileSystem, one existence call each.

    - None exists (the common cron tick: the window is past the table's
      max date): the merge reduces to an intra-incoming dedup (latest
      version per key). Its rows are NULL-filled to the table's schema,
      read from ONE existing partition's footer, so a narrower incoming
      frame (8 probe columns into the 17-column fact table) still commits
      full-width files. One partitioned write.
    - Some exist: only those directories are read (``basePath`` keeps the
      partition column) and merged with ``incoming``. Spark cannot
      overwrite a path that is also an input of the running plan, so the
      merge is STAGED: written to a sibling directory, re-read (fresh
      lineage, no dependency on the target) and then committed.

    Every commit is a dynamic partition overwrite set on the write itself:
    only the touched partition directories of the target are replaced, and
    the session's conf is never changed.
    """
    spark = incoming.sparkSession
    root = spark_existing_path.rstrip("/")
    present = [
        d
        for d in _partition_dirs(spark, root, incoming, partition_col)
        if _exists(spark, d)
    ]
    if not present:
        # no overlap: the merge's lineage never references the target
        empty = incoming.limit(0)
        schema = _partition_schema(spark, root, partition_col)
        if schema is not None:
            empty = _widen(empty, schema)
        merged = upsert(empty, incoming, key, version_col)
        _overwrite_partitions(merged, root, partition_col)
        return
    existing = spark.read.option("basePath", root).parquet(*present)
    merged = upsert(existing, incoming, key, version_col)
    staging = root + ".__staging__"
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    try:
        _overwrite_partitions(
            spark.read.schema(merged.schema).parquet(staging),
            root,
            partition_col,
        )
    finally:
        _rm_tree(spark, staging)


def _overwrite_partitions(
    df: DataFrame, path: str, partition_col: str, mode: str = "dynamic"
) -> None:
    """Commit ``df`` partitioned by ``partition_col``. ``dynamic`` replaces
    only the partitions ``df`` holds; ``static`` replaces the whole table.
    The mode is an option of this one write, never a session conf."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", mode)
        .partitionBy(partition_col)
        .parquet(path)
    )


def _partition_dirs(
    spark, root: str, df: DataFrame, partition_col: str
) -> list[str]:
    """The ``<root>/<col>=<value>`` directory of every distinct
    ``partition_col`` value in ``df``, named exactly as Spark's writer
    names them (value cast to string in the session time zone, then
    path-escaped; NULL is the default partition)."""
    catalog = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog
    dir_name = catalog.ExternalCatalogUtils.getPartitionPathString
    values = df.select(F.col(partition_col).cast("string")).distinct()
    return [f"{root}/{dir_name(partition_col, r[0])}" for r in values.collect()]


def _partition_schema(spark, root: str, partition_col: str):
    """The table's schema (data columns + the partition column) from the
    footer of ONE of its partitions — never a listing of every partition.
    None when the table holds no partition yet."""
    fs, hroot = _hadoop_path(spark, root)
    it = fs.listStatusIterator(hroot)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(partition_col + "="):
            one = f"{root}/{name}"
            return spark.read.option("basePath", root).parquet(one).schema
    return None


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
    source's partitions are staged and committed via dynamic partition
    overwrite — cost ∝ source, exactly like ``upsert_partitioned``.
    Otherwise the whole table must be rewritten (documented degradation:
    file-level pruning of arbitrary-predicate merges is what a Delta log
    buys; parquet alone cannot know which files hold matches without
    reading them).
    """
    spark = source.sparkSession
    target = spark.read.parquet(target_path)
    pruned = partition_col in on
    if pruned:
        touched = source.select(partition_col).distinct()
        scope = target.join(F.broadcast(touched), partition_col, "left_semi")
    else:
        scope = target
    merged = merge(scope, source, on, when_matched, when_not_matched)

    staging = target_path.rstrip("/") + ".__staging__"
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    try:
        # explicit schema: a merge that deletes every scoped row stages an
        # EMPTY dataset (no part files), which schema inference rejects
        staged = spark.read.schema(merged.schema).parquet(staging)
        _overwrite_partitions(
            staged,
            target_path,
            partition_col,
            "dynamic" if pruned else "static",
        )
        if pruned:
            # dynamic overwrite only replaces partitions PRESENT in the
            # write: a touched partition whose rows were all deleted would
            # keep its old directory and resurrect the rows — remove it.
            touched_vals = {
                r[0] for r in source.select(partition_col).distinct().collect()
            }
            surviving = {
                r[0] for r in staged.select(partition_col).distinct().collect()
            }
            for v in sorted(touched_vals - surviving):
                _rm_tree(
                    spark, f"{target_path.rstrip('/')}/{partition_col}={v}"
                )
    finally:
        _rm_tree(spark, staging)


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
    semi join), re-clustered so each holds ``files_per_partition`` write
    tasks, and committed via the same staged dynamic-partition-overwrite
    discipline as ``upsert_partitioned`` — untouched partitions are
    never rewritten. Returns the compacted partition values.
    """
    stats = partition_file_stats(spark, path, partition_col)
    fragged = [
        r[partition_col]
        for r in stats.filter(F.col("n_files") > max_files).collect()
    ]
    if not fragged:
        return []
    staging = path.rstrip("/") + ".__compact__"
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
    (
        part.repartition(*shuffle_cols)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(staging)
    )
    try:
        _overwrite_partitions(spark.read.parquet(staging), path, partition_col)
    finally:
        _rm_tree(spark, staging)
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
    if not fs.exists(root):
        return []
    removed = []
    prefix = partition_col + "="
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            value = name[len(prefix):]
            if value < before:
                fs.delete(status.getPath(), True)
                removed.append(value)
    return sorted(removed)
