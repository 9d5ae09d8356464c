"""Similarity search over embedding columns (array<float>).

North-star extension operators: brute-force cosine top-k as the correctness
baseline, random-hyperplane LSH bucketing as the scale path, and
embedding-cosine near-duplicate pairs for dedup.

Determinism: embeddings are quantized to exact integers
(functions.quantize_embedding) so dot products and norms are exactly
representable and cosine values are bit-identical across engines and across
reduction orders — which also makes results reproducible run-to-run on a
real cluster (float atomics aren't).

Scale design:
- ``ann_topk``: the query vector is a broadcast literal; the scan is a
  narrow projection + TakeOrderedAndProject (no shuffle of the corpus).
- ``cosine_pairs``: all-pairs is O(n²) — the oracle/baseline path. The LSH
  variant buckets by hyperplane sign bits first, turning the cross join
  into an equi-join on bucket; recall is traded via n_planes.
- At 100 TB, partition the corpus by bucket and broadcast the (tiny) plane
  matrix — the same plan shape Spark ML's approxSimilarityJoin uses.
"""

from __future__ import annotations

import functools
import os
import random
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import (
    cosine_from_quantized,
    gathered_sort,
    int_dot,
    md5_int60,
    quantize_embedding,
)
from ..index_cache import (
    cached_index,
    cached_value,
    invalidate,
    plan_key,
    tracked_persist,
)

def _block_cosine_fn(threshold: float):
    """Per-block-pair exact cosine kernel for applyInPandas.

    Receives both blocks' vectors (tagged by ``side``), runs one dense GEMM,
    and emits only the pairs above threshold. float64 GEMM is EXACT here:
    every product of two quantized components and every ≤64-term partial sum
    is an integer below 2^53, so BLAS reduction order cannot change the
    result — it equals the JVM integer fold and the DuckDB oracle bit-wise.
    """

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(a) == 0 or len(b) == 0:
            return empty
        am = np.asarray(a["q"].tolist(), dtype=np.float64)
        bm = np.asarray(b["q"].tolist(), dtype=np.float64)
        cos = (am @ bm.T) / (
            np.sqrt(a["nrm"].to_numpy(dtype=np.float64))[:, None]
            * np.sqrt(b["nrm"].to_numpy(dtype=np.float64))[None, :]
        )
        ia = a["vid"].to_numpy()
        ib = b["vid"].to_numpy()
        if pdf["blk_a"].iat[0] == pdf["blk_b"].iat[0]:
            mask = ia[:, None] < ib[None, :]  # diagonal block: dedupe mirror
        else:
            mask = np.ones_like(cos, dtype=bool)
        mask &= cos >= threshold
        r, c = np.nonzero(mask)
        if len(r) == 0:
            return empty
        id1, id2 = ia[r], ib[c]
        return pd.DataFrame(
            {
                "id_a": np.minimum(id1, id2),
                "id_b": np.maximum(id1, id2),
                "cosine": cos[r, c],
            }
        )

    return fn

#: default hyperplane count. SCALE RULE: expected bucket population is
#: n / 2^n_planes — pick n_planes ≈ log2(n / target_rows_per_bucket) so one
#: bucket's within-bucket self-join stays one task's worth of work
#: (8 planes = 256 buckets is sized for sf-scale corpora; 10⁹ vectors at
#: ~4k rows/bucket wants ~18 planes). ``planes(n)`` is prefix-stable, so
#: raising the width never perturbs the surviving low planes.
N_PLANES = 8
EMB_DIM = 64


def planes(n_planes: int, dim: int = EMB_DIM) -> list[list[int]]:
    """Deterministic random hyperplanes (seed 42): ``n_planes`` × ``dim``
    ints in [-1000, 1000] — exact integer dots with quantized embeddings.

    One fixed seed and sequential draws make the family PREFIX-STABLE:
    ``planes(16)[:8] == planes(8)``, so the oracle regenerates the exact
    same matrix for any width (oracles._bucket_sql takes the same
    parameter).
    """
    rng = random.Random(42)
    return [
        [rng.randint(-1000, 1000) for _ in range(dim)] for _ in range(n_planes)
    ]


#: the default-width plane matrix (kept as a constant for the oracle gate).
PLANES: list[list[int]] = planes(N_PLANES)


def _with_quantized(emb: DataFrame, vec_col: str) -> DataFrame:
    """Quantized-vector store (+exact integer norms) — a session-cached
    index artifact (index_cache): every similarity operator starts from
    it, and the interpreted quantization transform + 64-term norm fold is
    the family's most recomputed expression without the cache."""

    def build() -> DataFrame:
        q = quantize_embedding(F.col(vec_col))
        return emb.withColumn("__q", q).withColumn(
            "__norm", int_dot(F.col("__q"), F.col("__q"))
        )

    return cached_index(plan_key(emb, "quantized", vec_col), build)


def _ann_scored(
    emb: DataFrame, query_vec_id: int, id_col: str, vec_col: str
) -> DataFrame:
    """The EXACT single-probe scored stream — (id, cosine) of every
    non-query vector against the probe — session-cached (index_cache
    discipline: narrow, one row per vector). Five catalog consumers
    re-derived it per execution: ``ann_topk`` itself, the exact-baseline
    side of ``pq_recall_audit``/``rp_recall_audit``/``sq_recall_audit``,
    and ``hybrid_rrf_topk``'s semantic list — each paying the broadcast
    build job + the corpus dot-product scan for the identical stream
    (guide §1.2). The exact ranking for a FIXED audit probe is the
    baseline table an ANN deployment materializes once per audit run."""

    def build() -> DataFrame:
        base = _with_quantized(emb, vec_col)
        qrow = (
            base.filter(F.col(id_col) == query_vec_id)
            .select(
                F.col("__q").alias("__qq"), F.col("__norm").alias("__qnorm")
            )
        )
        joined = base.filter(F.col(id_col) != query_vec_id).crossJoin(
            F.broadcast(qrow)
        )
        dot = int_dot(F.col("__q"), F.col("__qq"))
        return joined.select(
            F.col(id_col),
            cosine_from_quantized(
                dot, F.col("__norm"), F.col("__qnorm")
            ).alias("cosine"),
        )

    return cached_index(
        plan_key(emb, "ann_scored", query_vec_id, id_col, vec_col), build
    )


def ann_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against one corpus vector as the query.

    ORDER BY (cos DESC, id) LIMIT k plans as TakeOrderedAndProject — no
    corpus shuffle. Deterministic tie-break on id keeps the k-boundary
    stable. Serves from the shared ``_ann_scored`` stream.
    """
    return (
        _ann_scored(emb, query_vec_id, id_col, vec_col)
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold (brute-force baseline).

    Quadratic *work* by design (it exists to validate the LSH path's
    recall), but NOT a quadratic row explosion: vectors are assigned to
    ``n_blocks`` blocks and each unordered block pair becomes one
    applyInPandas group that runs a dense GEMM over its two blocks.
    Data shipped = O(n · n_blocks) vector copies (each vector appears in
    n_blocks+1 groups), never the O(n²) pair rows — the earlier per-pair
    join shipped every 64-dim array once per pair through Arrow (2 GB at
    2 000 vectors) and evaluated an interpreted fold per row (~40 s);
    the blocked GEMM does the same exact arithmetic in ~2 s. At cluster
    scale, raise n_blocks so each block fits an executor's memory.
    """
    return cosine_pairs_blocked(emb, threshold, id_col, vec_col)


#: target rows per GEMM block for the adaptive block count: the diagonal
#: block's n_target² float64 cosine matrix is the per-task memory bound
#: (4096² × 8 B ≈ 134 MB). Override via SPARK_GRAFT_COSINE_BLOCK_ROWS for
#: executors with a different memory envelope.
COSINE_BLOCK_ROWS = int(
    os.environ.get("SPARK_GRAFT_COSINE_BLOCK_ROWS", "4096")
)

#: parallelism floor for the adaptive block count: fewer blocks than this
#: collapses the GEMM into too few applyInPandas groups to spread over
#: the shuffle width (measured: 1 block at n=2000 → one task, 1.4 s vs
#: 0.97 s for 8 blocks/36 groups at sf0.1). 8 blocks = 36 unordered
#: block pairs, the r12-tuned width.
COSINE_MIN_BLOCKS = int(
    os.environ.get("SPARK_GRAFT_COSINE_MIN_BLOCKS", "8")
)

def _vec_count(emb: DataFrame, vec_col: str) -> int:
    """|corpus| for the adaptive block count — a registry value, so a
    query does not pay a count job over the cached quantized artifact."""
    return cached_value(
        plan_key(emb, "n_vectors", vec_col),
        lambda: _with_quantized(emb, vec_col).count(),
    )


def cosine_pairs_blocked(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """Blocked-GEMM all-pairs cosine (see cosine_pairs docstring).

    ``n_blocks=None`` (default) derives the block count from the measured
    corpus size — ``max(COSINE_MIN_BLOCKS, ceil(n / COSINE_BLOCK_ROWS))``
    — so one block's pairwise GEMM fits a task's memory at ANY corpus
    size (the r12 CONSTANT block count meant blocks grew with the corpus
    and the (n/8)² per-task cosine matrix would OOM past ~10⁵ vectors —
    guide §2 scale-adaptive partitioning, §5 per-task memory), while the
    floor keeps enough groups to fill the shuffle width on small corpora
    (1 block at n=2000 measured 1.4 s vs 0.97 s for the 8-block shape).
    The pair set is invariant to the block count; group count grows as
    n_blocks²/2, which is what ``audit_sample`` bounds at production
    scale.

    On the default adaptive path the threshold-filtered pair set is
    session-cached (index_cache discipline): it is the exact similarity
    GRAPH at this threshold — sparse and byte-bounded by construction —
    and it is the audit baseline ``lsh_recall_audit`` re-derives on top
    of the catalog's own ``cosine_pairs``. The GEMM is the most
    expensive recompute in the similarity family, so the graph is built
    once per (corpus, threshold) and served to both consumers; an
    explicit ``n_blocks`` (tuning/tests) bypasses the cache.
    """
    if n_blocks is None:
        n_blocks = max(
            COSINE_MIN_BLOCKS,
            -(-_vec_count(emb, vec_col) // COSINE_BLOCK_ROWS),
        )
        out = cached_index(
            plan_key(emb, "cosine_pair_graph", threshold, id_col, vec_col),
            lambda: _cosine_pair_graph(
                emb, threshold, id_col, vec_col, n_blocks
            ),
        )
    else:
        out = _cosine_pair_graph(emb, threshold, id_col, vec_col, n_blocks)
    # threshold-filtered pairs are sparse → gathered presentation sort (a
    # range orderBy's sampling job would re-run the GEMM stage)
    return gathered_sort(out, "id_a", "id_b")


def _cosine_pair_graph(
    emb: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_blocks: int,
) -> DataFrame:
    spark = emb.sparkSession
    base = _with_quantized(emb, vec_col).select(
        F.col(id_col).alias("vid"),
        F.col("__q").alias("q"),
        F.col("__norm").alias("nrm"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "blk_a int, blk_b int",
    )
    left = base.join(
        F.broadcast(block_pairs), base["blk"] == block_pairs["blk_a"]
    ).select("blk_a", "blk_b", F.lit(0).alias("side"), "vid", "q", "nrm")
    right = base.join(
        F.broadcast(block_pairs), base["blk"] == block_pairs["blk_b"]
    ).select("blk_a", "blk_b", F.lit(1).alias("side"), "vid", "q", "nrm")
    return (
        left.unionByName(right)
        .groupBy("blk_a", "blk_b")
        .applyInPandas(
            _block_cosine_fn(threshold), "id_a long, id_b long, cosine double"
        )
    )


@functools.lru_cache(maxsize=None)
def _bucket_batch(n_planes: int = N_PLANES):
    """Arrow-batched LSH bucket id: sign bits of ``n_planes`` plane dots.

    The expression form (n interpreted `aggregate(zip_with(...))` folds per
    row = 64·n lambda evaluations each) measured ~1 s per 2 000 rows; one
    float64 GEMM against the n×64 plane matrix does the same work in
    microseconds and is exact (quantized components × plane ints: every
    product and 64-term sum is an integer < 2^53). Lazy: pandas_udf needs
    an active session. Cached per width.
    """
    from pyspark.sql.functions import pandas_udf

    plane_rows = planes(n_planes)

    @pandas_udf("long")
    def bucket_batch(q: pd.Series) -> pd.Series:
        import numpy as np

        if len(q) == 0:
            return pd.Series([], dtype="int64")
        qm = np.asarray(q.tolist(), dtype=np.float64)
        # planes are EMB_DIM-wide; lower-dim vectors project onto the
        # leading dims (missing dims contribute 0 to the dot product)
        pm = np.asarray(plane_rows, dtype=np.float64)[:, : qm.shape[1]]
        dots = qm @ pm.T  # (n, n_planes), exact integers in float64
        weights = 1 << np.arange(len(plane_rows), dtype=np.int64)
        return pd.Series(((dots > 0) * weights).sum(axis=1).astype(np.int64))

    return bucket_batch


def _bucket_expr(q_col, n_planes: int = N_PLANES):
    """LSH bucket id of a quantized vector column (Arrow-batched kernel)."""
    return _bucket_batch(n_planes)(q_col)


def _bucketed(emb: DataFrame, vec_col: str, n_planes: int = N_PLANES) -> DataFrame:
    """Quantized + LSH-bucketed table — session-cached index artifact
    shared by lsh_buckets / lsh_cosine_pairs / embedding_dedup (one entry
    per width). Falls back to an uncached plan for non-file-backed frames
    (the caller persists)."""
    return cached_index(
        plan_key(emb, "lsh_bucketed", vec_col, n_planes),
        lambda: _with_quantized(emb, vec_col).withColumn(
            "bucket", _bucket_expr(F.col("__q"), n_planes)
        ),
    )


def lsh_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """(id, bucket) — random-hyperplane signature of each embedding."""
    return _bucketed(emb, vec_col, n_planes).select(F.col(id_col), "bucket")


def lsh_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Scale-path near-dup: same-bucket candidates verified by exact cosine.

    The bucket equi-join replaces the O(n²) cross join; candidates are then
    exactly verified, so precision is 1 and recall is the LSH collision
    probability (cos ≥ threshold pairs rarely split across all planes).

    ``n_planes`` is the scale knob: expected bucket population ≈
    n / 2^n_planes, and the within-bucket self-join is quadratic in it —
    size n_planes ≈ log2(n / target_rows_per_bucket) so one bucket stays
    one task's worth of work (recall falls geometrically with extra
    planes; compensate with multi-table OR-banding when both matter).
    The DuckDB oracle takes the identical parameter
    (oracles.sql_lsh_cosine_pairs) and regenerates the same prefix-stable
    plane matrix.

    Cache lifecycle: the quantized+bucketed table stays persisted as long
    as the returned (lazy) DataFrame is referenced — it backs both join
    sides, so it cannot be unpersisted here. The handle is TRACKED
    (index_cache.tracked_persist) and lives until ``clear_indexes()``
    releases it — there is no GC fallback for SQL caches.

    The verified pair set itself is ALSO a session-cached artifact
    (sparse by the threshold, byte-bounded): it is the approximate
    similarity graph three catalog consumers derive from —
    ``lsh_cosine_pairs``, ``embedding_dedup_survivors`` (keeper
    propagation over it) and ``lsh_recall_audit`` (its n_lsh side) — so
    the bucket self-join + exact verification runs once per (corpus,
    threshold, planes), not once per consumer.
    """
    return gathered_sort(
        cached_index(
            plan_key(
                emb, "lsh_cosine_pair_graph", threshold, id_col, vec_col,
                n_planes,
            ),
            lambda: _lsh_cosine_pair_graph(
                emb, threshold, id_col, vec_col, n_planes
            ),
        ),
        "id_a",
        "id_b",
    )


def _lsh_cosine_pair_graph(
    emb: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_planes: int,
) -> DataFrame:
    # persisted: both sides of the self-join scan this; without
    # materialization each branch re-runs quantization + bucketing.
    # (persist() is a no-op when _bucketed served the session-cached,
    # already-persisted index artifact)
    base = tracked_persist(_bucketed(emb, vec_col, n_planes))
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col("__q").alias("qa"),
        F.col("__norm").alias("na"),
        "bucket",
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col("__q").alias("qb"),
        F.col("__norm").alias("nb"),
        "bucket",
    )
    dot = int_dot(F.col("qa"), F.col("qb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_from_quantized(dot, F.col("na"), F.col("nb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def table_planes(table: int, n_planes: int, dim: int = EMB_DIM) -> list[list[int]]:
    """Plane family for OR-banding table ``table``: the ``table``-th
    consecutive ``n_planes``-row slice of the single seed-42 stream —
    table 0 IS the single-table family, and every (table, n_planes) is
    reproducible by the oracle from the same two integers."""
    return planes((table + 1) * n_planes, dim)[table * n_planes :]


@functools.lru_cache(maxsize=None)
def _multi_bucket_batch(n_planes: int, n_tables: int):
    """Arrow-batched kernel: ALL tables' bucket ids in one GEMM against the
    stacked (n_tables·n_planes) × dim plane matrix, returned as one
    array<long> column (one explode downstream, not one kernel per table)."""
    from pyspark.sql.functions import pandas_udf

    stacked = [row for t in range(n_tables) for row in table_planes(t, n_planes)]

    @pandas_udf("array<long>")
    def multi_bucket(q: pd.Series) -> pd.Series:
        import numpy as np

        if len(q) == 0:
            return pd.Series([], dtype="object")
        qm = np.asarray(q.tolist(), dtype=np.float64)
        pm = np.asarray(stacked, dtype=np.float64)[:, : qm.shape[1]]
        bits = (qm @ pm.T > 0).reshape(len(qm), n_tables, n_planes)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        buckets = (bits * weights).sum(axis=2).astype(np.int64)  # (n, T)
        return pd.Series(list(buckets))

    return multi_bucket


def lsh_cosine_pairs_multi(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    n_tables: int = 2,
) -> DataFrame:
    """OR-banding near-dup: candidates collide in ANY of ``n_tables``
    independent plane families; exact-cosine verification keeps precision 1.

    THE recall knob that composes with the width knob: raising ``n_planes``
    narrows buckets (population ≈ n/2^planes — the 10⁹-corpus requirement)
    but drops single-table recall ≈ p^planes; ``n_tables`` restores it as
    1-(1-p^planes)^tables without widening any bucket. Cost is linear in
    tables (one stacked-GEMM kernel pass, one posexplode, one equi-join on
    (table, bucket)); per-pair dedup (min table) precedes verification so
    a pair colliding in several tables is verified once. The DuckDB oracle
    (oracles.sql_lsh_cosine_pairs_multi) regenerates the identical
    families from the same (table, n_planes) slices.

    The verified pair set is ALSO a session-cached artifact (sparse by
    the threshold, byte-bounded — r13, mirroring the single-table
    ``lsh_cosine_pairs`` pair graph): the posexplode + bucket self-join
    + per-pair verification otherwise re-ran per execution over the
    same cached bucketed table.
    """
    return gathered_sort(
        cached_index(
            plan_key(
                emb, "lsh_multi_pair_graph", threshold, id_col, vec_col,
                n_planes, n_tables,
            ),
            lambda: _lsh_multi_pair_graph(
                emb, threshold, id_col, vec_col, n_planes, n_tables
            ),
        ),
        "id_a",
        "id_b",
    )


def _lsh_multi_pair_graph(
    emb: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    key = plan_key(emb, "lsh_multi", vec_col, n_planes, n_tables)
    base = tracked_persist(
        cached_index(
            key,
            lambda: _with_quantized(emb, vec_col).withColumn(
                "__buckets",
                _multi_bucket_batch(n_planes, n_tables)(F.col("__q")),
            ),
        )
    )
    # the bucket join carries ONLY ids: shipping the 64-element quantized
    # arrays through the collision shuffle and first()-aggregating them
    # per pair measured 1.5× the cost of deduping narrow id pairs and
    # joining the (cached) vectors back afterwards — candidates are a
    # near-dup sliver, so the join-back sides are small and AQE broadcasts
    # them at runtime (no explicit hint: a forced broadcast pays a build
    # job that outweighs the win at any scale where this path matters)
    bands = base.select(
        F.col(id_col), F.posexplode("__buckets").alias("table", "bucket")
    )
    a = bands.select(F.col(id_col).alias("id_a"), "table", "bucket")
    b = bands.select(F.col(id_col).alias("id_b"), "table", "bucket")
    candidates = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair may collide in several tables: verify each pair ONCE
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(
        F.col(id_col).alias("id_a"), F.col("__q").alias("qa"), F.col("__norm").alias("na")
    )
    vb = base.select(
        F.col(id_col).alias("id_b"), F.col("__q").alias("qb"), F.col("__norm").alias("nb")
    )
    dot = int_dot(F.col("qa"), F.col("qb"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_from_quantized(dot, F.col("na"), F.col("nb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


#: IVF coarse-quantizer defaults: 16 cells, probe the 4 nearest.
IVF_N_CELLS = 16
IVF_NPROBE = 4


def _seed_key(emb: DataFrame, id_col: str, vec_col: str, n_cells: int):
    """Registry key of the IVF coarse quantizer over ``emb``. The plan is
    part of the key: ``emb`` and ``emb.filter(...)`` read the same files
    but have different lowest-id seeds."""
    return plan_key(emb, "ivf_seeds", id_col, vec_col, n_cells)


def _index_vectors(spark, root: str) -> DataFrame:
    """Vectors-table reader of an on-disk IVF index — a registry value:
    re-creating the reader re-lists the partition directories
    driver-side on every query (~0.15 s on local FS, worse on object
    stores); the handle is immutable and its file index caches the
    listing. Keyed under ``<root>/vectors``, so ``append_to_ivf_index``
    invalidates it."""
    vectors = root + "/vectors"
    return cached_value(
        ((vectors,), "ivf_reader"), lambda: spark.read.parquet(vectors)
    )


def _collect_seeds(base: DataFrame, id_col: str, n_cells: int, key=None):
    """The IVF coarse quantizer: the ``n_cells`` lowest-id vectors.

    Deterministic seed selection (no k-means RNG) keeps the index
    reproducible and lets the DuckDB oracle rebuild it with ``ORDER BY id
    LIMIT n``. Collecting the seeds to the driver is the IVF pattern, not a
    scale smell: the centroid table is a bounded dimension (n_cells × dim
    ints) that every IVF implementation ships to all workers. The table is
    a registry value under ``key`` (``_seed_key``): real vector indexes
    build it once and reuse it across queries.
    """

    def collect():
        import numpy as np

        rows = (
            base.orderBy(id_col)
            .limit(n_cells)
            .select("__q", "__norm")
            .collect()
        )
        if not rows:
            raise ValueError("IVF index over an empty embeddings table")
        sq = np.asarray([r["__q"] for r in rows], dtype=np.float64)
        snrm = np.asarray([r["__norm"] for r in rows], dtype=np.float64)
        return sq, snrm

    return cached_value(key, collect)


def _cell_kernel(sq, snrm):
    """Arrow-batched nearest-seed assignment: one GEMM per batch, argmax
    over exact-integer cosines (ties → lowest cell, matching the oracle's
    ``ORDER BY cos DESC, cell``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def cell_of(q: pd.Series) -> pd.Series:
        import numpy as np

        if len(q) == 0:
            return pd.Series([], dtype="int32")
        qm = np.asarray(q.tolist(), dtype=np.float64)
        cos = (qm @ sq.T) / (
            np.sqrt((qm * qm).sum(axis=1))[:, None] * np.sqrt(snrm)[None, :]
        )
        return pd.Series(np.argmax(cos, axis=1).astype(np.int32))

    return cell_of


def _ivf_assigned(
    emb: DataFrame, id_col: str, vec_col: str, n_cells: int
) -> DataFrame:
    """Session-cached IVF index artifact: quantized vectors + ``cell``.

    The nearest-seed kernel runs ONCE per (table, n_cells); every later
    ``ivf_cells`` / ``ivf_topk`` call serves from the persisted columnar
    form, so the query path is a cell filter over an InMemoryTableScan —
    never a per-query re-assignment of the corpus. The on-disk twin is
    ``write_ivf_index`` (cell-partitioned parquet, pruned by partition
    filters); this handle is its in-session analogue.
    """

    def build() -> DataFrame:
        base = _with_quantized(emb, vec_col)
        sq, snrm = _collect_seeds(
            base, id_col, n_cells, _seed_key(emb, id_col, vec_col, n_cells)
        )
        return base.withColumn("cell", _cell_kernel(sq, snrm)(F.col("__q")))

    return cached_index(plan_key(emb, "ivf_assigned", vec_col, n_cells), build)


def ivf_cells(
    emb: DataFrame,
    n_cells: int = IVF_N_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) — IVF inverted-list assignment, a narrow projection.

    At corpus scale this column is the partition key of the vector table:
    ``write_ivf_index`` clusters writes by cell, and ``ivf_topk`` prunes to
    ``nprobe`` partitions — the Spark-native analogue of a FAISS IVF index.
    Served from the session-cached assignment artifact (``_ivf_assigned``).
    """
    return _ivf_assigned(emb, id_col, vec_col, n_cells).select(id_col, "cell")


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = IVF_N_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k, IVF scale path: scan only the ``nprobe`` cells nearest
    the query instead of the whole corpus.

    Plan shape: seed matrix and probe-cell choice are driver-side over the
    bounded centroid table; the corpus side reads the session-cached
    assignment artifact (``_ivf_assigned`` — the cell kernel runs once per
    table, not per query) → filter (cell pruning, ~nprobe/n_cells of the
    data) → broadcast query row → TakeOrderedAndProject. Zero corpus
    shuffles, zero per-query re-assignment. Recall is approximate by
    construction (a true neighbor assigned to an unprobed cell is missed)
    — ``ann_topk`` is the exact baseline; raise ``nprobe`` to trade scan
    fraction for recall. For the on-disk form with partition-level pruning
    see ``write_ivf_index`` / ``ivf_topk_indexed``.
    """
    base = _with_quantized(emb, vec_col)
    sq, snrm = _collect_seeds(
        base, id_col, n_cells, _seed_key(emb, id_col, vec_col, n_cells)
    )
    qrow = base.filter(F.col(id_col) == query_vec_id).select("__q", "__norm").first()
    if qrow is None:
        raise ValueError(f"query {id_col}={query_vec_id} not found in embeddings")
    probe = _probe_cells(sq, snrm, qrow["__q"], qrow["__norm"], nprobe)
    assigned = _ivf_assigned(emb, id_col, vec_col, n_cells)
    cands = _attach_query_literals(
        assigned.filter(F.col("cell").isin(probe)).filter(
            F.col(id_col) != query_vec_id
        ),
        qrow["__q"],
        qrow["__norm"],
    )
    return _topk_from_candidates(cands, k, id_col)


def _probe_cells(sq, snrm, q_vec, q_norm, nprobe: int) -> list[int]:
    """The ``nprobe`` cells nearest the query, driver-side over the bounded
    centroid table. Same expression order as the oracle:
    dot / (sqrt(ns) * sqrt(qn)); ties broken toward the lower cell id by
    stable argsort."""
    import numpy as np

    qv = np.asarray(q_vec, dtype=np.float64)
    qn = float(q_norm)
    cos_seeds = (sq @ qv) / (np.sqrt(snrm) * np.sqrt(qn))
    return [int(c) for c in np.argsort(-cos_seeds, kind="stable")[:nprobe]]


def _attach_query_literals(df: DataFrame, qq, qn) -> DataFrame:
    """Attach the (driver-resident) query vector as constant columns.

    When the query row is already on the driver (IVF probe-cell choice
    collected it anyway), shipping it as a folded literal array removes
    the broadcast-exchange BUILD JOB a ``crossJoin(broadcast(qsel))``
    pays per query — the scan stage becomes the only job. ConstantFolding
    collapses the CreateArray of literals, so per-row cost is identical.
    """
    return df.withColumn(
        "__qq", F.array(*[F.lit(int(v)) for v in qq])
    ).withColumn("__qnorm", F.lit(int(qn)))


def _topk_from_candidates(cands: DataFrame, k: int, id_col: str) -> DataFrame:
    """ORDER BY (cos DESC, id) LIMIT k over the candidate set — plans as
    TakeOrderedAndProject; the query row arrives as broadcast ``__qq``."""
    dot = int_dot(F.col("__q"), F.col("__qq"))
    return (
        cands.select(
            F.col(id_col),
            cosine_from_quantized(dot, F.col("__norm"), F.col("__qnorm")).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _seed_table(spark, sq, snrm) -> DataFrame:
    """The ``<index>/seeds`` table of the coarse quantizer ``(sq, snrm)``:
    (cell, __q, __norm), one row per cell, in one partition."""
    return spark.createDataFrame(
        [
            (i, [int(v) for v in sq[i]], int(snrm[i]))
            for i in range(len(sq))
        ],
        "cell int, __q array<bigint>, __norm bigint",
    ).coalesce(1)


def _ivf_seed_table(
    emb: DataFrame,
    n_cells: int = IVF_N_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``<index>/seeds`` table ``write_ivf_index`` writes over
    ``emb`` (the streaming IVF sink freezes it from its first batch)."""
    sq, snrm = _collect_seeds(
        _with_quantized(emb, vec_col),
        id_col,
        n_cells,
        _seed_key(emb, id_col, vec_col, n_cells),
    )
    return _seed_table(emb.sparkSession, sq, snrm)


def write_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = IVF_N_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index ON DISK as a cell-partitioned vector table.

    Layout — the FAISS-IVF analogue in parquet:
    - ``<path>/seeds``: the bounded centroid table (cell, __q, __norm) —
      n_cells rows, read whole by every query to pick probe cells.
    - ``<path>/vectors``: (id, __q, __norm) partitioned BY CELL, so an
      ``ivf_topk_indexed`` probe reads only ``nprobe`` of the ``n_cells``
      partition directories (PartitionFilters prune the rest at planning
      time; scan cost ∝ nprobe/n_cells of the corpus, not the corpus).

    Assignment is deterministic (lowest-id seeds, exact integer cosines),
    so the index is reproducible and the DuckDB oracle can rebuild it.
    """
    base = _with_quantized(emb, vec_col)
    sq, snrm = _collect_seeds(
        base, id_col, n_cells, _seed_key(emb, id_col, vec_col, n_cells)
    )
    # rebuilt index: drop its resident seeds, readers, query rows, cells
    invalidate(path.rstrip("/"))
    _seed_table(emb.sparkSession, sq, snrm).write.mode("overwrite").parquet(
        path.rstrip("/") + "/seeds"
    )
    (
        base.withColumn("cell", _cell_kernel(sq, snrm)(F.col("__q")))
        .select(F.col(id_col), "__q", "__norm", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path.rstrip("/") + "/vectors")
    )


def append_to_ivf_index(
    emb_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign a NEW vector batch against
    the index's STORED centroids and append it to the cell-partitioned
    vector table — no rebuild, no touch of existing partitions.

    This is how IVF indexes grow in production: the coarse quantizer is
    frozen at build time (so existing assignments stay valid and probes
    stay consistent), new vectors stream in batch-by-batch, and each
    append writes only the parquet files for the batch's own rows —
    work ∝ batch size, never ∝ index size. Re-run ``write_ivf_index``
    when drift makes the frozen centroids a poor quantizer (the
    standard rebuild cadence trade). Serving entries under
    ``<path>/vectors`` are invalidated (a cached reader pins its file
    listing and would not see the appended files); the resident seeds
    under ``<path>/seeds`` are kept — seeds are immutable by construction.
    """
    spark = emb_new.sparkSession
    root = path.rstrip("/")
    sq, snrm = _read_seeds(spark, root)
    base = _with_quantized(emb_new, vec_col)
    invalidate(root + "/vectors")
    (
        base.withColumn("cell", _cell_kernel(sq, snrm)(F.col("__q")))
        .select(F.col(id_col), "__q", "__norm", "cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(root + "/vectors")
    )


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec_id: int,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k against a ``write_ivf_index`` artifact — the true scale
    path: partition pruning at the storage layer.

    The centroid table (n_cells rows) is read whole; probe-cell choice is
    driver-side; the vector scan carries ``cell IN (probe)`` as a
    PartitionFilter, so only ~nprobe/n_cells of the partition directories
    are listed and read. No assignment kernel anywhere in the query plan —
    assignment happened once at index-build time. Results are identical to
    ``ivf_topk`` over the same corpus (same seeds, same assignment).

    The query-row lookup by id scans the index (needle-in-haystack, served
    by parquet min/max stats on ``id``); at cluster scale pass the query
    embedding itself (``ivf_topk_indexed_vec``) — zero lookup jobs. The
    (tiny) centroid table is cached per index path after the first read —
    the standard resident-coarse-quantizer pattern.
    """
    root = index_path.rstrip("/")
    sq, snrm = _read_seeds(spark, root)
    vectors = _index_vectors(spark, root)
    qq, qn = _index_query_row(spark, root, id_col, query_vec_id)
    probe = _probe_cells(sq, snrm, qq, qn, nprobe)
    # query shipped as a folded literal (resolved once, cached): the only
    # job left per query is the pruned scan + TakeOrdered
    cands = _attach_query_literals(
        vectors.filter(F.col("cell").isin(probe)).filter(
            F.col(id_col) != query_vec_id
        ),
        qq,
        qn,
    )
    return _topk_from_candidates(cands, k, id_col)


def ivf_range_indexed(
    spark,
    index_path: str,
    query_vec_id: int,
    min_cosine: float,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
) -> DataFrame:
    """RANGE search against the on-disk IVF index: every vector in the
    probed cells with cosine ≥ ``min_cosine`` — (id, cosine). The other
    half of the FAISS serving surface (top-k answers "closest k"; range
    answers "everything this similar", the shape dedup sweeps and
    recall-at-threshold audits need).

    Identical plan skeleton to ``ivf_topk_indexed`` — resident centroid
    probe choice, PartitionFilters pruning to ``nprobe`` cell
    directories, query shipped as a folded literal — except the tail is
    a threshold FILTER instead of TakeOrderedAndProject: no ordering
    stage at all, so the result streams at pruned-scan speed regardless
    of how many neighbors qualify (a top-k forced through a giant k
    would heap-sort them). Same recall caveat as every IVF query:
    matches outside the probed cells are unseen; raise nprobe for
    recall.
    """
    root = index_path.rstrip("/")
    sq, snrm = _read_seeds(spark, root)
    vectors = _index_vectors(spark, root)
    qq, qn = _index_query_row(spark, root, id_col, query_vec_id)
    probe = _probe_cells(sq, snrm, qq, qn, nprobe)
    cands = _attach_query_literals(
        vectors.filter(F.col("cell").isin(probe)).filter(
            F.col(id_col) != query_vec_id
        ),
        qq,
        qn,
    )
    dot = int_dot(F.col("__q"), F.col("__qq"))
    return cands.select(
        F.col(id_col),
        cosine_from_quantized(dot, F.col("__norm"), F.col("__qnorm")).alias(
            "cosine"
        ),
    ).filter(F.col("cosine") >= min_cosine)


def _index_query_row(spark, root: str, id_col: str, query_vec_id: int):
    """(quantized vector, norm) of corpus row ``query_vec_id`` in an
    on-disk IVF index. A serving system resolves a query embedding once;
    repeat queries then cost only the pruned scan. A registry value
    under ``<root>/vectors`` (capped like every value, so serving new
    query ids forever stays flat)."""

    def lookup():
        row = (
            _index_vectors(spark, root)
            .filter(F.col(id_col) == query_vec_id)
            .select("__q", "__norm")
            .first()
        )
        if row is None:
            raise ValueError(f"query {id_col}={query_vec_id} not found in index")
        return list(row["__q"]), int(row["__norm"])

    return cached_value(
        ((root + "/vectors",), "ivf_query_row", id_col, query_vec_id), lookup
    )


def _read_seeds(spark, root: str):
    """Centroid table of a write_ivf_index artifact — a registry value
    under ``<root>/seeds``, read once per index."""

    def read():
        import numpy as np

        rows = spark.read.parquet(root + "/seeds").orderBy("cell").collect()
        sq = np.asarray([r["__q"] for r in rows], dtype=np.float64)
        snrm = np.asarray([r["__norm"] for r in rows], dtype=np.float64)
        return sq, snrm

    return cached_value(((root + "/seeds",), "ivf_seeds"), read)


def ivf_topk_indexed_vec(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k against a ``write_ivf_index`` artifact for an EXTERNAL
    query embedding (not a corpus row) — the serving path at cluster scale.

    The raw float vector is quantized driver-side with the same transform
    the index used (functions.quantize_embedding semantics: round(x·1e6)),
    probe cells are chosen against the resident centroid table, and the
    corpus side is the identical pruned scan as ``ivf_topk_indexed`` with
    the query shipped as a broadcast literal — ZERO driver lookup jobs, one
    pruned scan per query.
    """
    import numpy as np

    from ..functions import EMB_SCALE

    root = index_path.rstrip("/")
    sq, snrm = _read_seeds(spark, root)
    qq = [int(v) for v in np.round(np.asarray(query_vec, dtype=np.float64) * EMB_SCALE)]
    qn = int(np.dot(qq, qq))
    if qn == 0:
        raise ValueError("query vector has zero norm")
    probe = _probe_cells(sq, snrm, qq, qn, nprobe)
    vectors = _index_vectors(spark, root)
    cands = _attach_query_literals(
        vectors.filter(F.col("cell").isin(probe)), qq, qn
    )
    return _topk_from_candidates(cands, k, id_col)


def _probe_kernel(sq, snrm, nprobe: int):
    """Arrow-batched probe-cell choice for a BATCH of queries: one GEMM
    per batch, stable argsort over exact-integer cosines (ties → lowest
    cell, same rule as ``_probe_cells``) → the ``nprobe`` nearest cells."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probes_of(q: pd.Series) -> pd.Series:
        import numpy as np

        if len(q) == 0:
            return pd.Series([], dtype=object)
        qm = np.asarray(q.tolist(), dtype=np.float64)
        cos = (qm @ sq.T) / (
            np.sqrt((qm * qm).sum(axis=1))[:, None] * np.sqrt(snrm)[None, :]
        )
        idx = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in idx])

    return probes_of


def _seeds_digest(sq, snrm) -> str:
    """Content digest of a centroid table — the probe-cache tag. Two
    indexes with byte-identical seeds produce identical probe rows, so
    they legitimately share one cached probe artifact."""
    import hashlib

    import numpy as np

    h = hashlib.md5()
    h.update(np.ascontiguousarray(sq).tobytes())
    h.update(np.ascontiguousarray(snrm).tobytes())
    return h.hexdigest()


def _knn_probes(
    queries: DataFrame,
    sq,
    snrm,
    nprobe: int,
    id_col: str,
    vec_col: str,
    seeds_tag: str,
) -> DataFrame:
    """Session-cached query-side probe assignment: (query_id, __qq,
    __qnorm, cell) — |Q|·nprobe rows. The Arrow-batched probe GEMM (a
    Python-worker launch per execution) runs ONCE per (query set, seeds,
    nprobe); every later ``knn_join``/``knn_join_indexed`` over the same
    batch serves the exploded probe rows from the persisted columnar
    form — the query-side twin of ``_ivf_assigned`` (r8 verdict #4: the
    warm knn path re-ran this kernel on every call). ``seeds_tag``
    folds the centroid identity into the key: the same query set probed
    against a different index must not share an entry, while the
    in-session and on-disk paths DO share one when their seeds are
    byte-identical (callers pass a content digest of the seed matrix —
    knn_join and knn_join_indexed over the same corpus then persist the
    probe frame once, not twice)."""

    def build() -> DataFrame:
        qbase = queries.select(
            F.col(id_col).alias("query_id"),
            quantize_embedding(F.col(vec_col)).alias("__qq"),
        ).withColumn("__qnorm", int_dot(F.col("__qq"), F.col("__qq")))
        return qbase.withColumn(
            "__probe", _probe_kernel(sq, snrm, nprobe)(F.col("__qq"))
        ).select(
            "query_id", "__qq", "__qnorm", F.explode("__probe").alias("cell")
        )

    key = (
        None
        if seeds_tag is None
        else plan_key(queries, "knn_probes", vec_col, nprobe, seeds_tag)
    )
    return cached_index(key, build)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = IVF_N_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch ANN: top-``k`` corpus neighbors for EVERY query vector —
    (query_id, vec_id, cosine, knn_rank). Self-matches (same id on both
    sides) are excluded, mirroring ``ann_topk``.

    This is the many-query shape a training pipeline actually runs
    (cross-dataset dedup, retrieval labeling, eval-set mining) — point
    lookups (``ivf_topk``) don't amortize; this joins the whole query set
    against the IVF-pruned corpus in one plan.

    Scale shape: the corpus side is the session-cached IVF assignment
    artifact (cell kernel runs once per table, NOT per query batch). Each
    query row picks its ``nprobe`` probe cells in one Arrow-batched GEMM
    (``_probe_kernel``) and explodes to (query, cell) rows — the query
    side stays ``|Q|·nprobe`` rows and is BROADCAST, so the corpus is
    never shuffled by cell. Candidates are ``|Q| · nprobe/n_cells`` of
    the corpus; the only data shuffle is the per-query top-k window
    partitioned by query_id, which distributes across queries. Both
    kernels and the cosine are exact-integer arithmetic → the DuckDB
    oracle matches bit-for-bit.
    """
    assigned = _ivf_assigned(corpus, id_col, vec_col, n_cells)
    base = _with_quantized(corpus, vec_col)
    skey = _seed_key(corpus, id_col, vec_col, n_cells)
    sq, snrm = _collect_seeds(base, id_col, n_cells, skey)
    probes = _knn_probes(
        queries,
        sq,
        snrm,
        nprobe,
        id_col,
        vec_col,
        None if skey is None else _seeds_digest(sq, snrm),
    )
    ranked = _knn_ranked(
        probes,
        assigned,
        id_col,
        plan_key(
            queries,
            "knn_ranked",
            vec_col,
            nprobe,
            None if skey is None else _seeds_digest(sq, snrm),
        )
        if skey is not None
        else None,
    )
    return ranked.filter(F.col("knn_rank") <= k)


def _knn_ranked(probes, corpus_side, id_col: str, key) -> DataFrame:
    """The session-cached kNN GRAPH for a query batch: every candidate
    with its exact cosine and per-query rank — k-independent, so one
    artifact serves any ``k`` (the standard kNN-graph materialization a
    dedup/retrieval pipeline builds once and slices many times). The
    probe join, integer scoring, and per-query rank window all run ONCE
    per (query set, seeds, nprobe); a warm ``knn_join`` call is an
    InMemoryTableScan + rank filter — zero shuffles, zero Python, one
    job. Size is |Q| · nprobe/n_cells · |corpus| rows — proportional to
    the caller's query batch, the same bound as the per-call plan's
    shuffle. ``key=None`` (non-file-backed inputs) computes directly."""

    def build() -> DataFrame:
        cands = corpus_side.join(F.broadcast(probes), "cell").filter(
            F.col(id_col) != F.col("query_id")
        )
        dot = int_dot(F.col("__q"), F.col("__qq"))
        scored = cands.select(
            "query_id",
            F.col(id_col),
            cosine_from_quantized(
                dot, F.col("__norm"), F.col("__qnorm")
            ).alias("cosine"),
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col(id_col)
        )
        return scored.withColumn(
            "knn_rank", F.row_number().over(w).cast("int")
        )

    return cached_index(key, build)


def knn_join_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch ANN against a ``write_ivf_index`` artifact — ``knn_join``
    served from the ON-DISK cell-partitioned index with storage-level
    pruning: (query_id, vec_id, cosine, knn_rank).

    The cross-dataset shape at cluster scale: a frozen corpus index on
    object storage, a new dataset's vectors as the query side. Probe
    cells are chosen per query by the same Arrow-batched GEMM as
    ``knn_join`` (against the resident centroid table); the DISTINCT
    union of all probe cells — bounded by ``n_cells``, a one-job
    bounded collect, the partition-pruning handshake — becomes a
    ``cell IN (...)`` PartitionFilter on the vectors table, so only the
    union's partition directories are listed and read. Candidates then
    narrow per query via the broadcast (query, cell) equi-join exactly
    like the in-session path; no assignment kernel anywhere. Results are
    identical to ``knn_join`` over the same corpus (same seeds, same
    assignment), so it shares its oracle.
    """
    root = index_path.rstrip("/")
    sq, snrm = _read_seeds(spark, root)
    # probe rows are the session-cached artifact (_knn_probes) keyed on
    # (query set, index root, nprobe) — the Arrow probe GEMM runs once
    # per batch, not per call; superseded entries are swept by
    # cached_index when the query table's files disappear.
    probes = _knn_probes(
        queries, sq, snrm, nprobe, id_col, vec_col, _seeds_digest(sq, snrm)
    )
    # the bounded cell-union collect is additionally a registry value
    # per (index, query set, nprobe) — repeat serves skip the collect job.
    qpk = plan_key(queries, "knn_cells", vec_col, str(nprobe))
    cells = cached_value(
        None if qpk is None else ((root + "/vectors", *qpk[0]), *qpk[1:]),
        lambda: [
            int(r["cell"]) for r in probes.select("cell").distinct().collect()
        ],
    )
    vectors = _index_vectors(spark, root).filter(F.col("cell").isin(cells))
    # ranked-graph artifact keyed with the index ROOT (not just the seed
    # digest): the disk-pruned build plan stays distinct from knn_join's
    # in-session build, so the partition-pruning path is genuinely
    # exercised whenever THIS artifact is cold
    ranked = _knn_ranked(
        probes,
        vectors,
        id_col,
        plan_key(
            queries,
            "knn_ranked_indexed",
            vec_col,
            nprobe,
            _seeds_digest(sq, snrm),
            root,
        ),
    )
    return ranked.filter(F.col("knn_rank") <= k)


def embedding_dedup_survivors(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Embedding-cosine near-dup DEDUP: ids surviving greedy lowest-id-wins.

    Completes the dedup family (exact / Jaccard / MinHash / SimHash /
    embedding-cosine): any vector whose embedding matches a lower id at
    cosine ≥ threshold is dropped. Greedy pairwise survivorship (standard
    LSH-dedup policy), not connected components — B dropped for A and C
    dropped for B can both happen even if cos(A,C) < threshold. Candidates
    come from the hyperplane-LSH bucket join, so the scale shape is the
    ``lsh_cosine_pairs`` one plus a broadcast-able anti-join on the (small)
    duplicate-id set.
    """
    pairs = lsh_cosine_pairs(emb, threshold, id_col, vec_col, n_planes)
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
    # no output sort: survivors are corpus-sized (most of the table) — a
    # global orderBy's sampling pass would re-run the LSH pipeline;
    # presentation surfaces order the bounded slice they show
    return emb.join(dups, id_col, "left_anti").select(id_col)


def kmeans_cells(
    emb: DataFrame,
    n_cells: int = IVF_N_CELLS,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd) refinement of the IVF coarse quantizer:
    (vec_id, cell) after ``n_iters`` assignment→update rounds from the
    deterministic lowest-id seeds.

    Every round is ENGINE-EXACT, which is what makes an iterative
    clustering gate-checkable at all: cosine to a cell's MEAN equals
    cosine to its integer SUM vector (the 1/count scale cancels in the
    normalization), so centroids never leave integer space — the
    assignment kernel is the same exact-GEMM argmax as round zero
    (``_cell_kernel``: integer dots < 2^53, per-side sqrt, ties to the
    lowest cell), and the update is one posexplode + SUM aggregate.

    Scale shape per round: one Arrow-batched assignment pass over the
    cached quantized table (no shuffle), one (cell, dim) aggregate —
    n_cells×dim output, the bounded centroid collect every k-means
    implementation ships between rounds. Driver state is 2 numpy arrays
    of n_cells×dim ints. Cells that lose all members retain their
    previous sum vector (the standard empty-cluster rule, mirrored in
    the oracle). Magnitude headroom: centroid NORMS are square-summed in
    exact Python ints (f64 squares of per-dim sums lose exactness at
    cell populations of only ~10²); the assignment GEMM's exactness
    bound is the dot q·c ≈ dim·pop·scale² < 2^53 — with dim 64 and
    scale 1e6 that holds to ~10⁵ members per cell, past which use a
    coarser quantization or per-cell mean rescale.
    """
    def assign() -> DataFrame:
        base = _with_quantized(emb, vec_col)
        sq, snrm = _trained_centroids(
            base, emb, n_cells, n_iters, id_col, vec_col
        )
        return base.withColumn(
            "cell", _cell_kernel(sq, snrm)(F.col("__q"))
        ).select(id_col, "cell")

    # the (id, cell) ASSIGNMENT table is itself a session-cached artifact
    # (the `_ivf_assigned` discipline — narrow, one row per vector):
    # kmeans_cells and cluster_purity each consumed a fresh Arrow
    # assignment pass over the corpus; the trained-model cache made that
    # pass collect-free, this makes it once-per-corpus.
    return cached_index(
        plan_key(emb, "kmeans_assigned", n_cells, n_iters, id_col, vec_col),
        assign,
    )


def _trained_centroids(
    base: DataFrame,
    emb: DataFrame,
    n_cells: int,
    n_iters: int,
    id_col: str,
    vec_col: str,
):
    """Lloyd-refined (sum-vector, norm) centroid tables for
    ``kmeans_cells`` and its riders (cluster_purity, semantic_dedup).

    The training loop — n_iters × (Arrow assignment pass + (cell, dim)
    aggregate collect) — is a pure function of the embeddings table and
    the (n_cells, n_iters) knobs, so the fitted model is session-cached
    exactly like the untrained seed table (``_collect_seeds``): first call per
    corpus pays the rounds, every rider serves assignments from the
    cached n_cells×dim integer array — the fitted quantizer MODEL, the
    train-once/serve-many artifact every IVF deployment persists, kept
    as a registry value. In-memory (test) frames have no file key and
    never cache.
    """
    seed_key = _seed_key(emb, id_col, vec_col, n_cells)
    return cached_value(
        None if seed_key is None else seed_key + ("lloyd", n_iters),
        lambda: _train_centroids(base, id_col, n_cells, n_iters, seed_key),
    )


def _train_centroids(base, id_col: str, n_cells: int, n_iters: int, seed_key):
    """The Lloyd rounds of ``_trained_centroids``, from the IVF seeds."""
    import numpy as np

    sq, snrm = _collect_seeds(base, id_col, n_cells, seed_key)
    sq = sq.copy()
    for _ in range(n_iters):
        assigned = base.withColumn("cell", _cell_kernel(sq, snrm)(F.col("__q")))
        sums = (
            assigned.select("cell", F.posexplode("__q").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.sum("v").alias("sv"))
            .collect()
        )
        # copy retains previous centroids for cells that lost all members
        # (an emptied cell simply has no (cell, dim) rows to overwrite)
        new_sq = sq.copy()
        for r in sums:
            new_sq[r["cell"], r["dim"]] = r["sv"]
        sq = new_sq
        # centroid norms from EXACT integers: (count·1e6)² blows the f64
        # 2^53 mantissa at cell populations ~100, so square-sum in Python
        # ints (the oracle's exact SUM(sv·sv)) and round ONCE to double —
        # the same single rounding DuckDB's sqrt(HUGEINT) applies.
        snrm = np.asarray(
            [float(sum(int(v) * int(v) for v in row)) for row in sq],
            dtype=np.float64,
        )
    return sq, snrm


def audit_sample(
    emb: DataFrame,
    sample_ppm: int | None,
    id_col: str = "vec_id",
    salt: str = "audit-v1",
    keep_id: int | None = None,
) -> DataFrame:
    """Deterministic hash-bucket sample of the vector corpus for the
    recall audits — the same salted-md5 per-million discipline as
    ``textops.corpus_split`` (pure function of the id: run-stable,
    growth-stable, engine-portable), so an audit whose exact baseline
    is quadratic (LSH) or full-rank (PQ/RP) stays runnable at
    production corpus sizes. ``keep_id`` survives the filter
    unconditionally (the probe vector of a top-k audit must stay in
    its own corpus). ``None`` = no sampling (the full audit)."""
    if sample_ppm is None:
        return emb
    if not 0 < sample_ppm <= 1_000_000:
        raise ValueError(
            f"sample_ppm must be in (0, 1000000], got {sample_ppm}"
        )
    bucket = (
        md5_int60(
            F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
        )
        % 1_000_000
    )
    cond = bucket < F.lit(sample_ppm)
    if keep_id is not None:
        cond = cond | (F.col(id_col) == F.lit(keep_id))
    return emb.filter(cond)


def lsh_recall_audit(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    sample_ppm: int | None = None,
) -> DataFrame:
    """Recall measurement for the LSH scale path: one row — (n_exact,
    n_lsh, n_matched, recall) comparing ``lsh_cosine_pairs`` against the
    exact ``cosine_pairs`` baseline at the same threshold. The audit
    every LSH deployment runs before trusting a width setting: the
    n_planes knob trades recall for bucket population, and this
    operator turns that trade into a measured number instead of a
    guess.

    LSH verification is exact, so LSH pairs ⊆ exact pairs (precision 1
    by construction — the audit asserts it as n_matched == n_lsh) and
    recall = n_lsh / n_exact. Shape: both pair pipelines run once (each
    with its own documented scale shape), joined on the (sparse) pair
    key; the audit output is a single aggregate row.

    The exact baseline is the quadratic one being audited, so at
    production scale pass ``sample_ppm`` (``audit_sample`` — salted-md5
    hash bucket of the corpus): the audit then measures recall over the
    sampled sub-corpus, an unbiased estimate because the hash sample is
    independent of both the plane family and the vector geometry.
    """
    emb = audit_sample(emb, sample_ppm, id_col)
    e = cosine_pairs(emb, threshold, id_col, vec_col).select(
        "id_a", "id_b", F.lit(1).alias("__e")
    )
    l = lsh_cosine_pairs(emb, threshold, id_col, vec_col, n_planes).select(
        "id_a", "id_b", F.lit(1).alias("__l")
    )
    j = e.join(l, ["id_a", "id_b"], "full_outer")
    return j.agg(
        F.sum(F.coalesce("__e", F.lit(0))).cast("long").alias("n_exact"),
        F.sum(F.coalesce("__l", F.lit(0))).cast("long").alias("n_lsh"),
        F.sum(
            F.when(F.col("__e").isNotNull() & F.col("__l").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_matched"),
    ).withColumn(
        "recall",
        F.col("n_matched").cast("double") / F.col("n_exact"),
    )


def _label_centroid_rows(emb: DataFrame, vec_col: str, label_col: str):
    """Collected (label, dim) integer sum/count rows — the bounded
    per-label centroid MODEL (#labels×dim ints, the class-mean table a
    nearest-class-mean deployment trains once and serves) shared by
    centroid_confusion / centroid_outliers / label_centroids as one
    registry value; in-memory frames never cache."""
    return cached_value(
        plan_key(emb, "label_centroid_rows", vec_col, label_col),
        lambda: _with_quantized(emb, vec_col)
        .select(
            F.col(label_col).alias("__lbl"),
            F.posexplode(F.col("__q")).alias("dim", "v"),
        )
        .groupBy("__lbl", "dim")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("cv"))
        .collect(),
    )


def centroid_confusion(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-class-mean evaluation: assign every vector to the label
    whose centroid it is most cosine-similar to, and roll up the
    confusion matrix — (label, predicted_label, n). The embedding-space
    sanity check every labeled corpus gets (how separable are the
    classes? which pairs bleed?), and the auto-labeling primitive for
    weakly-supervised expansion.

    Engine-exact by the same identity as ``kmeans_cells``: cosine to a
    class MEAN equals cosine to its integer SUM vector, so the per-label
    centroids are one posexplode aggregate collected as a bounded
    #labels×dim table (broadcast into the assignment kernel), and the
    assignment is the exact-GEMM argmax with ties to the lowest label.
    One narrow Arrow pass + one tiny (label, predicted) aggregate. The
    collected model is the shared session-cached
    ``_label_centroid_rows`` artifact (one aggregate+collect per corpus,
    not one per consumer).
    """
    import numpy as np

    base = _with_quantized(emb, vec_col)
    sums = _label_centroid_rows(emb, vec_col, label_col)
    labels = sorted({r["__lbl"] for r in sums})
    dim = max(r["dim"] for r in sums) + 1
    lq = np.zeros((len(labels), dim), dtype=np.float64)
    pos = {lb: i for i, lb in enumerate(labels)}
    for r in sums:
        lq[pos[r["__lbl"]], r["dim"]] = r["sv"]
    # exact-integer norms (same 2^53 discipline as kmeans_cells)
    lnrm = np.asarray(
        [float(sum(int(v) * int(v) for v in row)) for row in lq],
        dtype=np.float64,
    )
    lbl_arr = np.asarray(labels)

    # the UDF's return type follows the LABEL column's type — labels may
    # be strings or any integer width, not just int32
    lbl_type = emb.schema[label_col].dataType.simpleString()
    np_cast = {
        "tinyint": np.int8,
        "smallint": np.int16,
        "int": np.int32,
        "bigint": np.int64,
    }.get(lbl_type)
    if np_cast is None and lbl_type != "string":
        raise ValueError(
            f"centroid_confusion: unsupported label type {lbl_type!r} "
            "(integer or string labels only)"
        )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(lbl_type)
    def predict(q: pd.Series) -> pd.Series:
        if len(q) == 0:
            return pd.Series([], dtype="object" if np_cast is None else np_cast)
        qm = np.asarray(q.tolist(), dtype=np.float64)
        cos = (qm @ lq.T) / (
            np.sqrt((qm * qm).sum(axis=1))[:, None] * np.sqrt(lnrm)[None, :]
        )
        picked = lbl_arr[np.argmax(cos, axis=1)]
        return pd.Series(picked if np_cast is None else picked.astype(np_cast))

    return (
        base.withColumn("predicted_label", predict(F.col("__q")))
        .groupBy(F.col(label_col).alias("label"), "predicted_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def semantic_dedup_survivors(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = IVF_N_CELLS,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster the corpus coarsely (the IVF
    cell assignment), run exact pairwise cosine ONLY within each cluster,
    and drop every vector that matches a lower id at ≥ ``threshold``.

    This is the published SemDeDup recipe (k-means + within-cluster
    pairwise pruning) re-expressed on the engine's IVF artifact: the
    coarse quantizer is shared with ``ivf_topk``/``write_ivf_index``, so
    the cluster assignment is computed once per (table, n_cells) and the
    dedup pass adds no new corpus-wide kernel. Within-cluster pairs run
    as ONE dense GEMM per cell in an Arrow-batched applyInPandas —
    float64 GEMM over quantized integers is exact (every partial sum an
    integer < 2^53; see _block_cosine_fn), and the denominator multiplies
    per-side sqrts in the oracle's exact order.

    Scale shape: ``n_cells`` bounds the quadratic — per-cell population
    ≈ n / n_cells, and cells are independent tasks, so sizing n_cells ≈
    n / target_cluster_size keeps each GEMM one task's worth of work
    (SemDeDup itself runs ~100k clusters at web scale). The kernel emits
    only duplicate IDS (not pairs), so the shuffle back is bounded by the
    dup count; survivors come from one broadcast-able left_anti join.
    Unlike ``embedding_dedup_survivors`` (hyperplane-LSH candidates,
    recall < 1 across buckets), the cluster scope makes dedup decisions
    local by construction — the trade SemDeDup documents.
    """
    assigned = _ivf_assigned(emb, id_col, vec_col, n_cells)

    def dup_ids(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"vid": pd.Series([], dtype="int64")})
        ids = pdf["__id"].to_numpy()
        q = np.asarray(pdf["__q"].tolist(), dtype=np.float64)
        rt = np.sqrt(pdf["__norm"].to_numpy(dtype=np.float64))
        cos = (q @ q.T) / (rt[:, None] * rt[None, :])
        i, j = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
        if len(j) == 0:
            return pd.DataFrame({"vid": pd.Series([], dtype="int64")})
        return pd.DataFrame({"vid": np.unique(ids[j])})

    # The duplicate-id SET for a fixed (corpus, threshold, n_cells) is the
    # SemDeDup removal list a deployment materializes once — sparse
    # (bounded by the dup mass) — so it is session-cached (r13): the
    # per-cell GEMM kernel otherwise re-ran per execution over the same
    # cached assignment. In-memory corpora (plan_key None) bypass.
    dups = cached_index(
        plan_key(emb, "semdedup_dups", threshold, id_col, vec_col, n_cells),
        lambda: (
            assigned.select(
                F.col(id_col).alias("__id"), "__q", "__norm", "cell"
            )
            .groupBy("cell")
            .applyInPandas(dup_ids, "vid long")
            .select(F.col("vid").alias(id_col))
            .distinct()
        ),
    )
    # survivors are corpus-sized — no output sort (see
    # embedding_dedup_survivors); the dup side is bounded and broadcasts
    return emb.join(dups, id_col, "left_anti").select(id_col)


def label_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid of quantized embeddings, long format
    (label, dim, mean_value) — exact integer sums, deterministic means.

    Demonstrates vector aggregation without UDFs: posexplode to (label,
    dim, value) then integer-sum per (label, dim). Long format keeps the
    output scalar-typed (hashable by the oracle gate); ``F.transform`` +
    ``array_sort`` can rebuild vectors when needed.

    Serves from the shared ``_label_centroid_rows`` model (the same
    bounded #labels×dim integer sums centroid_confusion /
    centroid_outliers broadcast), so the corpus aggregate runs once per
    session; the mean stays the identical Spark-side double division
    over the exact integer (sum, count) pairs.
    """
    def build() -> DataFrame:
        rows = _label_centroid_rows(emb, vec_col, label_col)
        lbl_type = emb.schema[label_col].dataType.simpleString()
        return emb.sparkSession.createDataFrame(
            [(r["__lbl"], r["dim"], r["sv"], r["cv"]) for r in rows],
            f"label {lbl_type}, dim int, s long, c long",
        )

    # the marshalled local frame is itself keyed (createDataFrame over
    # #labels×dim rows costs ~0.2 s of pure driver/py4j time per call)
    local = cached_index(
        plan_key(emb, "label_centroid_df", vec_col, label_col), build
    )
    return gathered_sort(
        local.select(
            "label",
            "dim",
            (F.col("s").cast("double") / F.col("c")).alias("mean_value"),
        ),
        "label",
        "dim",
    )


def cluster_purity(
    emb: DataFrame,
    n_cells: int = IVF_N_CELLS,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Cluster-quality audit for the trained quantizer: per k-means
    cell — (cell, n_vecs, majority_label, n_majority, purity_ppm). The
    standard external-validation metric (purity) for an unsupervised
    clustering against reference labels: a quantizer whose cells mix
    labels indiscriminately routes dissimilar vectors into the same IVF
    bucket, so this is the audit to run before trusting cell-local
    search or SemDeDup within-cell dedup.

    Composition: rides the ENGINE-EXACT iterative trainer
    (``kmeans_cells`` — integer sum-vector Lloyd rounds, the unrolled
    oracle twin), joins the bounded (id, cell) assignment to the label
    projection, and aggregates to n_cells rows: one narrow id-keyed
    join + one (cell, label) aggregate + a cell-partitioned majority
    window over |cells|·|labels| rows. Majority ties break to the
    lowest label on both engines; ``purity_ppm`` is the exact integer
    ×10⁶ floor quotient.
    """
    from pyspark.sql import Window

    cells = kmeans_cells(emb, n_cells, n_iters, id_col, vec_col)
    cl = (
        cells.join(emb.select(id_col, label_col), id_col)
        .groupBy("cell", F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("cell").orderBy(F.desc("c"), "label")
    tot = Window.partitionBy("cell")
    return (
        cl.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_vecs", F.sum("c").over(tot).cast("long"))
        .filter(F.col("__rn") == 1)
        .select(
            "cell",
            "n_vecs",
            F.col("label").alias("majority_label"),
            F.col("c").alias("n_majority"),
            F.expr("c * 1000000 div n_vecs").cast("long").alias("purity_ppm"),
        )
        .orderBy("cell")
    )


def centroid_outliers(
    emb: DataFrame,
    k: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Semantic outlier scoring: the ``k`` vectors FARTHEST from their
    own label's centroid — (vec_id, label, cos_centroid) ascending by
    cosine, ties to the lowest id. The SemDeDup/DataComp-style curation
    primitive: within-cluster distance ranks mislabeled, off-topic, or
    junk examples for removal or re-review (Abbas et al., SemDeDup,
    arXiv:2303.09540 §3 use the same within-cluster cosine).

    Engine-exact end to end: centroids stay INTEGER sum vectors (the
    cosine-to-mean ≡ cosine-to-sum identity of ``kmeans_cells``), dots
    and norms are exact integers carried in float64 (< 2^53), and the
    emitted cosine is exactly one float64 expression — dot / (sqrt(n_v)
    · sqrt(n_c)) — the identical rounding the DuckDB oracle applies, so
    even the ORDER at the top-k boundary is bit-stable. Shape: one
    bounded #labels×dim aggregate collected and broadcast into an
    Arrow-batched scoring pass (no shuffle), then TakeOrdered(k).
    Zero-norm vectors would score NaN on both engines (IEEE 0/0); the
    quantizer contract (EMB_SCALE) excludes them from this corpus.
    Empty input (or all-zero-vector labels, which contribute no
    posexplode rows) short-circuits to zero rows — the same result the
    SQL oracle's empty scan produces.
    """
    import numpy as np

    base = _with_quantized(emb, vec_col)
    sums = _label_centroid_rows(emb, vec_col, label_col)
    if not sums:
        spark = emb.sparkSession
        lbl_type = emb.schema[label_col].dataType.simpleString()
        return spark.createDataFrame(
            [],
            f"{id_col} {emb.schema[id_col].dataType.simpleString()}, "
            f"label {lbl_type}, cos_centroid double",
        )
    labels = sorted({r["__lbl"] for r in sums})
    dim = max(r["dim"] for r in sums) + 1
    lq = np.zeros((len(labels), dim), dtype=np.float64)
    pos = {lb: i for i, lb in enumerate(labels)}
    for r in sums:
        lq[pos[r["__lbl"]], r["dim"]] = r["sv"]
    lnrm = np.asarray(
        [float(sum(int(v) * int(v) for v in row)) for row in lq],
        dtype=np.float64,
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_to_own(q: pd.Series, lbl: pd.Series) -> pd.Series:
        if len(q) == 0:
            return pd.Series([], dtype=np.float64)
        qm = np.asarray(q.tolist(), dtype=np.float64)
        idx = np.asarray([pos[v] for v in lbl])
        c = lq[idx]
        dots = (qm * c).sum(axis=1)
        return pd.Series(
            dots / (np.sqrt((qm * qm).sum(axis=1)) * np.sqrt(lnrm[idx]))
        )

    return (
        base.select(
            id_col,
            F.col(label_col).alias("label"),
            cos_to_own(F.col("__q"), F.col(label_col)).alias("cos_centroid"),
        )
        .orderBy("cos_centroid", id_col)
        .limit(k)
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-vector half of the IVF-PQ
# shape every billion-vector ANN deployment runs (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011). Vectors are
# split into PQ_M subspaces; each subvector is replaced by the id of its
# nearest codebook entry, so a 64-dim float vector stores as PQ_M small
# codes, and query scoring reduces to PQ_M lookup-table adds (ADC —
# asymmetric distance computation) instead of a 64-term dot product.
#
# Determinism discipline (the family contract): codebooks are the PQ_K
# lowest-id vectors' subvectors (the _collect_seeds idiom — reproducible,
# SQL-expressible; a trained refinement would slot in exactly like
# kmeans_cells does for the IVF coarse quantizer), encode minimizes the
# EXACT integer L2² (‖x‖² − 2x·c + ‖c‖² over quantized ints, ties to the
# lowest code), and ADC scores are exact integer sums divided once at the
# end — bit-identical across engines and partitionings.

#: PQ defaults: 8 subspaces × 8 dims, 16 codes each → a 64-dim vector
#: compresses to 8 nibbles (4 bits/code).
PQ_M = 8
PQ_K = 16


def _pq_subvectors(
    base: DataFrame, id_col: str, m: int, dim: int = EMB_DIM
) -> DataFrame:
    """(id, m, sub, subnorm) — the quantized vector split into ``m``
    contiguous subspaces. A narrow in-row explode: m rows per vector,
    no shuffle."""
    sub_d = dim // m
    return base.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"i -> slice(__q, i * {sub_d} + 1, {sub_d}))"
            )
        ).alias("m", "sub"),
    ).withColumn("subnorm", int_dot(F.col("sub"), F.col("sub")))


def _round_away(q: float) -> int:
    """Round-half-away-from-zero of an IEEE double — the SAME single
    rounding Spark's ``F.round`` and DuckDB's ``round`` apply to the
    identical double, so a driver-computed centroid component matches the
    oracle's ``round(CAST(sv AS DOUBLE) / cnt)`` bit-for-bit (Decimal sees
    the double's exact binary expansion; naive floor(q+0.5) misrounds the
    largest double below .5)."""
    import decimal

    return int(
        decimal.Decimal(q).quantize(0, rounding=decimal.ROUND_HALF_UP)
    )


def pq_codebook(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = EMB_DIM,
    iters: int = 0,
) -> DataFrame:
    """The PQ codebook: (m, code, csub, cnorm), ``code`` 0-based by seed
    id order within each subspace. A bounded dimension table (m×k rows) —
    broadcast everywhere it is joined, like every PQ implementation ships
    its codebook to all workers. Session-cached index artifact.

    ``iters`` > 0 runs per-subspace Lloyd refinement (k-means over
    subvectors — trained PQ): each round re-encodes against the current
    codebook (exact integer L2, ties to the lowest code) and replaces
    every centroid component with ``round(SUM(v) / COUNT)`` — snapped
    BACK to the integer grid with the engines' shared half-away-from-zero
    double rounding, so the codebook never leaves integer space and the
    whole downstream (encode, ADC) keeps its exactness guarantees; codes
    that lose all members retain their previous centroid (the kmeans_cells
    empty-cluster rule). Scale shape per round: one broadcast-join encode
    pass + one (m, code, dim) aggregate — m·k·(dim/m) output, the bounded
    centroid collect every k-means ships between rounds."""

    def build() -> DataFrame:
        from pyspark.sql import Window

        base = _with_quantized(emb, vec_col)
        seeds = base.orderBy(id_col).limit(k)
        subs0 = _pq_subvectors(seeds, id_col, m, dim)
        w = Window.partitionBy("m").orderBy(id_col)
        # m×k rows: the single-partition window is a bounded dimension,
        # not a data-sized sort
        cb = subs0.select(
            "m",
            (F.row_number().over(w) - 1).alias("code"),
            F.col("sub").alias("csub"),
            F.col("subnorm").alias("cnorm"),
        )
        if iters == 0:
            return cb
        spark = emb.sparkSession
        subs = _pq_subvectors(base, id_col, m, dim)
        # driver-held centroid grid: {(m, code): [components]} — bounded
        cents = {
            (r["m"], r["code"]): list(r["csub"]) for r in cb.collect()
        }

        def cb_df():
            rows = [
                (mm, cc, v, sum(int(x) * int(x) for x in v))
                for (mm, cc), v in sorted(cents.items())
            ]
            return spark.createDataFrame(
                rows, "m int, code int, csub array<bigint>, cnorm bigint"
            )

        for _ in range(iters):
            enc = pq_encode_with(emb, cb_df(), id_col, vec_col, m, dim)
            upd = (
                subs.join(enc, [id_col, "m"])
                .select("m", "code", F.posexplode("sub").alias("d", "v"))
                .groupBy("m", "code", "d")
                .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
            # emptied codes simply have no rows to overwrite
            touched = {}
            for r in upd:
                # Mirror the oracle's CAST(SUM(v) AS DOUBLE)/COUNT(*)
                # exactly: round the integer sum to double FIRST, then
                # divide. Python's int/int true division is correctly
                # rounded from the exact rational, which can differ by
                # 1 ulp once |sv| >= 2^53 and flip the rounded integer.
                # Component sums stay far below 2^53 at any plausible
                # corpus scale (|v| ≤ ~2^21 quantized × n docs), but the
                # explicit float() makes the semantics identical rather
                # than coincidentally equal.
                touched.setdefault((r["m"], r["code"]), {})[r["d"]] = (
                    _round_away(float(r["sv"]) / r["cnt"])
                )
            for key, dims in touched.items():
                vec = cents[key]
                for d, v in dims.items():
                    vec[d] = v
        return cb_df()

    return cached_index(
        plan_key(emb, "pq_codebook", vec_col, m, k, dim, iters), build
    )


def pq_codes(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = EMB_DIM,
    iters: int = 0,
) -> DataFrame:
    """The encoded corpus: (id, m, code) — each subvector replaced by its
    nearest codebook entry (exact integer L2², ties to the lowest code).

    Shape: corpus subvectors (n·m rows, narrow explode) ⋈ broadcast
    codebook (m×k rows) → per-(vector, subspace) min-reduction. One
    partial-aggregated shuffle of n·m short rows; the fan-out factor k is
    a constant, never data-sized. Long (id, m, code) format keeps every
    column scalar-typed (oracle-hashable) — a serving layout would
    array-pack per id. Session-cached index artifact: queries pay ADC
    only, the encode is paid once per corpus."""

    def build() -> DataFrame:
        cb = pq_codebook(emb, id_col, vec_col, m, k, dim, iters)
        return pq_encode_with(emb, cb, id_col, vec_col, m, dim)

    return cached_index(
        plan_key(emb, "pq_codes", vec_col, m, k, dim, iters), build
    )


def pq_encode_with(
    emb: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Encode ``emb`` against an EXPLICIT (m, code, csub, cnorm) codebook
    — the serving/streaming form, where the quantizer is frozen and new
    vectors arrive after training (``pq_codes`` derives the codebook from
    the same corpus and session-caches; this function is the pure encode
    it shares). Same exact-integer argmin, ties to the lowest code."""
    base = _with_quantized(emb, vec_col)
    subs = _pq_subvectors(base, id_col, m, dim)
    scored = subs.join(F.broadcast(codebook), "m").select(
        id_col,
        "m",
        F.struct(
            (
                F.col("subnorm")
                - 2 * int_dot(F.col("sub"), F.col("csub"))
                + F.col("cnorm")
            ).alias("l2"),
            F.col("code").alias("code"),
        ).alias("sc"),
    )
    return (
        scored.groupBy(id_col, "m")
        .agg(F.min("sc").alias("best"))
        .select(id_col, "m", F.col("best.code").alias("code"))
    )


def _pq_adc_scores(
    emb: DataFrame,
    query_id: int,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
    dim: int = EMB_DIM,
    iters: int = 0,
) -> DataFrame:
    """Unranked ADC scores (id, approx_cosine) for every non-query vector.

    The query's lookup table (m×k rows: exact integer dot of each query
    subvector with each codebook entry, plus the entry's norm) is joined
    broadcast onto the cached code stream; each vector's approximate
    score is then PQ_M adds — SUM(qdot) / (‖q‖·‖reconstruction‖), all
    integer until the final division. One shuffle (the per-id sum) over
    n·m short rows; the raw vectors are never touched at query time —
    the entire point of PQ at 100 TB: the codes table is ~64× smaller
    than the float corpus.

    Like ``_ann_scored``, the stream is a session-cached artifact
    (narrow, one row per vector, fixed probe): ``pq_topk``,
    ``ivf_pq_topk`` and ``pq_recall_audit`` each re-derived it per
    execution — the LUT join + per-id sum ran three times per catalog
    sweep for one table (guide §1.2)."""
    return cached_index(
        plan_key(
            emb, "pq_adc_scores", query_id, id_col, vec_col, m, k, dim,
            iters,
        ),
        lambda: _pq_adc_scores_build(
            emb, query_id, id_col, vec_col, m, k, dim, iters
        ),
    )


def _pq_adc_scores_build(
    emb: DataFrame,
    query_id: int,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
    dim: int,
    iters: int,
) -> DataFrame:
    base = _with_quantized(emb, vec_col)
    cb = pq_codebook(emb, id_col, vec_col, m, k, dim, iters)
    q_row = base.filter(F.col(id_col) == query_id)
    qsubs = _pq_subvectors(q_row, id_col, m, dim).select("m", "sub")
    lut = qsubs.join(cb, "m").select(
        "m",
        "code",
        int_dot(F.col("sub"), F.col("csub")).alias("qdot"),
        "cnorm",
    )
    qn = q_row.select(F.col("__norm").alias("qn"))
    codes = pq_codes(emb, id_col, vec_col, m, k, dim, iters)
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy(id_col)
        .agg(
            F.sum("qdot").alias("adot"),
            F.sum("cnorm").alias("rnorm"),
        )
    )
    return (
        scored.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qn))
        .select(
            id_col,
            # zero reconstruction / zero query → NULL score, ranked last
            # (cosine_from_quantized's central zero-norm guard)
            cosine_from_quantized(
                F.col("adot"), F.col("qn"), F.col("rnorm")
            ).alias("approx_cosine"),
        )
    )


def pq_topk(
    emb: DataFrame,
    query_id: int,
    topk: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = EMB_DIM,
    iters: int = 0,
) -> DataFrame:
    """ADC top-k over the PQ-compressed corpus: (id, approx_cosine) —
    the `_pq_adc_scores` stream collapsed to a TakeOrderedAndProject
    (no global sort materializes; ties to the lower id)."""
    return (
        _pq_adc_scores(emb, query_id, id_col, vec_col, m, k, dim, iters)
        .orderBy(F.desc("approx_cosine"), id_col)
        .limit(topk)
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_id: int,
    topk: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = IVF_N_CELLS,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = EMB_DIM,
) -> DataFrame:
    """IVF-PQ: coarse-quantizer cell pruning THEN ADC scoring — the
    composition every billion-scale ANN system serves from (FAISS
    IVFPQ): the candidate set shrinks to nprobe/n_cells of the corpus
    before any scoring, and scoring itself is table lookups over the
    compressed codes. Both halves reuse their session-cached artifacts
    (cell assignment; codebook + codes), so the query-time work is two
    broadcast joins and one short-row aggregate."""
    base = _with_quantized(emb, vec_col)
    sq, snrm = _collect_seeds(
        base, id_col, n_cells, _seed_key(emb, id_col, vec_col, n_cells)
    )
    qrow = (
        base.filter(F.col(id_col) == query_id).select("__q", "__norm").first()
    )
    if qrow is None:
        raise ValueError(f"query {id_col}={query_id} not found in embeddings")
    probe = _probe_cells(sq, snrm, qrow["__q"], qrow["__norm"], nprobe)
    cand = _ivf_assigned(emb, id_col, vec_col, n_cells).filter(
        F.col("cell").isin(probe)
    ).select(id_col)
    # the ADC scored stream is pruned to the probed cells' ids (broadcast
    # semi join) BEFORE the top-k — candidates are ~nprobe/n_cells of the
    # corpus and the ranking never sees the rest
    return (
        _pq_adc_scores(emb, query_id, id_col, vec_col, m, k, dim)
        .join(F.broadcast(cand), id_col, "left_semi")
        .orderBy(F.desc("approx_cosine"), id_col)
        .limit(topk)
    )


def _recall_at_k(
    emb: DataFrame,
    query_id: int,
    topk: int,
    id_col: str,
    vec_col: str,
    sample_ppm: int | None,
    approx_topk: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """One row (k, n_hits, recall): how many of the exact brute-force
    top-``topk`` ids ``approx_topk(emb)`` also returns, both ranked over
    the same ``audit_sample`` of ``emb`` (the probe vector survives)."""
    emb = audit_sample(emb, sample_ppm, id_col, keep_id=query_id)
    exact = ann_topk(emb, query_id, topk, id_col, vec_col).select(
        F.col(id_col).alias("__e")
    )
    approx = approx_topk(emb).select(F.col(id_col).alias("__a"))
    j = exact.join(approx, exact["__e"] == approx["__a"], "left_outer")
    return j.agg(
        F.lit(topk).cast("long").alias("k"),
        F.count("__a").cast("long").alias("n_hits"),
        (F.count("__a") / F.lit(float(topk))).alias("recall"),
    )


def pq_recall_audit(
    emb: DataFrame,
    query_id: int,
    topk: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = EMB_DIM,
    iters: int = 0,
    sample_ppm: int | None = None,
) -> DataFrame:
    """Recall@k of PQ ADC against the exact brute-force ranking: one row
    (k, n_hits, recall) — the audit every compressed-index deployment
    runs before trusting a (m, k) compression setting (the PQ twin of
    lsh_recall_audit). At production scale pass ``sample_ppm``
    (``audit_sample``; the probe vector always survives the filter) —
    the full-rank exact baseline then runs on the hash-sampled
    sub-corpus."""
    return _recall_at_k(
        emb, query_id, topk, id_col, vec_col, sample_ppm,
        lambda e: pq_topk(
            e, query_id, topk, id_col, vec_col, m, k, dim, iters
        ),
    )


# --------------------------------------------------------------------------
# Random-projection (Johnson–Lindenstrauss) compression
# --------------------------------------------------------------------------

#: default projected width: 64-d embeddings → 16-d (4× compression). The JL
#: lemma bounds pairwise-distance distortion by O(sqrt(ln n / m)); the audit
#: operator turns that bound into a measured recall number per corpus.
RP_DIM = 16

@functools.lru_cache(maxsize=None)
def _rp_batch(m: int):
    """Arrow-batched JL projection: quantized vector → ``m`` exact integer
    plane dots, re-quantized to the input grid by TRUNCATING division
    (DuckDB ``//`` semantics — numpy's ``//`` floors, so the kernel
    truncates explicitly via sign·(|x|//s)).

    Same GEMM-not-fold rationale as ``_bucket_batch``: every plane dot is
    an integer < 2^53 so the float64 matmul is exact; the division keeps
    the projected components (and therefore their m-term dots and norms)
    inside BIGINT without losing cross-engine exactness. The plane matrix
    is the same prefix-stable seed-42 family the LSH operators use —
    ``planes(m)`` — so the oracle regenerates it verbatim."""
    from pyspark.sql.functions import pandas_udf

    from ..functions import EMB_SCALE

    plane_rows = planes(m)
    scale = int(EMB_SCALE)

    @pandas_udf("array<long>")
    def rp_batch(q: pd.Series) -> pd.Series:
        import numpy as np

        if len(q) == 0:
            return pd.Series([], dtype="object")
        qm = np.asarray(q.tolist(), dtype=np.float64)
        pm = np.asarray(plane_rows, dtype=np.float64)[:, : qm.shape[1]]
        dots = (qm @ pm.T).astype(np.int64)  # exact: every dot < 2^53
        proj = np.sign(dots) * (np.abs(dots) // scale)
        return pd.Series(list(proj))

    return rp_batch


def _with_projected(emb: DataFrame, vec_col: str, m: int) -> DataFrame:
    """Projected-vector store — (…, __rp, __rpnorm) — the RP twin of
    ``_with_quantized``: session-cached per (source, column, width), so
    the projection GEMM is paid once per corpus and every RP consumer
    (export, top-k, audit) serves from the in-memory columnar form."""

    def build() -> DataFrame:
        base = _with_quantized(emb, vec_col)
        proj = base.withColumn("__rp", _rp_batch(m)(F.col("__q")))
        return proj.withColumn("__rpnorm", int_dot(F.col("__rp"), F.col("__rp")))

    return cached_index(plan_key(emb, "rp_projected", vec_col, m), build)


def rp_embeddings(
    emb: DataFrame,
    m: int = RP_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The compressed corpus: (vec_id, rp) with ``rp`` an ``m``-element
    exact-integer projection of the embedding — the storage artifact a
    100 TB pipeline writes once and serves similarity queries from at
    dim/m of the scan cost (the dense-rotation counterpart of PQ's
    codebook compression; Achlioptas-style integer planes instead of
    Gaussian). Engine-exact end to end: quantize → integer plane dots →
    truncating re-quantization, so the oracle reproduces every element
    bit for bit."""
    return _with_projected(emb, vec_col, m).select(
        F.col(id_col), F.col("__rp").alias("rp")
    )


def rp_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    m: int = RP_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k in the PROJECTED space — the query shape a
    JL-compressed store serves: same TakeOrderedAndProject plan as
    ``ann_topk`` but scanning m-wide integer vectors instead of dim-wide
    ones (the scan/compute cost falls by dim/m; recall is the audited JL
    distortion). Ties break on id; zero-norm projections yield NULL
    cosine and drop to the bottom, matching the exact path's convention.
    The scored stream is the session-cached ``_rp_scored`` artifact
    shared with ``rp_recall_audit``'s approx side.
    """
    return (
        _rp_scored(emb, query_vec_id, m, id_col, vec_col)
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _rp_scored(
    emb: DataFrame, query_vec_id: int, m: int, id_col: str, vec_col: str
) -> DataFrame:
    def build() -> DataFrame:
        base = _with_projected(emb, vec_col, m)
        qrow = base.filter(F.col(id_col) == query_vec_id).select(
            F.col("__rp").alias("__qq"), F.col("__rpnorm").alias("__qnorm")
        )
        joined = base.filter(F.col(id_col) != query_vec_id).crossJoin(
            F.broadcast(qrow)
        )
        dot = int_dot(F.col("__rp"), F.col("__qq"))
        return joined.select(
            F.col(id_col),
            cosine_from_quantized(
                dot, F.col("__rpnorm"), F.col("__qnorm")
            ).alias("cosine"),
        )

    return cached_index(
        plan_key(emb, "rp_scored", query_vec_id, m, id_col, vec_col), build
    )


def rp_recall_audit(
    emb: DataFrame,
    query_id: int,
    topk: int,
    m: int = RP_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_ppm: int | None = None,
) -> DataFrame:
    """Recall@k of the projected-space ranking against the exact
    brute-force ranking: one row (k, n_hits, recall) — the measured form
    of the JL distortion bound for this corpus and width (the RP twin of
    pq_recall_audit / lsh_recall_audit: never trust a compression knob
    you haven't audited). ``sample_ppm`` hash-samples the corpus for
    production-scale audits (``audit_sample``; the probe survives)."""
    return _recall_at_k(
        emb, query_id, topk, id_col, vec_col, sample_ppm,
        lambda e: rp_topk(e, query_id, topk, m, id_col, vec_col),
    )


# --------------------------------------------------------------------------
# Scalar quantization (SQ8): per-dimension uint8 compression
# --------------------------------------------------------------------------

#: SQ8 code range: codes live in [0, SQ_LEVELS] (256 levels → 1 byte/dim,
#: an 8× compression of the int64 quantized store and 4× of float32).
SQ_LEVELS = 255

def _collect_sq_grid(base: DataFrame, key=None):
    """The SQ8 training pass: per-DIMENSION min/max over the quantized
    corpus — the whole "codebook" of scalar quantization (FAISS SQ8 /
    Milvus SQ8 keep exactly this: 2 numbers per dimension).

    Plan shape: posexplode → groupBy(dim) MIN/MAX — one map-side-combined
    aggregate whose post-shuffle cardinality is the embedding WIDTH, then
    a dim-row bounded collect (the `_collect_seeds` class: a codebook is
    shipped to every worker by construction, it is not corpus-sized).
    A registry value under ``key`` so the training scan runs once.
    """

    def train():
        rows = (
            base.select(F.posexplode("__q").alias("__i", "__v"))
            .groupBy("__i")
            .agg(F.min("__v").alias("mn"), F.max("__v").alias("mx"))
            .collect()
        )
        if not rows:
            raise ValueError("SQ8 grid over an empty embeddings table")
        by_i = {r["__i"]: (r["mn"], r["mx"]) for r in rows}
        mins = [by_i[i][0] for i in sorted(by_i)]
        maxs = [by_i[i][1] for i in sorted(by_i)]
        return mins, maxs

    return cached_value(key, train)


def _with_sq(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """SQ8 store — (…, __sq codes, __sr reconstruction, __srnorm) — the
    SQ twin of ``_with_quantized``/``_with_projected``, session-cached.

    Encode:      c_i = floor((q_i − mn_i)·255 / (mx_i − mn_i))   (0 if flat)
    Reconstruct: r_i = mn_i + floor(c_i·(mx_i − mn_i) / 255)

    Both floors are taken over an IEEE-double division of exact integers
    (< 2^53) on BOTH engines — Spark's `/` on longs and DuckDB's `/` on
    BIGINTs are the same double divide — so codes and reconstructions are
    bit-identical cross-engine with no integer-division semantics to
    match. Codes are dimension-local, so encode is a narrow projection:
    the grid is a broadcast literal (2 numbers/dim), no shuffle, no UDF.
    """

    def build() -> DataFrame:
        base = _with_quantized(emb, vec_col)
        # grid cache key MUST include the logical plan (plan_key), not
        # just the input files: a sample_ppm-filtered audit frame and the
        # full corpus share files but need DIFFERENT grids — a file-only
        # key would serve a sample-trained grid to full-corpus encodes
        mins, maxs = _collect_sq_grid(
            base, plan_key(emb, "sq_grid", id_col, vec_col)
        )
        code_of, recon_of = _sq_exprs(mins, maxs)
        coded = base.withColumn(
            "__sq", F.transform(F.col("__q"), code_of)
        ).withColumn("__sr", F.transform(F.col("__sq"), recon_of))
        return coded.withColumn("__srnorm", int_dot(F.col("__sr"), F.col("__sr")))

    return cached_index(plan_key(emb, "sq8", vec_col), build)


def _sq_exprs(mins, maxs):
    """The SQ8 encode / reconstruct lambdas for a FIXED grid (broadcast
    literal arrays): shared by the corpus-trained store (``_with_sq``)
    and the frozen-grid encoder the streaming sink uses
    (``sq_encode_with``) — one arithmetic definition, one exactness
    argument (floor over IEEE-double division of exact integers)."""
    mn_arr = F.array(*[F.lit(int(v)).cast("long") for v in mins])
    rng_arr = F.array(
        *[F.lit(int(mx - mn)).cast("long") for mn, mx in zip(mins, maxs)]
    )

    def code_of(x, i):
        mn = F.element_at(mn_arr, i + 1)
        rng = F.element_at(rng_arr, i + 1)
        return F.when(
            rng > 0, F.floor((x - mn) * SQ_LEVELS / rng)
        ).otherwise(F.lit(0).cast("long"))

    def recon_of(c, i):
        mn = F.element_at(mn_arr, i + 1)
        rng = F.element_at(rng_arr, i + 1)
        return mn + F.when(rng > 0, F.floor(c * rng / SQ_LEVELS)).otherwise(
            F.lit(0).cast("long")
        )

    return code_of, recon_of


def sq_grid(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """The SQ8 grid as a TABLE — (i, mn, mx) per 1-based dimension, the
    trainable/freezable artifact form of ``_collect_sq_grid`` (what a
    streaming sink persists once and every later batch encodes against,
    the codebook-parquet pattern of the PQ sink)."""
    base = _with_quantized(emb, vec_col)
    return (
        base.select(F.posexplode("__q").alias("__i", "__v"))
        .groupBy("__i")
        .agg(F.min("__v").alias("mn"), F.max("__v").alias("mx"))
        .select(
            (F.col("__i") + 1).cast("int").alias("i"),
            F.col("mn").cast("long").alias("mn"),
            F.col("mx").cast("long").alias("mx"),
        )
    )


def sq_encode_with(
    emb: DataFrame,
    grid: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against a FROZEN grid table — (vec_id, i, code),
    the frozen-quantizer path: a vector's codes are identical whether it
    was present at training or arrived later (values outside the trained
    range clamp to [0, SQ_LEVELS], the standard SQ8 out-of-range rule).
    The grid is a dim-row bounded collect; encode stays a narrow
    projection."""
    rows = sorted(grid.collect(), key=lambda r: r["i"])
    if not rows:
        raise ValueError("sq_encode_with: empty grid table")
    mins = [int(r["mn"]) for r in rows]
    maxs = [int(r["mx"]) for r in rows]
    code_of, _ = _sq_exprs(mins, maxs)

    def clamped(x, i):
        return F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(int(SQ_LEVELS)).cast("long"), code_of(x, i)),
        )

    base = _with_quantized(emb, vec_col)
    return (
        base.select(
            F.col(id_col),
            F.posexplode(F.transform(F.col("__q"), clamped)).alias(
                "__p", "code"
            ),
        )
        .select(
            F.col(id_col),
            (F.col("__p") + 1).cast("int").alias("i"),
            F.col("code").cast("int").alias("code"),
        )
    )


def sq_codes(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """The SQ8-compressed corpus, exploded to (vec_id, i, code) with
    1-based dimension index — the byte-per-dimension storage artifact
    (the scalar counterpart of ``pq_codes``' sub-vector codebooks and
    ``rp_embeddings``' dense rotation; all three compression families are
    audited by their own recall operators). Engine-exact: see _with_sq.
    """
    return (
        _with_sq(emb, id_col, vec_col)
        .select(F.col(id_col), F.posexplode("__sq").alias("__p", "code"))
        .select(
            F.col(id_col),
            (F.col("__p") + 1).cast("int").alias("i"),
            F.col("code").cast("int").alias("code"),
        )
    )


def sq_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric SQ8 top-k: the query keeps its EXACT quantized vector,
    the corpus is scored from its uint8 reconstruction (the standard
    asymmetric-distance trade — query precision is free, corpus bytes are
    the cost). Same broadcast + TakeOrderedAndProject plan as ``ann_topk``;
    ties break on id; zero-norm reconstructions yield NULL cosine and
    sink, matching the family convention. The scored stream is the
    session-cached ``_sq_scored`` artifact shared with
    ``sq_recall_audit``'s approx side (the ``_ann_scored`` pattern)."""
    return (
        _sq_scored(emb, query_vec_id, id_col, vec_col)
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _sq_scored(
    emb: DataFrame, query_vec_id: int, id_col: str, vec_col: str
) -> DataFrame:
    def build() -> DataFrame:
        base = _with_sq(emb, id_col, vec_col)
        qrow = base.filter(F.col(id_col) == query_vec_id).select(
            F.col("__q").alias("__qq"), F.col("__norm").alias("__qnorm")
        )
        joined = base.filter(F.col(id_col) != query_vec_id).crossJoin(
            F.broadcast(qrow)
        )
        dot = int_dot(F.col("__sr"), F.col("__qq"))
        return joined.select(
            F.col(id_col),
            cosine_from_quantized(
                dot, F.col("__srnorm"), F.col("__qnorm")
            ).alias("cosine"),
        )

    return cached_index(
        plan_key(emb, "sq_scored", query_vec_id, id_col, vec_col), build
    )


def sq_recall_audit(
    emb: DataFrame,
    query_id: int,
    topk: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_ppm: int | None = None,
) -> DataFrame:
    """Recall@k of the SQ8 asymmetric ranking against the exact ranking —
    one row (k, n_hits, recall), the audit that prices the byte-per-dim
    compression for THIS corpus (the SQ member of the
    lsh/pq/rp_recall_audit family; same ``sample_ppm`` hash-sampling for
    production-scale runs)."""
    return _recall_at_k(
        emb, query_id, topk, id_col, vec_col, sample_ppm,
        lambda e: sq_topk(e, query_id, topk, id_col, vec_col),
    )


# --------------------------------------------------------------------------
# kNN label propagation: semi-supervised label transfer over the kNN graph
# --------------------------------------------------------------------------


def knn_label_propagation(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = IVF_N_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Majority-vote kNN classification: each query vector takes the most
    common label among its ``k`` nearest corpus neighbors — (query_id,
    predicted_label, n_votes, true_label, correct). The standard
    label-transfer pass a curation pipeline runs to spread scarce human /
    classifier labels across an unlabeled corpus (leave-one-out when the
    query set is drawn from the corpus, as self-matches are excluded —
    ``correct`` then scores the propagation against the held-out truth).

    Scale shape: rides the session-cached kNN GRAPH (``_knn_ranked`` —
    the IVF-probed candidate ranking built once per query batch); the
    label join is a narrow projection of the corpus; the vote aggregate
    and the winner window are per-query bounded (≤ k rows each), keyed
    and distributed by query_id. Deterministic winner: (votes DESC,
    label ASC) — engine-neutral, no RNG.

    The propagated-label table itself — one narrow row per query, the
    label-transfer output a curation pipeline materializes once and then
    filters/audits — is session-cached (index_cache discipline): the
    ``knn_label_propagation`` gate and ``knn_label_accuracy`` each
    re-ran the vote aggregate + winner window + truth join per
    execution over the same cached kNN graph (guide §1.2).
    """
    from ..index_cache import cached_index, multi_plan_key

    return cached_index(
        multi_plan_key(
            (queries, corpus),
            "knn_propagated",
            k, n_cells, nprobe, id_col, vec_col, label_col,
        ),
        lambda: _knn_label_propagation_build(
            queries, corpus, k, n_cells, nprobe, id_col, vec_col, label_col
        ),
    )


def _knn_label_propagation_build(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    from pyspark.sql import Window

    nn = knn_join(queries, corpus, k, n_cells, nprobe, id_col, vec_col)
    labels = corpus.select(F.col(id_col), F.col(label_col))
    votes = (
        nn.join(labels, id_col)
        .groupBy("query_id", label_col)
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col(label_col)
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col(label_col).cast("int").alias("predicted_label"),
            "n_votes",
        )
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).cast("int").alias("true_label"),
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        "predicted_label",
        "n_votes",
        "true_label",
        (F.col("predicted_label") == F.col("true_label"))
        .cast("int")
        .alias("correct"),
    )


def knn_label_accuracy(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = IVF_N_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """One-row accuracy summary of ``knn_label_propagation`` —
    (n_queries, n_correct, accuracy): the audit number that decides
    whether propagated labels are trustworthy enough to filter on (the
    classifier_eval counterpart for the embedding-space label path)."""
    prop = knn_label_propagation(
        queries, corpus, k, n_cells, nprobe, id_col, vec_col, label_col
    )
    return prop.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.coalesce(F.sum("correct"), F.lit(0)).cast("long").alias("n_correct"),
        (
            F.coalesce(F.sum("correct"), F.lit(0))
            / F.count(F.lit(1))
        ).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 ∪ ANN under reciprocal-rank fusion
# --------------------------------------------------------------------------

#: the standard RRF dampening constant (Cormack et al.: 60 works across
#: collections; larger flattens the rank contribution).
RRF_C = 60


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    n_each: int = 25,
    c: int = RRF_C,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid top-k: fuse a lexical BM25 list and a semantic cosine list
    with reciprocal-rank fusion — score(d) = Σ 1/(c + rank_i(d)) over
    the lists containing d — (doc_id, lex_rank, sem_rank, rrf_score).
    The retrieval shape modern curation/RAG pipelines actually serve:
    keyword recall catches what the embedding misses and vice versa,
    and RRF needs no score calibration between the two spaces.

    Embeddings are keyed by ``vec_id = doc_id`` where present; documents
    without a vector (the corpus can be partially embedded) simply never
    appear in the semantic list and fuse from the lexical side alone.

    Scale shape: both candidate lists are top-``n_each`` engine plans
    (BM25 rides the session-cached inverted index +
    TakeOrderedAndProject; ANN is the broadcast-query scan) — the fusion
    itself touches 2·n_each rows, so the re-rank windows and the full
    outer join are bounded by construction, not by data size. All rank
    arithmetic is 1.0/(c+rank) on identical IEEE doubles cross-engine.
    """
    from pyspark.sql import Window

    from .textops import bm25_topk

    lex = bm25_topk(docs, query_terms, n_each, id_col=doc_id_col,
                    text_col=text_col)
    wl = Window.orderBy(F.col("score").desc(), F.col(doc_id_col))
    lexr = lex.select(
        F.col(doc_id_col),
        F.row_number().over(wl).cast("int").alias("lex_rank"),
    )
    sem = ann_topk(emb, query_vec_id, n_each, vec_id_col, vec_col)
    ws = Window.orderBy(F.col("cosine").desc_nulls_last(), F.col(vec_id_col))
    semr = sem.select(
        F.col(vec_id_col).alias(doc_id_col),
        F.row_number().over(ws).cast("int").alias("sem_rank"),
    )
    fused = lexr.join(semr, doc_id_col, "full_outer")
    one = F.lit(1.0)
    rrf = F.coalesce(one / (F.lit(c) + F.col("lex_rank")), F.lit(0.0)) + \
        F.coalesce(one / (F.lit(c) + F.col("sem_rank")), F.lit(0.0))
    return (
        fused.select(
            doc_id_col, "lex_rank", "sem_rank", rrf.alias("rrf_score")
        )
        .orderBy(F.col("rrf_score").desc(), F.col(doc_id_col))
        .limit(int(k))
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    n_neg: int = 5,
    k_graph: int = 50,
    n_cells: int = IVF_N_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/retriever training: for each
    query vector, the ``n_neg`` MOST similar corpus vectors whose label
    differs from the query's — (query_id, vec_id, cosine, neg_rank).
    High-cosine different-label items are exactly the negatives that
    teach an embedding model its decision boundary (random negatives are
    too easy; the standard DPR/contrastive curation pass).

    Scale shape: slices the session-cached kNN GRAPH (``_knn_ranked``,
    built once per query batch at ``k_graph`` candidates per query — the
    same artifact knn_join/label-propagation serve from); the label
    filter is a narrow broadcast-joined predicate and the per-query
    re-rank window is k_graph-bounded, distributed by query_id. A query
    whose probed neighborhood is single-label yields fewer than
    ``n_neg`` rows — mine with a larger ``k_graph``/``nprobe`` rather
    than a corpus rescan.
    """
    from pyspark.sql import Window

    nn = knn_join(queries, corpus, k_graph, n_cells, nprobe, id_col, vec_col)
    nbr_lab = corpus.select(
        F.col(id_col), F.col(label_col).alias("__nl")
    )
    q_lab = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__ql")
    )
    cand = (
        nn.join(nbr_lab, id_col)
        .join(q_lab, "query_id")
        .filter(F.col("__nl") != F.col("__ql"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        cand.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= int(n_neg))
        .select("query_id", id_col, "cosine", "neg_rank")
    )
