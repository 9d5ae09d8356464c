"""Deduplication operators — exact, n-gram Jaccard, MinHash+LSH, SimHash.

North-star extension operators (no reference counterpart — SURVEY.md §7.3
step 9), designed Spark-first for a 100 TB training-data pipeline:

- **exact**: hash-groupBy on normalized content (one shuffle on a 128-bit
  key; dictionary-encodable, skew-free).
- **n-gram Jaccard**: shingle → inverted-index self-join → pair agg. The
  candidate join is the scale hazard: common shingles create quadratic
  blowup, so ``max_shingle_freq`` drops stop-shingles (df > cap) — standard
  posting-list pruning; exact pairs above the cap are still found via LSH.
- **MinHash + LSH**: k permutation hashes ``(a_i·x + b_i) mod p`` over
  60-bit shingle hashes; banding (k=8, 4 bands × 2 rows) buckets candidates,
  then candidates are verified with true Jaccard. Bucket join shuffles on
  (band, signature) — bounded by band-bucket sizes, not n².
- **SimHash**: 60-bit majority fingerprint over token hashes; near-dup =
  hamming distance ≤ d. Pairs come from a pigeonhole prefix-band equi-join
  (d+1 chunks; any pair within d agrees on ≥1 chunk) verified with the
  exact bit_count(xor) — lossless, never a cross join.

Everything is built from deterministic md5-based integer hashes
(functions.md5_int60) so the DuckDB oracle reproduces values exactly.
No Python UDFs anywhere — pure Catalyst expressions.

Persisted intermediates (shingle index, fingerprints) are tracked by the
session index cache (index_cache.tracked_persist): long-lived sessions
release every block deterministically with index_cache.clear_indexes().
Tracked blocks live until that call — SQL caches sit in the JVM
CacheManager until explicitly unpersisted; there is no GC fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (
    MINHASH_P,
    gathered_sort,
    md5_int60,
    normalized_text,
    sized_sort,
    tokens,
)
from ..index_cache import (
    cached_index,
    cached_value,
    plan_key,
    tracked_persist,
)

#: MinHash permutation constants (deterministic, coprime-ish with P) for
#: the default width k=8. ``minhash_params(k)`` extends the family
#: prefix-stably for wider signatures.
MINHASH_A = [173, 499, 871, 1283, 1693, 2111, 2539, 2963]
MINHASH_B = [1009, 2003, 3001, 4001, 5003, 6007, 7001, 8009]
#: LSH banding: 4 bands × 2 rows over the 8 signatures (the default
#: ``band_partition(8, 4)``).
LSH_BANDS = [(0, 1), (2, 3), (4, 5), (6, 7)]
SIMHASH_BITS = 60

#: simhash_pairs auto-blocking crossover: switch from single-chunk to
#: chunk-PAIR keys when the MEASURED single-chunk candidate count exceeds
#: this many pairs per document. Below it the verify stage (one bit_count
#: per candidate) is cheaper than the wide key's ~2.5× explode/shuffle
#: volume; above it the quadratic candidate term dominates. 64 puts the
#: uniform-fingerprint crossover near 1 M docs for d=3 (n·(d+1)/2^15)
#: while collinear-fingerprint corpora (bucket saturation) trip it at any
#: size — measured: sf10 Zipf 500 k docs stays single-chunk (2.6 s vs
#: 4.4 s warm), the 31-word legacy fixture switches at sf1.
BLOCK_CAND_PER_DOC = 64


def minhash_params(num_perm: int) -> list[tuple[int, int]]:
    """(a_i, b_i) permutation constants for a ``num_perm``-wide signature.

    Prefix-stable: the first 8 are the historical MINHASH_A/B constants,
    further entries are deterministic draws (seed 777, odd a's — odd
    multipliers are invertible mod 2^k and never collapse the hash) — so
    the DuckDB oracle regenerates the identical family for any width
    (oracles.minhash_sig_cte takes the same parameter).
    """
    import random

    params = list(zip(MINHASH_A, MINHASH_B))[:num_perm]
    if num_perm > len(MINHASH_A):
        rng = random.Random(777)
        while len(params) < num_perm:
            a = rng.randrange(3, 1_000_000, 2)
            b = rng.randrange(1, 1_000_000)
            params.append((a, b))
    return params


def band_partition(num_perm: int, n_bands: int) -> list[tuple[int, ...]]:
    """Split signature rows 0..num_perm-1 into ``n_bands`` contiguous
    bands (num_perm must divide evenly).

    SCALE RULE: the LSH threshold is ≈ (1/n_bands)^(rows/band); bucket
    population grows with corpus size, so at larger n hold rows-per-band
    and raise num_perm/n_bands together (more, narrower bands keeps recall
    while adding independent tables), or raise rows-per-band to cut
    candidate volume. ``band_partition(8, 4)`` is the default LSH_BANDS.
    """
    if num_perm % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide num_perm={num_perm}")
    r = num_perm // n_bands
    return [tuple(range(i * r, (i + 1) * r)) for i in range(n_bands)]


def shingle_array(text_col, n: int = 3):
    """Column expression: distinct word n-gram shingles of a text column.

    Entirely array-native so shingling is a NARROW per-row projection: a
    ``zip_with`` fold concatenates the token array against its own
    i-shifted slices, the ragged tail falls out as nulls (``zip_with`` pads
    the shorter side, ``concat`` propagates), ``array_compact`` drops them,
    ``array_distinct`` gives set semantics.

    Two shapes rejected by measurement: ``transform`` over an index
    ``sequence`` with ``slice(toks, i, n)`` in the lambda re-evaluates the
    *tokenizer expression* once per element (lambdas capture unresolved
    child expressions, not materialized values — 7× slower); the original
    posexplode + lead-window + DISTINCT paid two corpus-wide shuffles.
    Here every lambda touches only its bound arguments, and the whole
    expression costs O(tokens · n) with zero exchanges.
    """
    toks = tokens(text_col)
    cur = toks
    for i in range(2, n + 1):
        shifted = F.slice(toks, i, F.size(toks))
        cur = F.zip_with(cur, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.array_compact(cur))


def shingle_arrays(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-doc shingle SET table (id, __sa: array<string>) — the corpus
    index artifact every shingle-based operator shares.

    Built once per source table and session-cached (see index_cache):
    ngram Jaccard, MinHash signatures, LSH verification, and text
    fingerprints all start from this table, and the interpreted
    higher-order-function pass that builds the sets is the single most
    recomputed expression in the suite without it.
    """
    key = plan_key(docs, "shingle_arrays", id_col, text_col, n)
    return cached_index(
        key,
        lambda: docs.select(
            F.col(id_col), shingle_array(F.col(text_col), n).alias("__sa")
        ),
    )


def shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Zero shuffles: the per-doc shingle SET is built inside the row
    (``shingle_array``, served from the session index cache) and exploded.
    The earlier posexplode + lead-window + DISTINCT shape paid two
    corpus-wide exchanges (window sort by doc, then distinct) for the same
    output — at 100 TB those were the dominant cost of every near-dup
    pipeline built on shingles. Higher-order lambdas are interpreted, not
    codegen'd, but the work is O(tokens) per row and buys back two wide
    shuffles.
    """
    return shingle_arrays(docs, id_col, text_col, n).select(
        F.col(id_col), F.explode("__sa").alias("shingle")
    )


def _dup_groups(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The exact-duplicate GROUP index — (content_md5, n_docs,
    keeper_id), only groups with >1 member. Sparse by construction
    (bounded by the corpus's duplicate mass, not its size), which makes
    it the session-cached artifact three catalog consumers share:
    ``exact_duplicates`` presents it, ``dedup_rate_by_source`` and
    ``quality_dup_crosstab`` left-join their narrow (id, hash) streams
    against it to flag non-keeper members. Caching it also turns those
    consumers' join against the former corpus-sized all-groups aggregate
    into a join against the sparse subset (guide §3.1 — the small side
    becomes broadcastable from the InMemoryRelation's stats). r13: the
    build aggregates the shared per-doc profile's content_md5 column
    (textops._doc_profile) instead of re-hashing the corpus."""
    from .textops import _doc_profile  # local import to avoid cycle

    return cached_index(
        plan_key(docs, "dup_groups", id_col, text_col),
        lambda: _doc_profile(docs, id_col, text_col)
        .select("content_md5", F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_docs") > 1),
    )


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup groups: normalized-content md5 → (hash, n_docs, keeper).

    Keeper = min id (deterministic survivor). Only groups with >1 doc.
    Duplicate groups are a sparse subset of the corpus by construction, so
    the presentation sort is gathered (see functions.gathered_sort).
    Serves the shared session-cached ``_dup_groups`` artifact.
    """
    return gathered_sort(
        _dup_groups(docs, id_col, text_col),
        "content_md5",
    )


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Survivors after exact dedup (keep min id per content hash)."""
    w = Window.partitionBy("content_md5").orderBy(id_col)
    return (
        docs.withColumn("content_md5", F.md5(normalized_text(F.col(text_col))))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "content_md5")
    )


def _df_annotated_postings(sh: DataFrame, id_col: str, postings_key) -> DataFrame:
    """Hashed postings annotated with each shingle's document frequency —
    (id, __h, __df) — the session-cached inverted-index artifact every
    shingle-pair operator derives from (cap-independent: caps are filters
    over it, so one artifact serves every threshold/cap combination).

    The key MUST come from the caller's raw source frame
    (``postings_key``): ``sh`` is derived from the cached shingle-array
    handle, and inputFiles() is EMPTY through an InMemoryRelation, so
    plan_key(sh, ...) is always None — keying here would silently disable
    the cache. The df count is a WINDOW over the hash (one shuffle that
    leaves the postings hash-partitioned by ``__h``, which the candidate
    joins then reuse) instead of a groupBy + join-back (three)."""
    hashed = sh.select(F.col(id_col), md5_int60(F.col("shingle")).alias("__h"))
    w_df = Window.partitionBy("__h")
    return cached_index(
        postings_key,
        lambda: hashed.withColumn("__df", F.count(F.lit(1)).over(w_df)),
    )


def _pair_jaccard(
    sh: DataFrame,
    id_col: str,
    max_shingle_freq: int | None = None,
    sizes: DataFrame | None = None,
    postings_key=None,
) -> DataFrame:
    """All candidate pairs sharing ≥1 shingle, with exact Jaccard.

    ``max_shingle_freq`` prunes posting lists (scale path): shingles
    appearing in more docs than the cap are dropped before the join.

    The postings carry the 60-bit md5 hash of the shingle, not the string:
    the collision self-join and pair aggregation then shuffle 8-byte longs
    instead of ~25-byte strings (measured 0.68 → 0.55 s at sf0.1). The
    DuckDB oracle hashes with the identical md5-prefix transform
    (functions.md5_int60), so both engines count hash-matches — results
    stay engine-identical even in the (2⁻⁶⁰-scale) collision case.

    Shuffle budget: the df cap is a WINDOW count over the hash (one
    shuffle, and it leaves the postings hash-partitioned by it, so the
    self-join that follows needs no further exchange) instead of a
    groupBy + join-back (three). ``sizes`` (id, sz = |shingle set|) should
    be the narrow ``size(shingle_array(...))`` projection when the caller
    has the source docs — it joins against the (small) pair aggregate, so
    AQE broadcasts the pair side and the size scan stays shuffle-free;
    without it the sizes are recovered from the postings with one
    partial-agg groupBy.
    """
    if sizes is None:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    postings = _df_annotated_postings(sh, id_col, postings_key)
    if max_shingle_freq is not None:
        postings = postings.filter(F.col("__df") <= max_shingle_freq)
    postings = postings.drop("__df")
    a = postings.select(F.col(id_col).alias("id_a"), "__h")
    b = postings.select(F.col(id_col).alias("id_b"), "__h")
    inter = (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            "sz_a",
            "sz_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def _prefix_filtered_pairs(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    metric: str,
    max_shingle_freq: int | None,
    sizes: DataFrame,
    postings_key,
) -> DataFrame:
    """Shared-artifact front of ``_prefix_pairs_build``: when the corpus
    is file-backed (``postings_key``), the verified candidate table —
    (id_a, id_b, inter, sz_a, sz_b, jaccard) — is session-cached ONCE
    per (corpus, cap, t) and serves BOTH metrics. The cached build
    prunes with the CONTAINMENT bound, the strictly looser of the two
    at equal t (containment ≥ jaccard always, so jaccard ≥ t ⟹
    containment ≥ t ⟹ the pair survives containment pruning): its
    output is a superset of every qualifying pair for either metric,
    and each caller's final EXACT threshold filter (jaccard ≥ t /
    containment ≥ t over the exact verified counts) is what defines the
    query output — pruning is conservative-only in both pipelines. So
    ``ngram_jaccard_pairs`` and ``containment_pairs`` at the same t
    share one candidate+verify pass instead of re-running the ranked
    prefix join each (guide §1.2); the jaccard-only cost is verifying
    the containment-band extras, strictly less work than the second
    full pipeline it replaces. Non-file-backed corpora keep the exact
    per-metric pruning (tighter, uncached)."""
    if postings_key is not None:
        return cached_index(
            (*postings_key, "prefix_pairs", max_shingle_freq, float(threshold)),
            lambda: _prefix_pairs_build(
                sh, id_col, threshold, "containment", max_shingle_freq,
                sizes, postings_key,
            ),
        )
    return _prefix_pairs_build(
        sh, id_col, threshold, metric, max_shingle_freq, sizes, postings_key
    )


def _prefix_pairs_build(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    metric: str,
    max_shingle_freq: int | None,
    sizes: DataFrame,
    postings_key,
) -> DataFrame:
    """Threshold-aware pair generation by PREFIX FILTERING (the PPJoin
    family — Xiao et al., WWW'08) with an exact array-intersect verify.
    Output is IDENTICAL to thresholding ``_pair_jaccard`` — same capped
    intersection counts, same full-size denominators, same double
    divisions — found without materializing the Σ df'² candidate rows.

    Why: the plain capped-posting self-join emits ~Σ_h df'² rows into the
    pair aggregate. The cap bounds each shingle's fan-out but the total
    still grows toward (#shingles)·cap² as density rises — measured
    0.45 s → 32.4 s from sf0.1 → sf1 for 80 output rows (the r8 verdict's
    predicted "quadratic behind a knob"). Prefix filtering makes candidate
    volume track TRUE near-dup density instead.

    The exact argument (one-sided, per qualifying pair (a, b)):

    - Jaccard ≥ t ⟹ inter ≥ t/(1+t)·(szₐ+sz_b) and t·szₐ ≤ sz_b ≤ szₐ/t
      (size band; inter counts only capped shingles, sizes are FULL set
      sizes, so inter ≤ min(sz'ₐ, sz'_b) still holds) ⟹ inter ≥ t·szₐ.
    - Containment ≥ t ⟹ inter ≥ t·min(szₐ, sz_b) — take a = the smaller.
    - Order each doc's capped shingles rarest-first (df, then hash — ONE
      global total order shared by every doc). If b shares NOTHING in a's
      first p = sz'ₐ − α + 1 shingles (α = ⌊t·szₐ⌋, clamped ≥ 1, an 1e-9
      slack absorbing double rounding), every shared shingle sits in a's
      last α − 1 ⟹ inter < α ≤ inter — contradiction. So joining PREFIX
      postings against full capped postings finds every qualifying pair,
      and rarest-first makes the prefix side exactly the low-df postings.
    - POSITIONAL filter (PPJoin, Xiao et al.): because every doc ranks by
      the SAME global order, the globally-minimal common shingle c₀ is
      simultaneously the earliest common entry of both docs' lists, so
      inter ≤ min(sz'ₓ − rn_x(c₀), sz'_y − rn_y(c₀)) + 1 holds for the c₀
      join row on BOTH arms at once. Filtering every match row by
      best-case-overlap ≥ α_pair (the pair-aware bound — both sizes are
      visible at probe time) can therefore never lose a pair: c₀'s row
      always survives, and distinct keeps the pair.
    - Direction restriction: only probe prefix(x) against docs with
      sz_y ≥ szₓ — the smaller side is always a sufficient prover
      (for containment it is the ONLY sufficient side), halving volume.

    Verification joins the distinct candidates to per-doc sorted capped
    hash ARRAYS (a cached artifact, BROADCAST while the corpus is small
    enough that the verify runs map-side in the candidate stage) and
    counts the intersection with the codegen'd ``array_intersect`` —
    integer-identical to the posting-join count.

    100 TB shape: every stage is linear in postings + surviving
    candidates — the df window (one shuffle, reused cached artifact), the
    per-doc rank window (one shuffle by id, threshold-independent cached
    artifact), the candidate equi-join on ``__h`` with size band +
    positional bound as join residuals (probe-time prune), a distinct on
    the surviving pair set, and the verify joins. Candidate volume tracks
    the corpus's shingle-sharing density: on a web-scale corpus rare
    shingles have df ≈ 1-2 and candidates ≈ true pairs; the synthetic
    gate corpus (31-word vocabulary, mean shingle df ≈ 90 at sf1) is the
    saturation worst case, and even there this path measured 32.4 → 4.1 s
    (jaccard) and 31.3 → 11.4 s (containment) warm at sf1 vs the plain
    capped self-join, both under the DuckDB oracle's 25 s for the same
    semantics.
    """
    cap = max_shingle_freq
    annotated = _df_annotated_postings(sh, id_col, postings_key)
    capped = annotated.filter(F.col("__df") <= cap) if cap is not None else annotated

    arr_key = (
        (*postings_key, "capped_arrays", cap) if postings_key is not None else None
    )
    arrays = cached_index(
        arr_key,
        lambda: capped.groupBy(id_col).agg(
            F.sort_array(F.collect_list("__h")).alias("__ca")
        ),
    )

    # Verify-join strategy: the per-doc array/size tables are one row per
    # document. While the corpus fits (≤ ~250k docs ≈ tens of MB of hash
    # arrays) BROADCAST them — the candidate pairs then verify map-side in
    # the stage that produces them, never shuffling with array payloads
    # attached (measured: the two shuffled array joins dominated the whole
    # operator on dense corpora). Beyond that the hint is skipped and the
    # planner falls back to shuffled joins — the right call when per-doc
    # state outgrows executor memory.
    n_docs = cached_value(arr_key, arrays.count)
    _bc = F.broadcast if n_docs <= 250_000 else (lambda df: df)

    # rarest-first RANKED postings — (id, __h, rn, szp, sz) — shared by the
    # prefix side and the probe side, threshold-INDEPENDENT (thresholds are
    # filters/residuals over it), so one artifact serves jaccard and
    # containment at any t
    w_doc = Window.partitionBy(id_col).orderBy("__df", "__h")
    w_id = Window.partitionBy(id_col)
    rank_key = (
        (*postings_key, "ranked_postings", cap) if postings_key is not None else None
    )
    ranked = cached_index(
        rank_key,
        lambda: capped.join(sizes, id_col)
        .withColumn("__rn", F.row_number().over(w_doc))
        .withColumn("__szp", F.count(F.lit(1)).over(w_id))
        .select(id_col, "__h", "__rn", "__szp", "sz"),
    )

    t = F.lit(float(threshold))
    alpha = F.greatest(
        F.floor(t * F.col("sz") - F.lit(1e-9)).cast("int"), F.lit(1)
    )
    pref = ranked.filter(F.col("__rn") <= F.col("__szp") - alpha + F.lit(1)).select(
        F.col(id_col).alias("id_x"),
        "__h",
        F.col("__rn").alias("rn_x"),
        F.col("__szp").alias("szp_x"),
        F.col("sz").alias("sz_x"),
    )
    # the probe side renames __h → __hy: both sides share the cached
    # postings lineage, and a bare __h == __h self-join condition would be
    # ambiguous (Spark's classic self-join trap)
    right = ranked.select(
        F.col(id_col).alias("id_y"),
        F.col("__h").alias("__hy"),
        F.col("__rn").alias("rn_y"),
        F.col("__szp").alias("szp_y"),
        F.col("sz").alias("sz_y"),
    )
    # direction restriction (valid for both metrics): the smaller-set doc
    # is always a sufficient prover side — for containment the required
    # overlap is t·min(szₐ, sz_b) (only the min side's prefix argument
    # holds), for Jaccard both directions hold — so probing prefix(x)
    # only against docs with sz_y ≥ sz_x halves the candidate volume
    # (size ties are found in both directions; distinct dedupes).
    #
    # POSITIONAL filter (PPJoin): with both sizes known at match time the
    # pair needs overlap ≥ α_pair = ⌈t/(1+t)·(sz_x+sz_y)⌉ (jaccard) or
    # ⌈t·sz_x⌉ (containment, sz_x = min side). A match at ranks (rn_x,
    # rn_y) caps the best case at min(szp_x−rn_x, szp_y−rn_y) + 1 shared
    # shingles at-or-after this rank; a valid pair's EARLIEST common
    # shingle always passes (its best-case bound ≥ the true overlap), so
    # per-row pruning + distinct never loses a pair — while random pairs,
    # whose only common shingles are common (late-ranked) ones, die here
    # instead of in the O(|set|) verify.
    if metric == "jaccard":
        alpha_pair = F.ceil(
            t / (F.lit(1.0) + t) * (F.col("sz_x") + F.col("sz_y")) - F.lit(1e-9)
        )
    else:
        alpha_pair = F.ceil(t * F.col("sz_x") - F.lit(1e-9))
    cond = (
        (F.col("__h") == F.col("__hy"))
        & (F.col("id_x") != F.col("id_y"))
        & (F.col("sz_y") >= F.col("sz_x"))
        & (
            F.least(
                F.col("szp_x") - F.col("rn_x"), F.col("szp_y") - F.col("rn_y")
            )
            + F.lit(1)
            >= alpha_pair
        )
    )
    if metric == "jaccard":
        # size band (valid for Jaccard only): evaluated as a join residual,
        # so out-of-band matches die at probe time; ±1 integer slack makes
        # double rounding harmless (prune-only — the exact filter follows)
        cond = cond & (F.col("sz_y") <= F.col("sz_x") / t + F.lit(1.0))
    cand = (
        pref.join(right, cond)
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
        )
        .distinct()
    )
    return (
        cand.join(
            _bc(arrays.select(F.col(id_col).alias("id_a"), F.col("__ca").alias("__ca_a"))),
            "id_a",
        )
        .join(
            _bc(arrays.select(F.col(id_col).alias("id_b"), F.col("__ca").alias("__ca_b"))),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("__ca_a", "__ca_b")))
        .filter(F.col("inter") > 0)
        .join(_bc(sizes.withColumnsRenamed({id_col: "id_a", "sz": "sz_a"})), "id_a")
        .join(_bc(sizes.withColumnsRenamed({id_col: "id_b", "sz": "sz_b"})), "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            "sz_a",
            "sz_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


#: default posting-list cap: shingles shared by more docs than this are
#: stop-shingles that contribute O(df²) candidate pairs each — unbounded they
#: make the self-join quadratic on any real corpus. 1000 keeps every
#: discriminative shingle while bounding a single shingle's pair fan-out.
DEFAULT_MAX_SHINGLE_FREQ = 1000


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard ≥ threshold.

    The posting cap is ON by default (scale safety); pass ``None`` for the
    exact-everywhere oracle semantics. Note the cap only drops pairs whose
    ENTIRE overlap is stop-shingles — true near-dups share discriminative
    shingles and still surface; the capped Jaccard can only undercount the
    intersection (never overcount), so precision of ``≥ threshold`` output
    against capped postings is conservative.
    """
    sh = shingles(docs, id_col, text_col, n)
    sizes = shingle_arrays(docs, id_col, text_col, n).select(
        F.col(id_col), F.size("__sa").alias("sz")
    )
    # pairs over a high threshold are sparse by construction → gathered
    # presentation sort (a range orderBy would pay a sampling job that
    # partially re-executes the pair pipeline)
    pairs = (
        _prefix_filtered_pairs(
            sh,
            id_col,
            threshold,
            "jaccard",
            max_shingle_freq,
            sizes=sizes,
            postings_key=plan_key(docs, "postings_h", id_col, text_col, n),
        )
        if threshold > 0
        else _pair_jaccard(
            sh,
            id_col,
            max_shingle_freq,
            sizes=sizes,
            postings_key=plan_key(docs, "postings_h", id_col, text_col, n),
        )
    )
    return gathered_sort(
        pairs.filter(F.col("jaccard") >= threshold).select(
            "id_a", "id_b", "jaccard"
        ),
        "id_a",
        "id_b",
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Asymmetric near-dup: pairs where the SMALLER document's shingle
    set is ≥ ``threshold`` contained in the other — (id_a, id_b,
    containment, jaccard). Catches what Jaccard structurally cannot: a
    quote, excerpt, or wholesale inclusion of a short document inside a
    long one has tiny Jaccard (the union is dominated by the long doc)
    but containment ≈ 1 — the variant web-dedup pipelines run to catch
    mirrored snippets and quoted boilerplate.

    Same machinery and scale shape as ``ngram_jaccard_pairs`` (shared
    cached postings artifact, capped posting lists, one pair aggregate);
    containment = |A∩B| / min(|A|, |B|) is one extra exact-integer
    division over the counts the pipeline already carries.
    """
    from ..index_cache import plan_key

    sh = shingles(docs, id_col, text_col, n)
    sizes = shingle_arrays(docs, id_col, text_col, n).select(
        F.col(id_col), F.size("__sa").alias("sz")
    )
    pairs = (
        _prefix_filtered_pairs(
            sh,
            id_col,
            threshold,
            "containment",
            max_shingle_freq,
            sizes=sizes,
            postings_key=plan_key(docs, "postings_h", id_col, text_col, n),
        )
        if threshold > 0
        else _pair_jaccard(
            sh,
            id_col,
            max_shingle_freq,
            sizes=sizes,
            postings_key=plan_key(docs, "postings_h", id_col, text_col, n),
        )
    )
    containment = F.col("inter").cast("double") / F.least(
        F.col("sz_a"), F.col("sz_b")
    )
    return gathered_sort(
        pairs.withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "jaccard"),
        "id_a",
        "id_b",
    )


def _signatures_from_shingles(
    sh: DataFrame, id_col: str, num_perm: int
) -> DataFrame:
    # Expression strings, not Column-object loops: every pyspark Column
    # operation is a py4j round-trip, and the k-permutation agg built
    # operator-by-operator cost ~0.2 s of pure driver time per call. One
    # select + k expr() strings hand the whole tree to the SQL parser in a
    # handful of JVM calls; the resulting plan is identical.
    base = sh.select(
        F.col(id_col),
        (md5_int60(F.col("shingle")) % MINHASH_P).alias("__x"),
    )
    aggs = [
        F.expr(f"min(({a} * __x + {b}) % {MINHASH_P}) AS h{i}")
        for i, (a, b) in enumerate(minhash_params(num_perm))
    ]
    return base.groupBy(id_col).agg(*aggs)


def _lsh_band_candidates(
    sigs: DataFrame,
    id_col: str,
    num_perm: int,
    n_bands: int,
    max_bucket_pop: int | None,
    cand_key=None,
) -> DataFrame:
    """Banded LSH candidate pairs (id_a < id_b, distinct) from a
    signature table — the shared core of ``minhash_lsh_pairs`` and
    ``minhash_estimate_audit``.

    ``cand_key`` (a plan_key built from the RAW corpus frame — sigs is
    derived from a cached handle and would key to None, the
    ``postings_key`` pitfall) session-caches the candidate set: the
    banding explode + band-bucket self-join is re-derived by SIX catalog
    consumers (lsh pairs, estimate audit, clusters ×2, survivors, rate
    dashboard) over the same corpus and parameters, and the candidate
    list is the sparse, byte-bounded pair INDEX a dedup deployment
    materializes once. Verification (exact Jaccard) stays per-query —
    only the candidate generation is shared."""
    if cand_key is not None:
        return cached_index(
            cand_key,
            lambda: _lsh_band_candidates(
                sigs, id_col, num_perm, n_bands, max_bucket_pop
            ),
        )
    bands_spec = band_partition(num_perm, n_bands)
    # one row per (doc, band) via a single explode — a union of per-band
    # selects would re-run the signature aggregation once per band. The
    # band array is one parsed expression string (see the note in
    # _signatures_from_shingles on why strings beat Column loops here).
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"struct({band_id} AS band, concat_ws('_', "
            + ", ".join(f"CAST(h{c} AS STRING)" for c in cols)
            + ") AS bucket)"
            for band_id, cols in enumerate(bands_spec)
        )
        + ")"
    )
    bands = sigs.select(F.col(id_col), F.explode(band_structs).alias("bb")).select(
        F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    if max_bucket_pop is not None:
        # window count over the SELF-JOIN key (band, bucket): one shuffle
        # that leaves the surviving band rows hash-partitioned exactly as
        # the candidate join needs them (the winnow_overlap_pairs df-cap
        # shape — never a corpus-sized broadcast list).
        bands = (
            bands.withColumn(
                "__pop",
                F.count(F.lit(1)).over(Window.partitionBy("band", "bucket")),
            )
            .filter(F.col("__pop") <= max_bucket_pop)
            .drop("__pop")
        )
    left = bands.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = bands.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 8,
) -> DataFrame:
    """k=``num_perm`` MinHash signatures per doc: (id, h0..h{k-1}).

    h_i = min over shingles of (a_i·(md5int(shingle) mod p) + b_i) mod p.
    One groupBy — the k mins are computed in a single aggregation pass.
    The signature table is a session-cached index artifact (index_cache,
    one entry per width): LSH banding and any repeated signature query
    reuse it.
    """
    key = plan_key(docs, "minhash_signatures", id_col, text_col, n, num_perm)
    return cached_index(
        key,
        lambda: _signatures_from_shingles(
            shingles(docs, id_col, text_col, n), id_col, num_perm
        ),
    )


def _candidate_pair_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    n_bands: int,
    max_bucket_pop: int | None,
) -> DataFrame | None:
    """The MinHash family's shared VERIFIED-candidate table — one row per
    banded LSH candidate pair carrying every exact statistic any consumer
    derives a metric from: (id_a, id_b, __m signature-component matches,
    __inter exact shingle intersection, __za, __zb set sizes). Returns
    None for non-file-backed corpora (plan_key None — the ``postings_key``
    pitfall), where callers keep their uncached inline pipelines.

    r13: ``minhash_lsh_pairs`` and ``minhash_estimate_audit`` shared the
    banded CANDIDATE list but each re-ran verification per execution —
    two shingle-array joins + an array_intersect per candidate for the
    pairs query (inherited by its four downstream consumers: clusters ×2,
    survivors, the rate dashboard), plus two signature joins for the
    audit. The verified stats table is sparse (bounded by the banding cap:
    ≤ n·cap/2 rows, each 6 ints), is exactly the pair-audit table a dedup
    deployment materializes once per corpus, and every consumer metric is
    a projection of it: jaccard = inter/(za+zb−inter), the Broder
    estimate = m/num_perm. Verification work is paid once per (corpus,
    params); warm consumers filter an InMemoryTableScan.
    """
    key = plan_key(
        docs, "lsh_verified_stats", id_col, text_col, n, num_perm,
        n_bands, max_bucket_pop,
    )
    if key is None:
        return None

    def _build() -> DataFrame:
        sigs = minhash_signatures(docs, id_col, text_col, n, num_perm)
        cand = _lsh_band_candidates(
            sigs, id_col, num_perm, n_bands, max_bucket_pop,
            cand_key=plan_key(
                docs, "lsh_candidates", id_col, text_col, n, num_perm,
                n_bands, max_bucket_pop,
            ),
        )
        sa = sigs.select(
            F.col(id_col).alias("id_a"),
            *[F.col(f"h{i}").alias(f"__a{i}") for i in range(num_perm)],
        )
        sb = sigs.select(
            F.col(id_col).alias("id_b"),
            *[F.col(f"h{i}").alias(f"__b{i}") for i in range(num_perm)],
        )
        matches = sum(
            (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("long")
            for i in range(num_perm)
        )
        arrs = shingle_arrays(docs, id_col, text_col, n)
        return (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select("id_a", "id_b", matches.alias("__m"))
            .join(
                arrs.select(
                    F.col(id_col).alias("id_a"), F.col("__sa").alias("__sa_a")
                ),
                "id_a",
            )
            .join(
                arrs.select(
                    F.col(id_col).alias("id_b"), F.col("__sa").alias("__sa_b")
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                "__m",
                F.size(F.array_intersect("__sa_a", "__sa_b")).alias("__inter"),
                F.size("__sa_a").alias("__za"),
                F.size("__sa_b").alias("__zb"),
            )
        )

    return cached_index(key, _build)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 8,
    n_bands: int = 4,
    max_bucket_pop: int | None = 512,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact Jaccard ≥ threshold.

    Banding: a pair is a candidate iff it collides on ALL rows of ≥1 band.
    Candidates are then verified against true shingle Jaccard — LSH only
    prunes, so results equal brute-force Jaccard restricted to candidates.

    ``num_perm``/``n_bands`` are the scale knobs (see band_partition's
    rule): the default 8×(4 bands × 2 rows) targets sf-scale corpora; at
    10⁹ docs hold rows-per-band and raise both so each band-bucket's
    population stays one task's worth. The DuckDB oracle takes the same
    parameters (oracles.sql_minhash_lsh_pairs) and regenerates the
    identical prefix-stable permutation family.

    ``max_bucket_pop`` caps band-bucket POPULATION, the same documented
    df-cap discipline as ``ngram_jaccard_pairs``' stop-shingle cap: a
    band-bucket shared by more documents than the cap is a boilerplate
    signature (every document opening with the same license header puts
    its band minima inside the shared prefix — measured on the sf10 Zipf
    fixture ONE such bucket held 3 199 of the 10 084 boilerplate-opening
    docs, 5.1 M of the 5.8 M candidate pairs, while true output grew
    linearly) and is excluded from pair generation wholesale. Pairs whose
    EVERY colliding bucket is over-cap are missed; such pairs share
    boilerplate minima, not document bodies (a 13-token shared header on
    a 53-shingle median doc is Jaccard ≈ 0.12 — far under any sensible
    threshold), and genuinely near-duplicate pairs keep colliding in
    their other, body-driven bands. Capping makes candidate volume
    ≤ n·cap/2 — linear in the corpus with the cap held fixed. Pass None
    to restore unbounded banding; the oracle implements the identical
    cap so exact parity holds at any setting.
    """
    stats = _candidate_pair_stats(
        docs, id_col, text_col, n, num_perm, n_bands, max_bucket_pop
    )
    if stats is None:
        # non-file-backed corpus: inline verification, uncached.
        # Each side of a candidate pair brings its per-doc shingle SET
        # along as an array column (the same narrow shingle_array
        # projection the signatures consumed — no posting explode, no
        # pair aggregation), and the exact Jaccard is a per-row
        # array_intersect. The inner join against the candidate pairs IS
        # the restriction: only candidate docs' arrays survive, and with
        # the candidate side small (near-dups are a sliver of any real
        # corpus) the optimizer broadcasts it, leaving the corpus scan
        # shuffle-free. When candidates outgrow broadcast, this degrades
        # to one corpus shuffle by id — exactly what the previous
        # postings semi-join paid, minus its pair-aggregation and
        # size-join shuffles (measured 1.6 → 0.9 s warm at sf0.1).
        sigs = minhash_signatures(docs, id_col, text_col, n, num_perm)
        candidates = _lsh_band_candidates(
            sigs, id_col, num_perm, n_bands, max_bucket_pop
        )
        arrs = shingle_arrays(docs, id_col, text_col, n)
        stats = (
            candidates.join(
                arrs.select(F.col(id_col).alias("id_a"), F.col("__sa").alias("__sa_a")),
                "id_a",
            )
            .join(
                arrs.select(F.col(id_col).alias("id_b"), F.col("__sa").alias("__sa_b")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__sa_a", "__sa_b")).alias("__inter"),
                F.size("__sa_a").alias("__za"),
                F.size("__sa_b").alias("__zb"),
            )
        )
    verified = stats.select(
        "id_a",
        "id_b",
        (
            F.col("__inter").cast("double")
            / (F.col("__za") + F.col("__zb") - F.col("__inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    return gathered_sort(verified, "id_a", "id_b")


def neardup_rate_by_source(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    num_perm: int = 8,
    n_bands: int = 4,
    max_bucket_pop: int | None = 512,
) -> DataFrame:
    """Per-source NEAR-duplication dashboard — the fuzzy twin of
    ``dedup_rate_by_source``: (source, n_docs, n_neardup_docs,
    neardup_ppm), where a document counts when it appears in at least
    one verified MinHash-LSH pair (Jaccard ≥ threshold) and is not its
    pair-set's lowest id (the keeper convention, so one copy per
    near-dup family stays "clean"). The per-provider syndication
    monitor: a crawl slice re-serving lightly-edited content shows up
    here while the exact-hash dashboard stays flat.

    Shape: the pair set is the linear-by-construction LSH pipeline
    (banded candidates, pop cap, verify-only-survivors); membership +
    keeper flags are one explode of the (sparse) pair list aggregated
    per doc, joined back to the narrow (id, source) projection —
    near-dup docs are a sliver of any real corpus, so the join's right
    side is small and broadcasts. Final aggregate is |sources|-sized
    with the exact integer ppm.
    """
    pairs = minhash_lsh_pairs(
        docs, threshold, id_col, text_col, n, num_perm, n_bands,
        max_bucket_pop,
    )
    members = (
        pairs.select(
            F.explode(F.array("id_a", "id_b")).alias(id_col),
            F.least("id_a", "id_b").alias("__lo"),
        )
        .groupBy(id_col)
        .agg(F.min("__lo").alias("__keeper"))
        .select(
            F.col(id_col),
            (F.col(id_col) != F.col("__keeper")).cast("int").alias("__nd"),
        )
    )
    flagged = docs.select(F.col(id_col), F.col(source_col)).join(
        F.broadcast(members), id_col, "left"
    )
    return flagged.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("__nd"), F.lit(0)).cast("long").alias(
            "n_neardup_docs"
        ),
        F.expr(
            "CAST(coalesce(sum(__nd), 0) AS BIGINT) * 1000000 div count(1)"
        )
        .cast("long")
        .alias("neardup_ppm"),
    )


def minhash_estimate_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 8,
    n_bands: int = 4,
    max_bucket_pop: int | None = 512,
) -> DataFrame:
    """Sketch-quality audit for the MinHash family: over the banded LSH
    candidate pairs, compare the SIGNATURE-estimated Jaccard (matching
    components / num_perm — the Broder estimator) against the true
    shingle Jaccard — one row (n_pairs, mean_abs_err_ppm,
    max_abs_err_ppm). The companion to the recall audits: recall says
    whether banding FINDS the pairs, this says how far the num_perm
    knob's estimates drift from truth (expected stderr ≈
    √(j(1−j)/num_perm), so 8 permutations ⇒ ±170 000 ppm at j = 0.5 —
    the audit turns that theory into a measured corpus number before
    anyone trusts signature-only dedup thresholds).

    Exactness discipline: BOTH jaccards are ×10⁶ integer FLOOR
    quotients (est: matches·10⁶ div k; true: inter·10⁶ div union), the
    mean is one more exact integer division — no double accumulates, so
    the audit row is gate-hashable. Shape: candidates come from the
    shared ``_lsh_band_candidates`` core (linear with the pop cap), the
    estimate join touches only the (bounded) candidate set against the
    cached signature table, truth reuses the cached shingle arrays, and
    the output is a single aggregate row.
    """
    stats = _candidate_pair_stats(
        docs, id_col, text_col, n, num_perm, n_bands, max_bucket_pop
    )
    if stats is None:
        # non-file-backed corpus: inline (signatures + shingle arrays
        # joined onto the candidate list per execution), uncached.
        sigs = minhash_signatures(docs, id_col, text_col, n, num_perm)
        cand = _lsh_band_candidates(
            sigs, id_col, num_perm, n_bands, max_bucket_pop
        )
        sa = sigs.select(
            F.col(id_col).alias("id_a"),
            *[F.col(f"h{i}").alias(f"__a{i}") for i in range(num_perm)],
        )
        sb = sigs.select(
            F.col(id_col).alias("id_b"),
            *[F.col(f"h{i}").alias(f"__b{i}") for i in range(num_perm)],
        )
        matches = sum(
            (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("long")
            for i in range(num_perm)
        )
        arrs = shingle_arrays(docs, id_col, text_col, n)
        stats = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select("id_a", "id_b", matches.alias("__m"))
            .join(
                arrs.select(F.col(id_col).alias("id_a"), F.col("__sa").alias("__la")),
                "id_a",
            )
            .join(
                arrs.select(F.col(id_col).alias("id_b"), F.col("__sa").alias("__lb")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                "__m",
                F.size(F.array_intersect("__la", "__lb")).alias("__inter"),
                F.size("__la").alias("__za"),
                F.size("__lb").alias("__zb"),
            )
        )
    paired = stats.select(
        F.expr(f"__m * 1000000 div {num_perm}").alias("__est_ppm"),
        F.expr(
            "__inter * 1000000 div (__za + __zb - __inter)"
        ).alias("__true_ppm"),
    )
    err = F.abs(F.col("__est_ppm") - F.col("__true_ppm"))
    return paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            "CAST(coalesce(sum(abs(__est_ppm - __true_ppm)), 0) AS BIGINT)"
            " div greatest(count(1), 1)"
        )
        .cast("long")
        .alias("mean_abs_err_ppm"),
        F.coalesce(F.max(err), F.lit(0)).cast("long").alias("max_abs_err_ppm"),
    )


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash per document from 3-gram SHINGLE-set md5 bit votes —
    the feature choice of the web-dedup deployment the operator models
    (Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web
    Crawling", WWW'07: phrase/shingle features, not bag-of-words).

    bit b of the fingerprint = 1 iff Σ_shingles (2·bit_b(hash)−1) > 0,
    over the document's DISTINCT word 3-grams. Unigram token votes (the
    previous feature set) make fingerprints of SHORT documents over a
    head-heavy vocabulary nearly collinear — two random 10-token Zipf
    documents share most of their mass in the same few stopwords, so the
    hamming-≤d pair count is quadratic in the corpus even with zero real
    near-duplicates (measured: 14.8 M pairs at sf1 on the Zipf fixture,
    ~90× the sf0.1 count, while LSH/Jaccard found ~10²). Shingle sets of
    unrelated documents are near-disjoint, so their fingerprints are
    independent uniform bits (P[hamming ≤ 5 of 60] ≈ 2⁻³⁸) and the pair
    list contains exactly the planted/real near-dups — output linear in
    the corpus, which is the property that lets the banded join scale.

    One explode of the session-cached shingle-set index (shared with the
    MinHash/Jaccard family — no extra corpus pass) → ONE hash aggregation
    carrying 60 per-bit sum expressions (whole-stage-codegen'd), then a
    width-60 projection folds the signs. Documents with fewer than 3
    tokens have no shingles and are absent, mirrored by the oracle (the
    same short-doc rule as the span/winnow family). The fingerprint
    table is a session-cached index artifact shared with simhash_pairs.
    """
    key = plan_key(docs, "simhash", id_col, text_col)
    return cached_index(key, lambda: _simhash_build(docs, id_col, text_col))


def _simhash_build(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    hashed = shingles(docs, id_col, text_col, n=3).select(
        F.col(id_col), md5_int60(F.col("shingle")).alias("h")
    )
    # The 60 vote sums and the 60-term sign fold are built as SQL strings:
    # assembled as Column objects (one py4j round-trip per operator, ~360
    # calls) this plan cost ~1 s of driver time per invocation — more than
    # its own execution. One parse of two wide strings produces the same
    # tree for ~0.1 s, and wide-but-flat expressions keep Catalyst analysis
    # linear (the chained `+` fold was a depth-60 left-nested tree).
    votes = [
        F.expr(f"sum((shiftright(h, {b}) & 1) * 2 - 1) AS v{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = hashed.groupBy(id_col).agg(*votes)
    fp = " + ".join(
        f"IF(v{b} > 0, CAST({1 << b} AS BIGINT), CAST(0 AS BIGINT))"
        for b in range(SIMHASH_BITS)
    )
    return per_doc.selectExpr(f"`{id_col}`", f"({fp}) AS simhash")


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_pairs: bool | None = None,
) -> DataFrame:
    """Near-duplicate pairs with simhash hamming distance ≤ max_hamming.

    CHUNK-PAIR pigeonhole banding (lossless): split the 60-bit
    fingerprint into ``max_hamming + 2`` chunks — ≤ d differing bits
    touch at most d chunks, so every pair within distance d agrees
    EXACTLY on at least TWO chunks, i.e. on at least one of the
    C(d+2, 2) unordered chunk COMBINATIONS. A self-equi-join on
    (combination id, concatenated two-chunk value) therefore produces
    every qualifying pair, and the doubled key width is the scale
    lever: single-chunk banding (d+1 chunks of 60/(d+1) bits) leaves
    candidate volume ∝ n²/2^(60/(d+1)) — measured α = 1.41 sf1→sf10 at
    d=5 (10-bit buckets: 500 k docs / 1024 values ⇒ ~500-doc buckets) —
    while the ~17-bit pair keys cut expected candidates ~2^8× at the
    cost of C(d+2,2) ≈ 21 vs d+1 = 6 exploded rows per doc. Collisions
    are verified with the true bit_count(xor) distance, so results
    equal brute force (property-tested). Same escalation as Manku, Jain
    & Das Sarma's permuted-table blocking: as the corpus grows, widen
    the block key, never the bucket.

    ``block_pairs`` picks the blocking (a PHYSICAL strategy — output is
    identical): False = single-chunk (d+1 chunks, d+1 exploded rows/doc
    — cheaper while buckets stay small), True = chunk pairs, None
    (default) = auto on MEASURED single-chunk candidate volume: one
    bounded aggregation over the persisted fingerprint table (output ≤
    (d+1)·2^(60/(d+1)) bucket rows) sums pop·(pop−1)/2 and switches to
    the wide key when candidates exceed ``BLOCK_CAND_PER_DOC`` per doc.
    A doc-count threshold gets this wrong in both directions — uniform
    fingerprints keep single-chunk buckets small far past any fixed
    count (measured sf10/500 k docs: single 2.6 s vs pair 4.4 s warm,
    shuffle volume dominates while verify stays cheap), while collinear
    fingerprints (the pre-shingle-feature failure) saturate buckets at
    ANY count. Measuring the actual quadratic term decides on data, the
    way AQE decides skew joins; the probe result rides the per-corpus
    scalar cache so warm invocations pay no extra job.

    Cache lifecycle: the fingerprint table stays persisted as long as the
    returned (lazy) DataFrame is referenced — it backs both join sides, so
    it cannot be unpersisted here. The handle is TRACKED
    (index_cache.tracked_persist) and lives until ``clear_indexes()``
    releases it — there is no GC fallback for SQL caches.

    The verified pair set itself is session-cached (r13, the LSH/minhash
    pair-graph discipline — sparse by the hamming bound): the banding
    explode + self-join + bit_count verification otherwise re-ran per
    execution. The key carries only LOGICAL parameters (``block_pairs``
    is a physical strategy with identical, property-tested output, so
    both strategies serve one artifact); in-memory corpora bypass.
    """
    return gathered_sort(
        cached_index(
            plan_key(
                docs, "simhash_pair_graph", id_col, text_col, max_hamming
            ),
            lambda: _simhash_pair_graph(
                docs, max_hamming, id_col, text_col, block_pairs
            ),
        ),
        "id_a",
        "id_b",
    )


def _simhash_pair_graph(
    docs: DataFrame,
    max_hamming: int,
    id_col: str,
    text_col: str,
    block_pairs: bool | None,
) -> DataFrame:
    # one fingerprint per doc, persisted: both self-join sides scan it, and
    # without materialization each side re-runs the full shingle aggregation
    s = tracked_persist(simhash(docs, id_col, text_col))
    if block_pairs is None:

        def probe() -> tuple[int, float]:
            sc_chunks = max_hamming + 1
            sc_bits = -(-SIMHASH_BITS // sc_chunks)  # ceil, as below
            sc_mask = (1 << sc_bits) - 1
            probe_structs = F.expr(
                "array("
                + ", ".join(
                    f"struct({i} AS band, (shiftright(simhash, "
                    f"{i * sc_bits}) & {sc_mask}) AS chunk)"
                    for i in range(sc_chunks)
                )
                + ")"
            )
            row = (
                s.select(F.explode(probe_structs).alias("bc"))
                .groupBy("bc.band", "bc.chunk")
                .agg(F.count(F.lit(1)).alias("pop"))
                .agg(
                    F.coalesce(
                        F.sum(
                            F.col("pop") * (F.col("pop") - 1) / F.lit(2)
                        ),
                        F.lit(0.0),
                    ).alias("cand"),
                    F.coalesce(
                        (F.sum("pop") / F.lit(sc_chunks)).cast("long"),
                        F.lit(0).cast("long"),
                    ).alias("n"),
                )
                .collect()[0]
            )
            return int(row["n"]), float(row["cand"])

        n_docs, single_cands = cached_value(
            plan_key(docs, "simhash_blockprobe", id_col, text_col, max_hamming),
            probe,
        )
        block_pairs = single_cands > BLOCK_CAND_PER_DOC * max(n_docs, 1)
    if block_pairs:
        n_chunks = max_hamming + 2
        chunk_bits = max(1, SIMHASH_BITS // n_chunks)
        if n_chunks * chunk_bits > SIMHASH_BITS:
            raise ValueError(
                f"max_hamming={max_hamming} needs {n_chunks} non-empty "
                f"chunks of {SIMHASH_BITS} bits"
            )
        mask = (1 << chunk_bits) - 1
        chunk = (
            lambda i: f"(shiftright(simhash, {i * chunk_bits}) & {mask})"
        )
        keys = [
            f"{chunk(i)} * {1 << chunk_bits} + {chunk(j)}"
            for i in range(n_chunks)
            for j in range(i + 1, n_chunks)
        ]
    else:
        n_chunks = max_hamming + 1
        chunk_bits = -(-SIMHASH_BITS // n_chunks)  # ceil
        mask = (1 << chunk_bits) - 1
        keys = [
            f"(shiftright(simhash, {i * chunk_bits}) & {mask})"
            for i in range(n_chunks)
        ]
    # one row per (doc, block key) via a single explode — no per-band
    # union; one parsed expression string (see _signatures_from_shingles)
    chunk_structs = F.expr(
        "array("
        + ", ".join(
            f"struct({b} AS band, {k} AS chunk)" for b, k in enumerate(keys)
        )
        + ")"
    )
    banded = s.select(
        F.col(id_col), "simhash", F.explode(chunk_structs).alias("bc")
    ).select(
        F.col(id_col),
        F.col("bc.band").alias("band"),
        F.col("bc.chunk").alias("chunk"),
        "simhash",
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), "band", "chunk", F.col("simhash").alias("sh_a")
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), "band", "chunk", F.col("simhash").alias("sh_b")
    )
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may agree on several chunks
    )


def _clusters_from_collected(docs: DataFrame, rows, id_col: str) -> DataFrame:
    """Exact connected components from a bounded collected pair list:
    path-compressing union-find on the driver, min-id per component, then
    one broadcast left join labels every doc (singletons self-label)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict = {}
    for x in set(parent):
        members.setdefault(find(x), []).append(x)
    mapping = []
    for root, xs in members.items():
        cluster = min(xs + [root])
        for x in xs + [root]:
            mapping.append((x, cluster))
    spark = docs.sparkSession
    id_type = docs.schema[id_col].dataType.simpleString()
    if mapping:
        import pandas as pd  # Arrow path: bounded map ships in batches

        map_df = spark.createDataFrame(
            pd.DataFrame(mapping, columns=["node", "__cluster"]),
            f"node {id_type}, __cluster {id_type}",
        )
        labeled = (
            docs.select(F.col(id_col).alias("node"))
            .join(F.broadcast(map_df), "node", "left")
            .select(
                F.col("node").alias(id_col),
                F.coalesce(F.col("__cluster"), F.col("node")).alias("cluster_id"),
            )
        )
    else:
        labeled = docs.select(
            F.col(id_col), F.col(id_col).alias("cluster_id")
        )
    # one row per DOC — corpus-sized output, so the presentation sort is
    # size-cutover (functions.sized_sort keyed on the corpus frame), not
    # unconditionally gathered
    return sized_sort(labeled, docs, id_col)


def _star_contraction(pairs: DataFrame, max_iter: int):
    """Alternating large-star/small-star connected components over an
    edge list (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — returns ``(star_edges, rounds)`` where
    ``star_edges`` is the converged (node, cluster_min) map for every
    non-minimum edge-incident node.

    Each round is two edge-set rewrites, each ONE min-window pass (r13:
    the groupBy-MIN + join-back form computed the same per-src minimum
    twice — an aggregate exchange AND a join exchange per star, 6 tiny
    exchanges/round; the unordered window computes the min alongside the
    rows that need it in one exchange each, and the small-star's two
    emissions leave as an array explode instead of a union of two
    recomputed branches — 3 exchanges/round, no joins, measured 2.4 s →
    1.0 s at sf0.1's 256-edge sliver):

    - **large-star**: every node attaches its STRICTLY LARGER neighbors
      to the minimum of its closed neighborhood — hubs shatter here in
      ONE round (a 10⁵-degree hub is one window group: its rows land in
      one task — exactly the rows the old join shuffled to the same
      task — and WindowExec spills gracefully if a group outgrows
      memory);
    - **small-star**: every node merges its (all smaller) parents onto
      the minimum parent — multi-parent nodes collapse to one edge.

    Connectivity is preserved by both rewrites (op. cit. Lemma 1) and
    the edge set contracts toward star form in O(log² n) rounds on
    adversarial graphs, O(log n) typical. Versus the min-label
    propagation this replaced: the iteration state is the PAIR-SLIVER
    edge set alone — no corpus-sized (node, label) table shuffled every
    round — so a billion-doc corpus with a million near-dup pairs
    iterates over ~10⁶ rows, not 10⁹. Each round localCheckpoints (plans
    must not grow with rounds) and the fixpoint test is exact set
    equality (counts + exceptAll on DISTINCT sets): at the fixpoint the
    edges ARE the component map. Raises on non-convergence — partial
    labels are silent wrong answers. r14: the input edge set is no
    longer pre-counted in its own job — round 1's count materializes it,
    comparisons start at round 2 — so an input that is ALREADY star-form
    is detected one round later (and ``max_iter=1`` cannot certify a
    pre-converged input); every normal invocation saves one whole
    scheduling-floor job.
    """
    E = (
        pairs.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("src"),
            F.least(F.col("id_a"), F.col("id_b")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # lazy checkpoint: round 1's count materializes it in the SAME
        # job as round 1's own edges (r14 — the previous standalone
        # E.count() was one whole scheduling-floor job on a loop whose
        # sf0.1 cost is almost entirely the per-job floor)
        .localCheckpoint(eager=False)
    )
    # Size the iteration's shuffles to the MEASURED edge sliver (guide
    # §2: scale-adaptive partitioning): each round is 3 tiny exchanges
    # over the edge rows, and the session's shuffle width — sized for
    # corpus-scale scans — multiplies every one of them into
    # width × rounds near-empty tasks (AQE would coalesce these, but the
    # bench pins AQE off and at cluster scale the sliver is still orders
    # below the session width). r14: the width derives from round 1's
    # measured OUTPUT count (set before round 2 plans), so the initial
    # standalone count job is gone; round 1 runs at the session width —
    # its input is un-measured, which is also the honest cluster story
    # (the first pass over an unknown edge set should not be presized to
    # 1). Never raised above the session setting; restored in the
    # caller's finally before the (lazily-consumed) result plans.
    spark = pairs.sparkSession
    width_key = "spark.sql.shuffle.partitions"
    old_width = spark.conf.get(width_key)
    try:
        return _star_rounds(E, spark, width_key, int(old_width), max_iter)
    finally:
        spark.conf.set(width_key, old_width)


def _star_rounds(
    E: DataFrame, spark, width_key: str, session_width: int, max_iter: int
):
    e_count = None  # unknown until round 1 is measured (r14: no count job)
    wsrc = Window.partitionBy("src")
    for rounds in range(1, max_iter + 1):
        bidir = E.unionByName(
            E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # large-star: m(u) = min of u's closed neighborhood, computed by
        # an unordered min-window IN the same exchange that colocates
        # u's edges; larger neighbors re-attach to m(u). No distinct here
        # — duplicates are swallowed by the small-star's distinct below,
        # saving an exchange.
        large = (
            bidir.withColumn(
                "__m", F.least(F.col("src"), F.min("dst").over(wsrc))
            )
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        # small-star: every large-edge row (src, dst, m2=min parent)
        # emits (dst → m2) and (src → m2) as a 2-element array explode
        # (a union of two branches would re-execute the window twice);
        # self-loops (dst == m2) and duplicate (src → m2) emissions die
        # in the filter + distinct. Every dst < src in `large`, so
        # src != m2 always holds for the second emission.
        small = (
            large.withColumn("__m", F.min("dst").over(wsrc))
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("dst").alias("s"), F.col("__m").alias("d")
                        ),
                        F.struct(
                            F.col("src").alias("s"), F.col("__m").alias("d")
                        ),
                    )
                ).alias("__e")
            )
            .select(
                F.col("__e.s").alias("src"), F.col("__e.d").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # set equality on DISTINCT sets: equal counts gate the exceptAll
        # probe, so shrinking rounds pay one tiny count job and nothing
        # else (`and` short-circuits). The count doubles as the lazy
        # checkpoint's materializing action — one job per round, not two.
        # Round 1 has no previous count (r14: the standalone E.count()
        # job is gone), so it never probes — an already-converged input
        # is simply detected one round later, trading a rare extra round
        # for one fewer job on every normal invocation. (A fused
        # left-join probe computing |small| and |small ∩ E| in one job
        # was built and REJECTED by measurement: the per-round SMJ +
        # single-partition agg cost more than the one exceptAll job it
        # saves at the converged round — warm 0.74 → 1.04 s isolated.)
        small_count = small.count()
        stable = (
            e_count is not None
            and small_count == e_count
            and small.exceptAll(E).isEmpty()
        )
        # presize the NEXT round's exchanges to the measured sliver
        spark.conf.set(
            width_key,
            str(max(1, min(session_width, -(-small_count // 50_000)))),
        )
        E, e_count = small, small_count
        if stable:
            # measured size of the converged map, for the caller's
            # broadcast guard (no extra count job)
            E._bfa_edge_count = e_count
            return E, rounds
    raise RuntimeError(
        f"_star_contraction did not converge within max_iter={max_iter} "
        "rounds — returning partial components would be a silent wrong "
        "answer; raise max_iter"
    )


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
    driver_pair_limit: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair set: (id, cluster_id),
    cluster_id = MIN doc id reachable through pairs (singletons map to
    themselves). The transitive-closure complement to the greedy
    survivorship operators: A~B and B~C land in ONE cluster even when
    cos(A,C) misses the threshold.

    Two execution paths, picked by the observed pair count:

    **Bounded path** (≤ ``driver_pair_limit`` pairs — the overwhelmingly
    common case: near-dup pairs are a sliver of any corpus): one bounded
    collect feeds a driver-side union-find, and the component map joins
    back as a broadcast — exact, three jobs total, no iteration. This is
    the same bounded-driver-artifact pattern as the IVF centroid table;
    2 M pairs ≈ 32 MB on the driver. ``driver_pair_limit=0`` disables it.

    **Distributed path** (bigger pair sets): alternating
    large-star/small-star contraction (``_star_contraction`` — Kiveris
    et al., SoCC 2014). The iteration state is the edge set ALONE, so a
    billion-doc corpus with a million near-dup pairs iterates over ~10⁶
    edge rows; the corpus is touched exactly once, by the final
    label-back join. (The r≤10 min-label-propagation path this replaced
    shuffled a corpus-sized (node, label) table every round — correct,
    O(log diameter) rounds, but graph-scale-wrong by a factor of
    corpus/pairs per round.) Raises on non-convergence — partially
    contracted components are silently wrong answers.

    No SQL-expressible single query computes a fixpoint, but DuckDB's
    recursive CTE reproduces the same semantics for the oracle gate
    (oracles.sql_duplicate_clusters).
    """
    if driver_pair_limit:
        probe = pairs.select("id_a", "id_b").limit(driver_pair_limit + 1).collect()
        if len(probe) <= driver_pair_limit:
            return _clusters_from_collected(docs, probe, id_col)
    stars, _rounds = _star_contraction(pairs, max_iter)
    # Label-back join: the converged star map is edge-sliver-sized, but a
    # localCheckpoint plan has NO size estimate (Catalyst defaults it to
    # "huge"), so the planner would shuffle the CORPUS on the node key.
    # The edge count is already measured by the fixpoint test — use it:
    # under the same 2M bound as the driver union-find path, hint the
    # broadcast and keep the corpus unshuffled; past it, fall back to the
    # shuffle join (the map may genuinely be too big to broadcast).
    star_map = stars.select("src", F.col("dst").alias("__cluster"))
    if getattr(stars, "_bfa_edge_count", driver_pair_limit + 1) <= max(
        driver_pair_limit, 2_000_000
    ):
        star_map = F.broadcast(star_map)
    labeled = (
        docs.select(F.col(id_col).alias("node"))
        .join(
            star_map,
            F.col("node") == F.col("src"),
            "left",
        )
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("__cluster"), F.col("node")).alias("cluster_id"),
        )
    )
    # per-doc labels again: size-cutover presentation sort (see
    # _clusters_from_collected)
    return sized_sort(labeled, docs, id_col)


#: id offset for cross-corpus dedup — places corpus B's ids in a disjoint
#: range (far above any real doc id) so one LSH pass covers both corpora
CROSS_ID_OFFSET = 1 << 40


def cross_dedup_pairs(
    a: DataFrame,
    b: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 8,
    n_bands: int = 4,
    max_bucket_pop: int | None = 512,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora: (id_a ∈ A, id_b ∈ B,
    jaccard ≥ threshold) — the near-dup form of benchmark decontamination
    (exact n-gram overlap is ``contamination_check``) and of
    dataset-version diffing.

    One LSH pass over the tagged union instead of two per-corpus indexes:
    B's ids are offset into a disjoint range (``CROSS_ID_OFFSET``), the
    union runs the standard MinHash banding + exact-Jaccard verify
    (``minhash_lsh_pairs`` — every scale property carries over verbatim),
    and only cross-corpus survivors are kept. Because every B id sorts
    above every A id, the canonical ``id_a < id_b`` pair orientation makes
    the cross filter a pure range predicate: ``id_a < OFFSET ≤ id_b`` —
    within-A and within-B duplicate pairs drop without ever being
    distinguished structurally.
    """
    bu = b.select(
        (F.col(id_col) + F.lit(CROSS_ID_OFFSET)).alias(id_col),
        F.col(text_col),
    )
    uni = a.select(F.col(id_col), F.col(text_col)).unionByName(bu)
    pairs = minhash_lsh_pairs(
        uni, threshold, id_col, text_col, n, num_perm, n_bands, max_bucket_pop
    )
    return pairs.filter(
        (F.col("id_a") < CROSS_ID_OFFSET) & (F.col("id_b") >= CROSS_ID_OFFSET)
    ).select(
        "id_a",
        (F.col("id_b") - F.lit(CROSS_ID_OFFSET)).alias("id_b"),
        "jaccard",
    )


def neardup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus after near-dup removal at CLUSTER granularity: the rows of
    ``docs`` whose id is its cluster's minimum (one representative per
    connected component of ``pairs``; singletons survive trivially).

    Completes the dedup pipeline: pairs → components → survivors. The
    cluster-level policy is stricter than pairwise survivorship
    (``dedup_exact`` / ``embedding_dedup_survivors``): A~B and B~C kill
    both B and C even when (A, C) never paired. Shape: the cluster map is
    (id, cluster_id); survivors are ``id == cluster_id`` — a filter on the
    map, then a semi-join back to ``docs`` on id. The filtered survivor-id
    set is cluster-count-sized; the semi-join broadcasts it when small and
    shuffles by id otherwise (AQE decides) — either way the corpus scans
    once.
    """
    clusters = duplicate_clusters(docs, pairs, id_col)
    keep = clusters.filter(F.col("cluster_id") == F.col(id_col)).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def _span_fold(text_col, width: int):
    """Column expression: array of ALL ``width``-token spans, POSITIONAL —
    element i (0-based) is the span starting at token i, null for the
    ragged tail (starts with < ``width`` tokens left).

    Same measured zip_with-fold shape as ``shingle_array`` (a lambda must
    never reference an outer expression — interpreted HOFs re-evaluate
    captured children per element), but WITHOUT array_distinct/compact:
    position identity is the point here, so the tail nulls are kept in
    place and filtered after the posexplode."""
    toks = tokens(text_col)
    cur = toks
    for i in range(2, width + 1):
        shifted = F.slice(toks, i, F.size(toks))
        cur = F.zip_with(cur, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return cur


def span_index(
    docs: DataFrame,
    width: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The corpus's hashed positional span stream — (doc_id, pos,
    span_md5), pos 1-based, one row per ``width``-token window — built
    ONCE per (source files, plan, params) and session-persisted
    (index_cache discipline, the substring-grain twin of ``tf_index``).

    This is the shared artifact the whole span-dedup family derives from
    (``duplicated_spans`` aggregates it, ``duplicated_span_occurrences``
    semi-joins back onto it, ``span_novelty_scores`` folds it per doc), so
    the O(tokens·width) fold + md5 stream is paid once per corpus, not
    once per query. It is the engine analogue of Lee et al.'s suffix
    structure: corpus-sized, built as an index, served to many queries.
    MEMORY_AND_DISK persist — at corpus scales past storage memory the
    stream spills instead of recomputing.
    """
    key = plan_key(docs, "span_index", width, id_col, text_col)

    def _build() -> DataFrame:
        spans = docs.select(
            F.col(id_col),
            F.posexplode(
                _span_fold(F.col(text_col), width)
            ).alias("pos0", "span"),
        ).filter(F.col("span").isNotNull())
        return spans.select(
            F.col(id_col),
            (F.col("pos0") + F.lit(1)).cast("int").alias("pos"),
            F.md5("span").alias("span_md5"),
        )

    return cached_index(key, _build)


def _span_census(
    docs: DataFrame, width: int, id_col: str, text_col: str
) -> DataFrame:
    """Duplicated-span census artifact — (span_md5, n_docs,
    n_occurrences) for every span occurring >1× corpus-wide. Sparse by
    construction (most windows are unique), so it is cheap to persist and
    broadcast; session-cached one level above ``span_index`` with the
    source-frame key threaded down (plan_key on a cached handle would be
    None — see index_cache.plan_key's pitfall note)."""
    idx = span_index(docs, width, id_col, text_col)
    key = plan_key(docs, "span_census", width, id_col, text_col)

    def _build() -> DataFrame:
        return (
            idx.groupBy("span_md5")
            .agg(
                F.countDistinct(id_col).cast("long").alias("n_docs"),
                F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            )
            .filter(F.col("n_occurrences") > 1)
        )

    return cached_index(key, _build)


def duplicated_spans(
    docs: DataFrame,
    width: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplication census — the Lee et al. ("Deduplicating
    Training Data Makes Language Models Better") operator class: every
    ``width``-token window that occurs more than once ANYWHERE in the
    corpus, as (span_md5, n_docs, n_occurrences). Document-level dedup
    misses these: boilerplate headers, license blocks, and quoted passages
    duplicate at the substring level inside otherwise-unique documents.

    Scale shape: the span fold is a narrow O(tokens·width) per-row
    projection (no shuffle), the census is ONE groupBy on the span hash
    (map-side partial agg; a duplicated span's occurrences meet in one
    task), and the duplicated subset is sparse by construction — this is
    the same one-shuffle profile as ``exact_duplicates``, just at window
    rather than document granularity. At 100 TB the only hot spot is a
    pathologically viral span (one hash key's count), which partial
    aggregation already absorbs. Both the span stream and the census are
    session-cached index artifacts shared with the occurrence extractor
    and the novelty scorer (``span_index`` / ``_span_census``).
    """
    return gathered_sort(
        _span_census(docs, width, id_col, text_col), "span_md5"
    )


def duplicated_span_occurrences(
    docs: DataFrame,
    width: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every occurrence of a corpus-duplicated ``width``-token span —
    (doc_id, pos, span_md5), pos 1-based — the scrub-targeting companion
    of ``duplicated_spans``: a span-level scrubber cuts exactly these
    (doc, offset) windows.

    The duplicated-hash set (the shared census artifact) is sparse, so it
    broadcasts back onto the cached span stream (semi-join shape): the
    stream is scanned once more but never shuffled — occurrence
    extraction stays embarrassingly parallel. No output sort: the
    occurrence list is CORPUS-sized (grows with duplication mass, not
    bounded by a dimension), and a gathered presentation sort funnels it
    through one partition — measured α = 1.31 scaling sf1→sf10 with the
    sort vs ~1.0 without; consumers that need order sort their bounded
    slice.
    """
    hashed = span_index(docs, width, id_col, text_col)
    dup = F.broadcast(
        _span_census(docs, width, id_col, text_col).select("span_md5")
    )
    return hashed.join(dup, "span_md5").select(id_col, "pos", "span_md5")


def span_novelty_scores(
    docs: DataFrame,
    width: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document novelty from the substring census — (doc_id, n_spans,
    n_dup_spans, novelty_ppm): the fraction of a document's
    ``width``-token windows NOT duplicated anywhere in the corpus
    (integer parts-per-million; NULL when the document is shorter than
    the window). The RefinedWeb/Lee-et-al. quality signal at document
    grain: low novelty = boilerplate-heavy or heavily-quoted text, a
    direct memorization-risk ranking for curation.

    A window counts as duplicated if its hash occurs more than once in
    the corpus — including twice within the SAME document (in-doc
    repetition is the same memorization risk), consistent with
    ``duplicated_spans``.

    Scale shape: the span stream is the shared session-cached artifact
    (``span_index``); the duplicated-hash set is the shared census,
    sparse, broadcast into a left join (occurrence flagging never
    shuffles the corpus); the only exchange is the final per-doc
    aggregate. All-integer output — exact on any engine.
    """
    hashed = span_index(docs, width, id_col, text_col)
    dup = _span_census(docs, width, id_col, text_col).select("span_md5")
    per_doc = (
        hashed.join(F.broadcast(dup.withColumn("is_dup", F.lit(1))), "span_md5", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_spans"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("int").alias("n_dup_spans"),
        )
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_spans", F.lit(0)).cast("int").alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("int").alias("n_dup_spans"),
        F.when(
            F.coalesce("n_spans", F.lit(0)) > 0,
            F.expr("(CAST(n_spans AS BIGINT) - n_dup_spans) * 1000000 div n_spans"),
        ).alias("novelty_ppm"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 6,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken —
    the MOSS selection rule): slide a ``w``-window over each document's
    positional ``k``-gram hash stream and keep the MINIMAL hash of every
    window, rightmost position on ties — (doc_id, pos, fingerprint),
    pos 1-based. Winnowing guarantees any shared substring of length
    ≥ k + w − 1 contributes at least one shared fingerprint, while
    thinning the stream by ~2/(w+1) — the document-sketch primitive for
    plagiarism/overlap detection that survives insertions and deletions
    (unlike positional equality).

    Selection is ONE window pass over the shared cached span stream
    (``span_index`` — no text re-fold): the (min hash, rightmost pos) of
    each forward window is the string-min of ``hash ∥ zero-padded
    (10¹²−1−pos)`` (fixed-width, so lexicographic = (hash asc, pos desc)
    for every possible int32 position — the 12-digit complement cannot
    go negative or overflow its width, since pos ≤ 2³¹−1 < 10¹²),
    a trick both engines order identically; incomplete tail windows are
    dropped by a count-over-window guard, and duplicate selections
    (adjacent windows picking the same position) collapse via distinct.
    Documents with fewer than k + w − 1 tokens have no complete window
    and are absent, mirrored by the oracle. Scale: one shuffle on doc id
    (the window partitioning), then narrow ops — fingerprint volume is
    ~2/(w+1) of the span stream.

    The fingerprint table is itself a session-cached index artifact
    (index_cache discipline, like ``minhash_signatures``): it is the
    document SKETCH a MOSS-style deployment stores — ~2/(w+1) of the
    span stream, the bounded summary, never pair-sized — and two catalog
    consumers derive from it (``winnow_fingerprints`` and the
    ``winnow_overlap_pairs`` self-join), so the window selection pass
    runs once per (corpus, k, w).
    """
    return cached_index(
        plan_key(docs, "winnow_fps", k, w, id_col, text_col),
        lambda: _winnow_fingerprints(docs, k, w, id_col, text_col),
    )


def _winnow_fingerprints(
    docs: DataFrame, k: int, w: int, id_col: str, text_col: str
) -> DataFrame:
    idx = span_index(docs, k, id_col, text_col)
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    key = F.concat(
        F.col("span_md5"),
        F.format_string("%012d", F.lit(999999999999) - F.col("pos")),
    )
    sel = idx.select(
        F.col(id_col),
        F.min(key).over(win).alias("__sel"),
        F.count(F.lit(1)).over(win).alias("__cnt"),
    ).filter(F.col("__cnt") == w)
    return (
        sel.select(
            F.col(id_col),
            (
                F.lit(999999999999)
                - F.substring("__sel", 33, 12).cast("long")
            ).cast("int").alias("pos"),
            F.substring("__sel", 1, 32).alias("fingerprint"),
        )
        .distinct()
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    k: int = 6,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprint
    VALUES — (id_a, id_b, n_shared), id_a < id_b: the MOSS overlap
    report. By the winnowing guarantee a shared run of k + w − 1 tokens
    always surfaces, so this catches partial/plagiarized overlap that
    whole-document MinHash dilutes away on long documents.

    Shape: fingerprint the corpus (one window pass over the cached span
    stream), collapse to distinct (doc, fingerprint) — position does not
    matter for overlap counting — then the standard capped-posting
    self-join: fingerprints shared by more than ``max_fp_df`` documents
    are boilerplate (license headers) and are excluded from pair
    generation, the same documented df-cap discipline as
    ``ngram_jaccard_pairs``; pass None to disable. Pair volume is
    Σ_fp df² over the capped sparse fingerprint postings.

    The pair table (all pairs sharing ≥1 capped fingerprint, with their
    exact shared counts) is session-cached (r13, the pair-graph
    discipline — sparse by the df cap); ``min_shared`` is a filter over
    the artifact, so any threshold serves from one entry. In-memory
    corpora bypass.
    """
    def _build() -> DataFrame:
        fps = winnow_fingerprints(docs, k, w, id_col, text_col).select(
            id_col, "fingerprint"
        ).distinct()
        if max_fp_df is not None:
            # df cap as a WINDOW count over the fingerprint (the
            # hashed_jaccard_pairs discipline): one shuffle that leaves the
            # postings hash-partitioned on the self-join key. The previous
            # shape BROADCAST the under-cap fingerprint list — nearly every
            # distinct fingerprint (most have df=1), i.e. a broadcast that
            # grows with the corpus, the exact anti-pattern the df cap
            # exists to avoid.
            capped = (
                fps.withColumn(
                    "__df",
                    F.count(F.lit(1)).over(
                        Window.partitionBy("fingerprint")
                    ),
                )
                .filter(F.col("__df") <= max_fp_df)
                .drop("__df")
            )
        else:
            capped = fps
        a = capped.select(F.col(id_col).alias("id_a"), "fingerprint")
        b = capped.select(F.col(id_col).alias("id_b"), "fingerprint")
        return (
            a.join(b, "fingerprint")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        )

    pairs = cached_index(
        plan_key(
            docs, "winnow_overlap_graph", id_col, text_col, k, w, max_fp_df
        ),
        _build,
    )
    return pairs.filter(F.col("n_shared") >= min_shared)


def dedup_rate_by_source(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source corpus-health metric: what share of each source's
    documents is an exact duplicate of OTHER corpus content — (source,
    n_docs, n_dup_docs, dup_ppm). A document counts as a duplicate when
    its normalized-content hash appears on more than one document
    corpus-WIDE and it is not the group's keeper (min id) — so the keeper
    survives in its own source's clean count and every other copy, in
    whatever source it lives, is charged to THAT source. This is the
    routine per-provider duplication dashboard a multi-source ingest
    pipeline watches (a crawl slice suddenly re-serving syndicated
    content shows up here before the dedup bill does).

    Shape: the narrow (id, source, hash) projection LEFT-joins the
    sparse session-cached ``_dup_groups`` index (only >1-member hash
    groups — r13: the former join against the corpus-sized all-groups
    aggregate shipped every singleton hash through the join for a flag
    that is definitionally 0 there; the sparse side is broadcastable
    from its cached stats, so the corpus side no longer shuffles —
    guide §3.1/§2.2), then a |sources|-sized final aggregate.
    ``dup_ppm`` is an exact integer per-mille-of-a-thousand ratio
    (×10⁶ integer division), engine-neutral.
    """
    base = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.md5(normalized_text(F.col(text_col))).alias("__h"),
    )
    groups = _dup_groups(docs, id_col, text_col).select(
        F.col("content_md5").alias("__h"),
        F.col("keeper_id").alias("__keeper"),
    )
    flagged = base.join(groups, "__h", "left").select(
        source_col,
        (
            F.col("__keeper").isNotNull()
            & (F.col(id_col) != F.col("__keeper"))
        )
        .cast("int")
        .alias("__dup"),
    )
    return flagged.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("__dup"), F.lit(0)).cast("long").alias("n_dup_docs"),
        # exact integer `div` (the span_novelty_scores form) — floor of a
        # DOUBLE quotient could misround once the scaled numerator passes
        # 2^53, where DuckDB's BIGINT // stays exact
        F.expr(
            "CAST(coalesce(sum(__dup), 0) AS BIGINT) * 1000000"
            " div count(1)"
        )
        .cast("long")
        .alias("dup_ppm"),
    )


def scrub_duplicated_spans(
    docs: DataFrame,
    width: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level scrub (the C4/Lee-et-al. removal step the census
    family targets): delete every token covered by ANY corpus-duplicated
    ``width``-token window and reassemble the remainder in order —
    (doc_id, clean_text, n_tokens_kept, n_tokens_removed). Documents
    shorter than the window (no spans) pass through untouched; a
    document that is wholly duplicated material scrubs to the empty
    string but keeps its row (the caller decides whether to drop it).

    Scale shape: rides the shared session-cached artifacts —
    ``span_index`` (the positional hash stream) and the sparse broadcast
    census — so the only NEW work is one sparse per-doc aggregate of
    duplicated START positions (occurrence rows, not corpus rows) joined
    back onto a narrow tokenized projection; the coverage mask and
    reassembly are codegen-free array lambdas over MATERIALIZED columns
    (the shingle_array discipline: never capture an outer expression in
    an interpreted HOF), per-row O(tokens · dup_starts_in_doc) with the
    sparse factor near zero for clean documents. No corpus shuffle
    beyond the occurrence aggregate.
    """
    occ = duplicated_span_occurrences(docs, width, id_col, text_col)
    starts = occ.groupBy(id_col).agg(
        F.collect_list("pos").alias("__starts")
    )
    base = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
        .join(starts, id_col, "left")
        .select(
            F.col(id_col),
            "__t",
            F.coalesce("__starts", F.array().cast("array<int>")).alias(
                "__s"
            ),
        )
    )
    idx = F.when(
        F.size("__t") > 0,
        F.sequence(F.lit(1), F.size("__t")),
    ).otherwise(F.array().cast("array<int>"))
    base = base.withColumn("__idx", idx)
    kept = F.filter(
        F.col("__idx"),
        lambda i: ~F.exists(
            F.col("__s"), lambda s: (s <= i) & (i < s + F.lit(int(width)))
        ),
    )
    base = base.withColumn("__kept", kept)
    return base.select(
        F.col(id_col),
        F.array_join(
            F.transform(F.col("__kept"), lambda i: F.element_at("__t", i)),
            " ",
        ).alias("clean_text"),
        F.size("__kept").cast("int").alias("n_tokens_kept"),
        (F.size("__t") - F.size("__kept")).cast("int").alias(
            "n_tokens_removed"
        ),
    )


def max_duplicated_run(
    docs: DataFrame,
    width: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document LONGEST duplicated substring length (in tokens),
    certified from the ``width``-token census — (doc_id,
    max_run_tokens): ``r`` CONSECUTIVE duplicated window starts
    pos … pos+r−1 certify a duplicated substring of ``width + r − 1``
    tokens, so the doc's longest run converts directly to token length
    (0 when no window is duplicated). This is the headline statistic of
    Lee et al.'s substring-dedup analysis ("documents containing a
    duplicated substring of ≥ N tokens") at a fixed window grain —
    equal to the true longest duplicated substring for verbatim copies,
    a LOWER bound when only some windows duplicate, but an
    OVER-certification on periodic text (in 'a a a a a' every width-3
    window matches some other occurrence, so the run arithmetic claims
    the whole doc while the true longest duplicated substring is one
    token shorter: consecutive duplicated windows don't guarantee the
    UNION is duplicated). ``max_duplicated_run_exact`` computes the
    true statistic; this census form stays as the cheap screening grain.

    Scale shape: the gaps-and-islands pass (pos − row_number) runs over
    the SPARSE duplicated-occurrence stream — not the corpus — windowed
    per document (distributed by doc key), then two bounded aggregates;
    docs join back by id for the zero rows. The census and span stream
    are the family's shared session-cached artifacts.
    """
    occ = duplicated_span_occurrences(docs, width, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = occ.withColumn(
        "__g", F.col("pos") - F.row_number().over(w)
    )
    run_lens = runs.groupBy(id_col, "__g").agg(
        F.count(F.lit(1)).alias("__rl")
    )
    per_doc = run_lens.groupBy(id_col).agg(F.max("__rl").alias("__mr"))
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(
            F.col("__mr") + F.lit(int(width) - 1), F.lit(0)
        )
        .cast("int")
        .alias("max_run_tokens"),
    )


def _token_lcp(a, b):
    """Column expression: length of the longest common PREFIX (in
    tokens) of two token arrays; 0 when ``b`` is null (no neighbor).

    zip_with pads the shorter array with nulls, and ``x <=> y`` is false
    against that padding, so the first ``false`` position minus one IS
    the LCP; no false at all (array_position returns 0) means the
    arrays match through the shorter length. Lambda body references
    ONLY its own arguments (the interpreted-HOF capture pitfall —
    see shingle_array)."""
    matches = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
    fp = F.array_position(matches, F.lit(False))
    return F.when(b.isNull(), F.lit(0)).otherwise(
        F.when(fp == 0, F.least(F.size(a), F.size(b))).otherwise(fp - 1)
    )


def max_duplicated_run_exact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document longest duplicated substring length in tokens,
    EXACT — (doc_id, max_run_tokens): the true Lee et al. statistic,
    where a substring is duplicated when it occurs at ≥ 2 distinct
    (doc, pos) token positions corpus-wide (overlaps and same-document
    repeats count, exactly like the windowed census's occurrence rows).
    Upgrades ``max_duplicated_run``'s fixed-window LOWER bound (exact
    only for verbatim copies at window grain) to the suffix-array
    answer: ``exact >= windowed`` always, equal on verbatim copies.

    Algorithm — the suffix-array identity without a global suffix sort:
    the longest repeated prefix of suffix i is max(LCP(i, prev),
    LCP(i, next)) over lexicographic neighbors, and any two suffixes
    with LCP >= 2 share their first two tokens, so neighbors WITHIN the
    2-token-prefix group give the exact answer for every run >= 2 — a
    distributed window per (t1, t2), never a global sort. Runs of
    exactly 1 fall out of a vocabulary-sized token census (token occurs
    >= 2 times corpus-wide), which also covers length-1 suffixes and
    singleton groups. Doc-local suffixes are materialized as token
    arrays, so the shuffled payload is O(corpus_tokens x
    max_doc_tokens) — the right trade for short-document corpora; a
    long-document corpus would swap the materialized slice for
    prefix-doubling rank tables over the same grouping (the standard
    distributed SA construction), same downstream shape. Hot-bigram
    skew is bounded by the grain: over-cap groups would extend the
    prefix to 3+ tokens with a per-level census, the same demotion
    discipline as the LSH band cap. The per-doc result is
    parameter-free → session-cached (index_cache); the DuckDB oracle
    runs the independent formulation of the same identity, and the
    pytest reference is a plain sorted-suffix-list scan.
    """
    from ..functions import tokens
    from ..index_cache import cached_index, plan_key

    key = plan_key(docs, "lrs_exact", id_col, text_col)

    def _build() -> DataFrame:
        # r14: per-doc suffix truncation from the width-6 census bound.
        # The windowed census is an UPPER bound on the exact answer for
        # any duplicated substring of length >= 6 (all its width-6
        # windows duplicate and are consecutive, so the run arithmetic
        # certifies >= its length); lengths < 6 are bounded by 5. So no
        # two suffixes can share more than U = max(census, 5) prefix
        # tokens, and truncating every suffix slice to its doc's U + 1
        # tokens is LOSSLESS for every LCP the identity needs — while
        # cutting the shuffled suffix payload from O(Σ doc_len²) to
        # O(tokens × (U+1)) (U is tiny outside verbatim-copy docs). The
        # truncated sort keeps equal prefixes adjacent, which is all the
        # max-LCP-with-neighbor identity requires; the census rides the
        # span family's shared session artifacts (span_index/_span_census
        # at the catalog's width). Bound proven sound in
        # test_lrs_exact_truncation_bound_is_sound.
        bound = max_duplicated_run(docs, 6, id_col, text_col).select(
            F.col(id_col),
            (F.greatest(F.col("max_run_tokens"), F.lit(5)) + F.lit(1)).alias(
                "__k"
            ),
        )
        toks = docs.select(
            F.col(id_col), tokens(F.col(text_col)).alias("__t")
        )
        sfx = (
            toks.join(bound, id_col)
            .select(
                F.col(id_col),
                F.col("__t"),
                F.col("__k"),
                F.posexplode("__t").alias("__i0", "__t1"),
            )
            .select(
                F.col(id_col),
                "__t1",
                F.element_at("__t", F.col("__i0") + 2).alias("__t2"),
                F.slice(
                    "__t",
                    F.col("__i0") + 1,
                    F.least(F.size("__t") - F.col("__i0"), F.col("__k")),
                ).alias("__s"),
                (F.size("__t") - F.col("__i0")).alias("__slen"),
            )
        )
        census = (
            toks.select(F.explode("__t").alias("__tok"))
            .groupBy("__tok")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        w = Window.partitionBy("__t1", "__t2").orderBy("__s")
        nb = sfx.filter(F.col("__slen") >= 2).select(
            F.col(id_col),
            "__t1",
            F.greatest(
                _token_lcp(F.col("__s"), F.lag("__s").over(w)),
                _token_lcp(F.col("__s"), F.lead("__s").over(w)),
            ).alias("__nb"),
        )
        dup_tok = F.broadcast(census.filter(F.col("__c") >= 2).select("__tok"))
        long_best = nb.join(
            dup_tok, nb["__t1"] == dup_tok["__tok"], "left"
        ).select(
            F.col(id_col),
            F.when(F.col("__nb") >= 2, F.col("__nb"))
            .when(F.col("__tok").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("__v"),
        )
        tail_best = (
            sfx.filter(F.col("__slen") == 1)
            .join(dup_tok, sfx["__t1"] == dup_tok["__tok"], "left")
            .select(
                F.col(id_col),
                F.when(F.col("__tok").isNotNull(), F.lit(1))
                .otherwise(F.lit(0))
                .alias("__v"),
            )
        )
        per_doc = (
            long_best.unionByName(tail_best)
            .groupBy(id_col)
            .agg(F.max("__v").alias("__m"))
        )
        return docs.select(id_col).join(per_doc, id_col, "left").select(
            F.col(id_col),
            F.coalesce(F.col("__m"), F.lit(0)).cast("int").alias(
                "max_run_tokens"
            ),
        )

    return cached_index(key, _build)
