"""Session artifact registry: everything the engine derives once and
reuses for the rest of the session, under one key shape, one staleness
rule, two bounds and one release call.

A real engine does not recompute its inverted index, signature table or
quantized-vector store on every query, nor re-list a table's files: it
builds the artifact once and serves later queries from it (DuckDB gets
this from its buffer pool). The registry holds two stores:

- **Frames** (``cached_index``, store ``_HANDLES``): persisted
  DataFrames — the corpus index artifacts of the dedup/similarity/text
  operators (shingle arrays, MinHash signatures, quantized embeddings,
  pair graphs…), hot-pinned catalog tables (``catalog.load_table_hot``),
  imported fact tables (``duckdb_io.read_fact``) and the symbol-clustered
  fact projections. Bound: ``INDEX_CACHE_BUDGET_BYTES``. On every miss
  insert the registry polls the JVM's persisted-block footprint and
  unpersists least-recently-USED frames until the total fits (hits
  refresh recency).
- **Values** (``cached_value``, store ``_VALUES``): driver-side values
  and unpersisted relation handles — row counts, IVF seed tables, SQ
  grids, trained centroids, BPE merge lists, resolved query rows,
  probe-cell lists, table readers. Bound: ``SCALAR_CACHE_CAP`` entries,
  least-recently-used first (hits refresh recency).

Keys. Every key has the ``plan_key`` shape: ``key[0]`` is the tuple of
URIs the entry was derived from, the rest tags the artifact and its
parameters. ``plan_key``/``multi_plan_key`` key on the source files AND
the md5 of the canonicalized logical plan, so ``docs`` and
``docs.filter(...)`` never share an entry. ``path_key`` keys a relation
handle over a directory by a ``hot:PATH#md5(fingerprint)`` pseudo-URI
(the fingerprint is ``catalog._dir_fingerprint``). Frames that are not
file-backed get no key (None) and bypass the registry.

Staleness. Every miss insert sweeps both stores
(``sweep_dead_entries``): an entry is dead when a local file it names is
gone (an in-place table rewrite writes new part-file names) or when the
current fingerprint of a ``hot:`` directory no longer matches. Dead
frames are unpersisted.

Invalidation. ``invalidate(path)`` drops every entry that names a URI
under ``path``; writers call it when they rewrite a directory in a way
the sweep cannot see (the on-disk IVF index, a re-imported fact table).

``clear_indexes()`` empties both stores and releases the tracked scoped
persists (``tracked_persist``): storage returns to its baseline.

Two caches stay outside the registry: ``operators.availability.
_FACT_HANDLES`` (fact-table handles by path) and ``__spark_entry__.
_IVF_INDEX_PATHS`` (the on-disk IVF index per ``sf_dir``); the benchmark
harness reads them by name. It also reads three names here: ``cached_index`` (wrapped to count builds and
hits), ``_HANDLES`` (a hit is ``key in _HANDLES``) and ``storage_bytes``.
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable

from pyspark.sql import DataFrame

#: persisted frames, least-recently-used first
_HANDLES: dict = {}

#: driver-side values and unpersisted relation handles, LRU first
_VALUES: dict = {}

#: Total persisted-storage budget (bytes) above which miss inserts evict
#: least-recently-used frames. Counts ALL persisted blocks in the
#: session (fact handles and tracked scoped persists included — they share
#: the same storage pool), but only registry frames are evictable.
#: Default 8 GiB — generous for a single-node session, a rounding error
#: for a cluster (override via SPARK_GRAFT_INDEX_CACHE_BYTES; executors
#: sized for 100 TB set it to a fraction of aggregate storage memory).
INDEX_CACHE_BUDGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_INDEX_CACHE_BYTES", str(8 << 30))
)

#: entry cap of the value store — large enough that a whole catalog run
#: never evicts, small enough that a resident service rewriting tables
#: or serving new query ids forever stays flat.
SCALAR_CACHE_CAP = 512


def storage_bytes(spark) -> int:
    """Total bytes (memory + disk) of every persisted block in the
    session, from the driver's RDDStorageInfo — one py4j call, no job."""
    try:
        return sum(
            i.memSize() + i.diskSize()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        )
    except Exception:  # noqa: BLE001 — context stopped / exotic backend
        return 0


#: Bytes persisted by NON-evictable owners (fact handles, tracked scoped
#: persists) observed the last time evicting every frame still left
#: the session over budget. storage_bytes() counts the whole session pool,
#: so without this floor a foreign footprint larger than the budget makes
#: every miss insert evict every frame down to the inserted key
#: — silent thrash of exactly the warm artifacts the catalog depends on
#: (r11 advice). Budget checks subtract the floor; it resets whenever the
#: session footprint drops below it (foreign blocks were released).
_FOREIGN_FLOOR = 0

#: Observability: number of times eviction exhausted every evictable
#: frame while the session stayed over budget (i.e. the overage was not
#: attributable to the registry). Non-zero means the budget is sized
#: below the session's non-evictable persists.
EVICTION_STALLS = 0


def _attributable_bytes(spark) -> int:
    """Session persisted footprint minus the recorded non-evictable
    floor — the portion of the pool the registry can actually free."""
    global _FOREIGN_FLOOR
    total = storage_bytes(spark)
    if total < _FOREIGN_FLOOR:
        _FOREIGN_FLOOR = 0  # foreign blocks released; stop discounting
    return total - _FOREIGN_FLOOR


def _release(store: dict, key, blocking: bool = False) -> None:
    """Drop ``key`` from ``store``; a frame is also unpersisted. Values
    are never unpersisted: a table reader's plan can equal a cached
    frame's plan, and the CacheManager would drop that frame too."""
    handle = store.pop(key)
    if store is _HANDLES:
        try:
            handle.unpersist(blocking=blocking)
        except Exception:  # noqa: BLE001 — context may already be stopped
            pass


def _evict_over_budget(spark, keep_key) -> int:
    """Unpersist least-recently-used frames until the session's
    ATTRIBUTABLE persisted footprint fits the budget. ``keep_key`` (the
    entry being inserted) is never evicted — a new artifact must not
    evict itself before first use. Returns the number of evictions.
    Freshly inserted, not-yet-materialized handles report 0 bytes, so the
    budget reacts one insert late — steady state is bounded by budget +
    one artifact. If evicting every evictable frame still leaves the
    session over budget, the residual is non-evictable (fact handles,
    scoped persists): it is recorded as the foreign floor and discounted
    from later checks, so a big foreign footprint degrades to a smaller
    effective budget instead of evict-everything thrash."""
    global _FOREIGN_FLOOR, EVICTION_STALLS
    # Decay the floor on every miss insert: it was measured at one
    # stall instant, and only a total-below-floor drop resets it — if
    # foreign blocks shrink while frames grow, total stays above
    # the stale-high floor forever and the discount lets the cache
    # under-evict past the budget indefinitely. Geometric decay
    # (-12.5%/insert) converges the discount back toward zero; if the
    # foreign footprint is genuinely still large, the next stall
    # re-measures it at the true current value.
    _FOREIGN_FLOOR -= _FOREIGN_FLOOR >> 3
    n = 0
    while (
        len(_HANDLES) > 1
        and _attributable_bytes(spark) > INDEX_CACHE_BUDGET_BYTES
    ):
        victim = next((k for k in _HANDLES if k != keep_key), None)
        if victim is None:
            break
        _release(_HANDLES, victim, blocking=True)
        n += 1
    if (
        len(_HANDLES) <= 1
        and n
        and _attributable_bytes(spark) > INDEX_CACHE_BUDGET_BYTES
    ):
        EVICTION_STALLS += 1
        _FOREIGN_FLOOR = storage_bytes(spark)
    return n


def _hot_uri(path: str, fp) -> str:
    """``hot:PATH#md5(FP)`` — the identity of one snapshot of directory
    ``path``. The md5, not str(FP): the raw fingerprint embeds file
    NAMES, and a name containing '#' would corrupt the sweep's
    rpartition('#') split (the entry would evict and rebuild on every
    miss insert). The hash also keeps keys small for large directories."""
    return f"hot:{path}#{hashlib.md5(str(fp).encode()).hexdigest()}"


def path_key(path: str, fp, *extra):
    """Key for a relation handle over directory ``path`` whose
    fingerprint (``catalog._dir_fingerprint``) is ``fp``: a rewrite
    changes the fingerprint, so the next read misses and the sweep drops
    the superseded entry."""
    return ((_hot_uri(path, fp),), *extra)


def plan_key(df: DataFrame, *extra):
    """Cache key for an index artifact derived from ``df``, or None when
    ``df`` is not file-backed (then caching is disabled for safety).

    PITFALL: call this on the RAW source frame, never on a frame derived
    from another cached handle — ``inputFiles()`` is empty through an
    InMemoryRelation (the optimized plan has no file scan), so the key
    degenerates to None and silently disables caching. Operators that
    build an index over another index thread the source-frame key down
    (see dedup._pair_jaccard's ``postings_key``). Hot-pinned catalog
    tables (``catalog.load_table_hot``) and fact handles carry their
    source identity in ``_spark_graft_source`` — (path, fingerprint) —
    which substitutes for the empty file list as a ``hot:`` URI, so
    derived artifacts over them cache too and go stale exactly when the
    directory's fingerprint changes."""
    try:
        files = tuple(sorted(df.inputFiles()))
        if not files:
            src = getattr(df, "_spark_graft_source", None)
            if src is None:
                return None
            files = (_hot_uri(*src),)
        plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
    except Exception:  # noqa: BLE001 — streaming/exotic plans: just don't cache
        return None
    return (files, hashlib.md5(plan.encode()).hexdigest(), *extra)


def multi_plan_key(dfs, *extra):
    """Cache key for an artifact derived from SEVERAL source frames
    (e.g. a fact ⋈ dimension pre-join rollup). ``key[0]`` merges every
    source's input files, so ``sweep_dead_entries`` invalidates the
    artifact when ANY source table is rewritten — a single-source
    plan_key with the second frame folded into ``extra`` would dodge
    the sweep and serve a stale pre-join. None when any source is
    non-file-backed (same safety rule as plan_key)."""
    parts = [plan_key(df) for df in dfs]
    if any(p is None for p in parts):
        return None
    files = tuple(sorted({f for p in parts for f in p[0]}))
    digest = hashlib.md5("|".join(p[1] for p in parts).encode()).hexdigest()
    return (files, digest, *extra)


def _local_path(uri: str) -> str | None:
    """Filesystem path named by a ``file:`` URI or a scheme-less path;
    None for remote schemes (``hdfs:``, ``s3a:``…)."""
    if uri.startswith("file:"):
        import urllib.parse

        return urllib.parse.unquote(uri[5:].replace("///", "/", 1)) or None
    scheme, colon, _ = uri.partition(":")
    return uri if not colon or "/" in scheme else None


def _hot_path(uri: str) -> str:
    """Directory named by a ``hot:PATH#md5`` URI."""
    return uri[4:].rpartition("#")[0]


def _norm(uri: str) -> str:
    """Comparable form of a path or entry URI: ``hot:`` unwrapped, local
    paths (scheme-less or ``file:``) made absolute, remote URIs as
    written without a trailing '/'."""
    if uri.startswith("hot:"):
        uri = _hot_path(uri)
    p = _local_path(uri)
    return os.path.abspath(p) if p is not None else uri.rstrip("/")


def _uris(key) -> tuple:
    files = key[0] if isinstance(key, tuple) and key else ()
    if not isinstance(files, tuple):
        return ()
    return tuple(u for u in files if isinstance(u, str))


def _drop_where(stores, doomed: Callable[[str], bool]) -> int:
    """Release every entry of ``stores`` naming a URI for which
    ``doomed`` holds; returns the number released."""
    n = 0
    for store in stores:
        for key in [k for k in store if any(map(doomed, _uris(k)))]:
            _release(store, key)
            n += 1
    return n


def _is_dead(uri: str) -> bool:
    if uri.startswith("hot:"):
        from . import catalog

        path = _hot_path(uri)
        return _hot_uri(path, catalog._dir_fingerprint(path)) != uri
    p = _local_path(uri)
    return p is not None and not os.path.exists(p)


def sweep_dead_entries(*stores) -> int:
    """Release entries whose sources no longer exist as they were keyed;
    both stores when none is given. Returns the number released.

    A table rewritten in place gets NEW part-file names, so the
    superseded snapshot's entries name deleted files; without this sweep
    they would sit in the registry (frames: persisted in executor
    storage) for the session. A ``hot:PATH#md5(FP)`` URI is dead when the
    md5 of the directory's CURRENT fingerprint differs. Remote
    (non-``file:``) inputs are never treated as dead — existence can't be
    checked cheaply and a false eviction only costs a rebuild anyway.
    Each distinct URI is checked once per sweep; sweeps run only on
    miss inserts, so steady-state hits pay nothing."""
    seen: dict[str, bool] = {}

    def dead(uri: str) -> bool:
        if uri not in seen:
            seen[uri] = _is_dead(uri)
        return seen[uri]

    return _drop_where(stores or (_HANDLES, _VALUES), dead)


def invalidate(path: str) -> int:
    """Release every entry (frame or value) that names a URI at or under
    ``path`` — for writers that rewrite a directory in place. Returns
    the number released. ``path`` and the entry URIs are compared in one
    normal form (``_norm``), so a ``file:`` or remote root releases its
    own entries."""
    root = _norm(path)
    prefix = root.rstrip("/") + "/"

    def under(uri: str) -> bool:
        p = _norm(uri)
        return p == root or p.startswith(prefix)

    return _drop_where((_HANDLES, _VALUES), under)


def cached_index(key, factory: Callable[[], DataFrame]) -> DataFrame:
    """Return the persisted frame for ``key``, building it via
    ``factory`` on first use. ``key=None`` bypasses the registry.
    Every miss first sweeps dead entries, so superseded snapshots don't
    accumulate in executor storage on long-lived sessions."""
    if key is None:
        return factory()
    handle = _HANDLES.get(key)
    if handle is None:
        sweep_dead_entries()
        handle = factory().persist()
        _HANDLES[key] = handle
        _evict_over_budget(handle.sparkSession, key)
    else:
        # LRU recency: dicts preserve insertion order, so re-inserting on
        # a hit makes iteration order = least-recently-used-first
        _HANDLES[key] = _HANDLES.pop(key)
    return handle


def cached_value(key, factory: Callable[[], object]):
    """Return the driver-side value (or unpersisted relation handle) for
    ``key``, computing it via ``factory`` on first use. ``key=None``
    bypasses the registry. Every miss sweeps dead entries, then evicts
    least-recently-used values down to ``SCALAR_CACHE_CAP``; a hit
    refreshes recency, so busy readers, seeds and trained models outlive
    per-query churn."""
    if key is None:
        return factory()
    if key in _VALUES:
        _VALUES[key] = value = _VALUES.pop(key)
        return value
    sweep_dead_entries()
    value = factory()
    while len(_VALUES) >= SCALAR_CACHE_CAP:
        _release(_VALUES, next(iter(_VALUES)))
    _VALUES[key] = value
    return value


#: persists made OUTSIDE the keyed stores (self-join intermediates over
#: non-file-backed inputs) — tracked so clear_indexes() releases them.
#: Strong references ON PURPOSE: DataFrame.persist registers the plan in
#: the JVM CacheManager, which pins the storage blocks until an explicit
#: unpersist — Python GC never frees them (the ContextCleaner's weak-ref
#: reclamation applies to raw RDD caches only). A weakref registry would
#: therefore turn every dropped handle into a permanently leaked block.
_SCOPED: list = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` with session-scoped release discipline.

    Operators that materialize a self-join intermediate (simhash_pairs,
    lsh_cosine_pairs) persist it for the duration of the returned lazy
    result. When the input is file-backed the intermediate IS the keyed
    index artifact (already tracked); otherwise the persist would be
    invisible to ``clear_indexes()``. Tracked intermediates live until
    ``clear_indexes()`` is called — there is no GC fallback, because SQL
    caches sit in the JVM CacheManager until explicitly unpersisted; call
    ``clear_indexes()`` between corpus-scale phases on long-lived sessions.
    """
    _SCOPED.append(df.persist())
    return df


def clear_indexes() -> None:
    """Empty the registry — every frame unpersisted, every value dropped
    — and release every tracked scoped persist: storage memory returns
    to its pre-registry baseline."""
    global _FOREIGN_FLOOR
    _FOREIGN_FLOOR = 0
    for store in (_HANDLES, _VALUES):
        while store:
            _release(store, next(iter(store)), blocking=True)
    while _SCOPED:
        try:
            _SCOPED.pop().unpersist(blocking=True)
        except Exception:  # noqa: BLE001
            pass
