"""The artifact registry (index_cache): one key shape, one staleness rule,
two bounds and one clear() for every derived artifact and relation
handle the engine reuses within a session."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import random
import re

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / (
    "binance_futures_availability_spark"
)


def _embedding_rows(n: int = 320, dim: int = 8, seed: int = 5):
    rng = random.Random(seed)
    return [(i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(n)]


_EMB_SCHEMA = "vec_id long, embedding array<double>"


def _write_embeddings(spark, path: str, n: int = 320):
    spark.createDataFrame(_embedding_rows(n), _EMB_SCHEMA).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture
def tiny_sf(spark, tmp_path, monkeypatch):
    """An sf directory holding only ``lineitem`` (what the fact derivation
    reads), with the fact cache rooted under the test's own tmp dir."""
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    rows = [
        (
            o * 10 + ln,
            1 + (o % 3),
            ln,
            float(1 + ln),
            100.0 + o,
            dt.datetime(2020, 1, 1 + (o % 4)),
        )
        for o in range(12)
        for ln in range(1, 4)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_shipdate timestamp",
    ).write.parquet(str(sf_dir / "lineitem.parquet"))
    monkeypatch.setenv("SPARK_GRAFT_CACHE", str(tmp_path / "cache"))
    return str(sf_dir)


def test_ivf_seeds_keyed_by_plan_not_files(spark, tmp_path):
    """The coarse quantizer of ``emb.filter(...)`` is that frame's own
    lowest-id vectors: a seed table keyed on input files alone served
    the full corpus's seeds to the filtered frame, so its cell
    assignment depended on what ran earlier in the session."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import similarity

    emb = _write_embeddings(spark, str(tmp_path / "emb.parquet"))
    # an in-memory copy is never keyed, so it always trains its own seeds
    mem = spark.createDataFrame(_embedding_rows(), _EMB_SCHEMA)

    def cells(df):
        return {r["vec_id"]: r["cell"] for r in similarity.ivf_cells(df).collect()}

    index_cache.clear_indexes()
    cells(emb)
    got = cells(emb.filter("vec_id >= 250"))
    want = cells(mem.filter("vec_id >= 250"))
    assert len(want) == 70
    assert got == want
    index_cache.clear_indexes()


def test_fact_derived_key_survives_sweep_and_unrelated_miss(spark, tmp_path, tiny_sf):
    """The fact handle's source fingerprint is the one the sweep
    recomputes, so a fact-derived artifact is live until the fact
    directory changes — not evicted by the next unrelated miss insert."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators.availability import (
        availability_fact,
    )

    index_cache.clear_indexes()
    da = availability_fact(spark, tiny_sf)
    key = index_cache.plan_key(da, "fact_probe")
    assert key is not None and key[0][0].startswith("hot:")
    index_cache.cached_index(key, lambda: da.select("symbol"))
    assert index_cache.sweep_dead_entries(index_cache._HANDLES) == 0
    assert key in index_cache._HANDLES
    other = str(tmp_path / "other.parquet")
    spark.range(5).write.parquet(other)
    odf = spark.read.parquet(other)
    index_cache.cached_index(index_cache.plan_key(odf, "unrelated"), lambda: odf)
    assert key in index_cache._HANDLES
    index_cache.clear_indexes()


def test_fact_readers_pin_nothing(spark, tmp_path, tiny_sf, populated_da):
    """Both fact readers serve straight from their parquet files: reading
    the whole fact through ``availability_fact`` or ``read_fact`` adds
    no persisted block, and neither handle is cached."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators.availability import (
        availability_fact,
    )
    from binance_futures_availability_spark.sources import duckdb_io

    fact_path = str(tmp_path / "imported.parquet")
    populated_da.write.parquet(fact_path)
    availability_fact(spark, tiny_sf)  # materialize before the baseline
    base = index_cache.storage_bytes(spark)
    da = availability_fact(spark, tiny_sf)
    assert da.count() > 0
    imported = duckdb_io.read_fact(spark, fact_path)
    assert imported.count() == populated_da.count()
    assert index_cache.storage_bytes(spark) == base
    assert not da.is_cached and not imported.is_cached


def test_scrub_boilerplate_falls_back_when_plan_key_is_none(
    spark, tmp_path, monkeypatch
):
    """A file-backed frame whose plan cannot be keyed takes the
    registry's ``key=None`` bypass: scrub_boilerplate persists nothing
    outside the registry and returns the keyed run's rows."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import textops

    path = str(tmp_path / "docs.parquet")
    text = "alpha beta gamma delta epsilon zeta eta theta"
    spark.createDataFrame(
        [(i, f"{text} doc{i}") for i in range(4)], "doc_id long, text string"
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    index_cache.clear_indexes()
    keyed = sorted(textops.scrub_boilerplate(docs, chunk_tokens=4).collect())
    index_cache.clear_indexes()
    monkeypatch.setattr(index_cache, "plan_key", lambda df, *extra: None)
    n = len(index_cache._SCOPED)
    out = sorted(textops.scrub_boilerplate(docs, chunk_tokens=4).collect())
    assert len(index_cache._SCOPED) == n
    assert not index_cache._HANDLES
    assert len(out) == 4 and out == keyed
    index_cache.clear_indexes()


def test_ivf_query_rows_capped(spark, tmp_path, monkeypatch):
    """Each served query id resolves its row once, as a capped registry
    value: serving ever more ids keeps the value store flat."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import similarity

    emb = _write_embeddings(spark, str(tmp_path / "emb.parquet"), n=60)
    idx = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, idx, n_cells=4)
    index_cache.clear_indexes()
    monkeypatch.setattr(index_cache, "SCALAR_CACHE_CAP", 4)
    for qid in range(6):
        similarity.ivf_topk_indexed(spark, idx, qid, k=3, nprobe=2)
    assert 0 < len(index_cache._VALUES) <= 4
    index_cache.clear_indexes()


def test_append_to_ivf_index_invalidates_serving_entries(spark, tmp_path):
    """Appending to an on-disk index releases the cached reader, query
    rows and probe cells under its vectors table (a cached reader pins a
    stale listing) and keeps the immutable resident seeds."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import similarity

    emb = _write_embeddings(spark, str(tmp_path / "emb.parquet"), n=80)
    idx = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb.filter("vec_id < 60"), idx, n_cells=4)
    index_cache.clear_indexes()
    queries = emb.filter("vec_id < 5")
    similarity.ivf_topk_indexed(spark, idx, 0, k=3, nprobe=2)
    similarity.knn_join_indexed(spark, idx, queries, k=3, nprobe=2)

    def tags(under: str):
        return {
            k[1] if len(k) > 1 else None
            for k in index_cache._VALUES
            if any(u.startswith(under) for u in k[0])
        }

    vectors = idx + "/vectors"
    before = tags(vectors)
    assert {"ivf_reader", "ivf_query_row"} <= before
    assert len([k for k in index_cache._VALUES if vectors in k[0]]) == 3
    assert "ivf_seeds" in tags(idx + "/seeds")

    similarity.append_to_ivf_index(emb.filter("vec_id >= 60"), idx)
    assert not [k for k in index_cache._VALUES if vectors in k[0]]
    assert "ivf_seeds" in tags(idx + "/seeds")
    # the fresh reader lists the appended files
    assert similarity._index_vectors(spark, idx).count() == 80
    index_cache.clear_indexes()


def test_ivf_writers_invalidate_file_uri_root(spark, tmp_path):
    """An index addressed by a ``file:`` URI releases its own serving
    entries on append and rebuild, like a plain path does."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import similarity

    emb = _write_embeddings(spark, str(tmp_path / "emb.parquet"), n=80)
    idx = "file://" + str(tmp_path / "ivf")
    similarity.write_ivf_index(emb.filter("vec_id < 60"), idx, n_cells=4)
    index_cache.clear_indexes()
    similarity.ivf_topk_indexed(spark, idx, 0, k=3, nprobe=2)
    similarity.knn_join_indexed(spark, idx, emb.filter("vec_id < 5"), k=3)

    def under(sub: str):
        return [k for k in index_cache._VALUES if any(u.startswith(sub) for u in k[0])]

    assert len(under(idx + "/vectors")) == 3
    assert len(under(idx + "/seeds")) == 1
    similarity.append_to_ivf_index(emb.filter("vec_id >= 60"), idx)
    assert not under(idx + "/vectors")
    assert similarity._index_vectors(spark, idx).count() == 80
    similarity.write_ivf_index(emb, idx, n_cells=4)
    assert not under(idx)
    index_cache.clear_indexes()


def test_invalidate_matches_remote_roots_on_segment_boundaries():
    """A remote root releases the entries under it, whether keyed by file
    URI or by ``hot:`` directory, and no sibling sharing its prefix."""
    from binance_futures_availability_spark import index_cache

    index_cache.clear_indexes()
    keys = [
        (("hdfs://nn/idx/vectors",), "ivf_reader"),
        (("hdfs://nn/idx/vectors/cell=1/part-0.parquet",), "md5", "n"),
        index_cache.path_key("hdfs://nn/idx/seeds", None, "ivf_seeds"),
        (("hdfs://nn/idx2/vectors",), "ivf_reader"),
        (("s3a://b/idx/vectors",), "ivf_reader"),
    ]
    for i, key in enumerate(keys):
        index_cache.cached_value(key, lambda i=i: i)
    assert index_cache.invalidate("hdfs://nn/idx/") == 3
    assert list(index_cache._VALUES) == keys[3:]
    index_cache.clear_indexes()


def test_value_hit_refreshes_recency(monkeypatch):
    """The value cap evicts least-recently-used entries: a value served
    again outlives newer entries that were never reused."""
    from binance_futures_availability_spark import index_cache

    index_cache.clear_indexes()
    monkeypatch.setattr(index_cache, "SCALAR_CACHE_CAP", 3)

    def key(name):
        return ((f"hdfs://nn/{name}",), name)

    for name in ("reader", "q1", "q2"):
        index_cache.cached_value(key(name), lambda: name)
    index_cache.cached_value(key("reader"), lambda: "rebuilt")
    index_cache.cached_value(key("q3"), lambda: "q3")
    assert index_cache._VALUES[key("reader")] == "reader"
    assert key("q1") not in index_cache._VALUES
    index_cache.clear_indexes()


def test_clear_indexes_empties_every_store(spark, tmp_path, tiny_sf, populated_da):
    """Every kind of registry entry — a frame artifact, a value, a table
    reader, a hot table, a clustered fact projection, an imported fact
    table and the on-disk IVF serving entries — is released by one
    clear_indexes(); persisted storage returns to its baseline."""
    from binance_futures_availability_spark import catalog, index_cache
    from binance_futures_availability_spark.operators import similarity
    from binance_futures_availability_spark.operators.availability import (
        availability_fact,
        availability_fact_by_symbol,
    )
    from binance_futures_availability_spark.sources import duckdb_io

    # the fact table itself is stored outside the registry: materialize
    # it before taking the baseline
    availability_fact(spark, tiny_sf).count()
    index_cache.clear_indexes()
    base = index_cache.storage_bytes(spark)

    emb = _write_embeddings(spark, str(tmp_path / "emb.parquet"), n=40)
    idx = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, idx, n_cells=4)
    similarity.ivf_topk_indexed(spark, idx, 1, k=3, nprobe=2).collect()
    similarity.knn_join_indexed(spark, idx, emb.filter("vec_id < 4"), k=2).collect()
    similarity._vec_count(emb, "embedding")
    catalog.load_table(spark, tiny_sf, "lineitem")
    catalog.load_table_hot(spark, tiny_sf, "lineitem", slices=2).count()
    availability_fact_by_symbol(spark, tiny_sf).count()
    fact_path = str(tmp_path / "imported.parquet")
    populated_da.write.parquet(fact_path)
    duckdb_io.read_fact(spark, fact_path).count()
    index_cache.tracked_persist(spark.range(10)).count()

    tags = {
        t
        for store in (index_cache._HANDLES, index_cache._VALUES)
        for k in store
        for t in k[1:]
        if isinstance(t, str)
    }
    assert {"table", "hot", "symbol_clustered", "fact_import"} <= tags
    assert {"quantized", "ivf_seeds", "ivf_reader", "ivf_query_row"} <= tags
    assert "n_vectors" in tags
    assert index_cache.storage_bytes(spark) > base

    index_cache.clear_indexes()
    assert not index_cache._HANDLES
    assert not index_cache._VALUES
    assert not index_cache._SCOPED
    assert index_cache.storage_bytes(spark) == base


_CACHE_NAME = re.compile(r"^_.*(CACHE|HANDLES|BATCH)")
_CONTAINERS = {"dict", "set", "OrderedDict", "defaultdict"}


def _module_caches(path: pathlib.Path) -> list[str]:
    """Module-level dict/set assignments whose name looks like a cache."""
    found = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_container = isinstance(
            value, (ast.Dict, ast.Set, ast.DictComp, ast.SetComp)
        ) or (
            isinstance(value, ast.Call)
            and getattr(value.func, "id", getattr(value.func, "attr", None))
            in _CONTAINERS
        )
        if not is_container:
            continue
        for t in targets:
            if isinstance(t, ast.Name) and _CACHE_NAME.match(t.id):
                found.append(t.id)
    return found


def test_no_module_level_caches_outside_registry():
    """Every cache of the package and of ``__spark_entry__`` lives in
    index_cache. The one exception is availability._FACT_HANDLES (fact
    handles by path, which the benchmark harness reads by name)."""
    allowed = {(f"{PACKAGE.name}/operators/availability.py", "_FACT_HANDLES")}
    sources = [
        *sorted(PACKAGE.rglob("*.py")),
        PACKAGE.parent / "__spark_entry__.py",
    ]
    strays = [
        (str(p.relative_to(PACKAGE.parent)), name)
        for p in sources
        if p.name != "index_cache.py"
        for name in _module_caches(p)
    ]
    assert set(strays) <= allowed, strays


def test_ivf_index_resolves_under_cache_root(spark, tmp_path, monkeypatch):
    """The catalog's on-disk IVF index is built under the artifact root
    (``$SPARK_GRAFT_CACHE``), not in a shared directory that outlives the
    process."""
    import __spark_entry__ as entry
    from binance_futures_availability_spark.operators import similarity

    sf_dir = tmp_path / "sf"
    _write_embeddings(spark, str(sf_dir / "embeddings.parquet"))
    cache = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_CACHE", str(cache))
    monkeypatch.setattr(entry, "_IVF_INDEX_PATHS", {})
    built = []
    monkeypatch.setattr(
        similarity, "write_ivf_index", lambda emb, path: built.append(path)
    )
    path = entry._ivf_index_path(spark, str(sf_dir))
    assert built == [path]
    assert pathlib.Path(path).resolve().is_relative_to(cache.resolve())
