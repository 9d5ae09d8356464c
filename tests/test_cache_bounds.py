"""Session-cache hygiene: superseded entries must not accumulate.

VERDICT r8 #5 / ADVICE r8: every module-level handle cache keyed on a
directory fingerprint (or input-file set) must evict the stale entry when
the underlying table is rewritten in place — a resident service rewriting
tables forever must see flat dict sizes and no stranded persisted blocks.
"""

from __future__ import annotations


def test_cached_index_sweeps_rewritten_tables(spark, tmp_path):
    """An in-place overwrite produces new part-file names; the old keyed
    index artifact points at deleted files and must be swept (and
    unpersisted) on the next miss insert — never >1 live entry per table."""
    from binance_futures_availability_spark import index_cache

    path = str(tmp_path / "t.parquet")
    for v in range(10):
        spark.createDataFrame(
            [(v, "a b c")], "doc_id long, text string"
        ).write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
        key = index_cache.plan_key(df, "cache_bounds_artifact")
        assert key is not None
        got = index_cache.cached_index(key, lambda d=df: d.select("doc_id"))
        assert got.count() == 1
        live = [
            k
            for k in index_cache._HANDLES
            if any(path in f for f in k[0])
        ]
        assert len(live) == 1


def test_value_store_caps_size():
    from binance_futures_availability_spark import index_cache

    index_cache.clear_indexes()
    for i in range(index_cache.SCALAR_CACHE_CAP + 100):
        # keys shaped like plan_key output, files kept non-local so the
        # dead-file sweep never fires — this exercises the hard cap alone
        key = ((f"hdfs:/warehouse/t{i}/part-0.parquet",), f"md5{i}", "n")
        assert index_cache.cached_value(key, lambda i=i: i) == i
    assert len(index_cache._VALUES) == index_cache.SCALAR_CACHE_CAP
    # oldest-first eviction: the newest entries survive
    oldest = ((f"hdfs:/warehouse/t0/part-0.parquet",), "md50", "n")
    assert oldest not in index_cache._VALUES
    newest = index_cache.SCALAR_CACHE_CAP + 99
    assert index_cache._VALUES[
        ((f"hdfs:/warehouse/t{newest}/part-0.parquet",), f"md5{newest}", "n")
    ] == newest
    index_cache.clear_indexes()


def test_scalar_caches_flat_across_rewrites(spark, tmp_path):
    """100 rewrite cycles of the same table leave the textops scalar
    caches flat: dead-file sweep reclaims each superseded key."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import textops

    path = str(tmp_path / "docs.parquet")
    sizes = set()
    for v in range(100):
        spark.createDataFrame(
            [(v, "x y z")], "doc_id long, text string"
        ).write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)
        assert textops._corpus_count(docs) == 1
        live = [
            k
            for k in index_cache._VALUES
            if "n_docs" in k and any(path in f for f in k[0])
        ]
        sizes.add(len(live))
    assert sizes == {1}


def test_read_fact_evicts_on_rewrite(spark, tmp_path, populated_da):
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.sources import duckdb_io

    path = str(tmp_path / "fact.parquet")
    for _ in range(5):
        populated_da.write.mode("overwrite").parquet(path)
        df = duckdb_io.read_fact(spark, path)
        assert df.count() == populated_da.count()
        import os

        real = os.path.realpath(path)
        live = [
            k
            for k in index_cache._HANDLES
            if "fact_import" in k and k[0][0].startswith(f"hot:{real}#")
        ]
        assert len(live) == 1


def test_byte_budget_evicts_lru_and_hits_refresh_recency(
    spark, tmp_path, monkeypatch
):
    """Above the byte budget, miss inserts evict the least-recently-USED
    handle (a hit refreshes recency); the entry being inserted survives."""
    from binance_futures_availability_spark import index_cache

    index_cache.clear_indexes()
    paths = []
    for i in range(3):
        p = str(tmp_path / f"t{i}.parquet")
        spark.range(50_000).selectExpr(
            "id", "id * 2 AS b"
        ).write.parquet(p)
        paths.append(p)
    frames = [spark.read.parquet(p) for p in paths]
    keys = [
        index_cache.plan_key(df, "byte_budget_artifact") for df in frames
    ]

    # budget that two materialized 50k-row artifacts exceed
    index_cache.cached_index(keys[0], lambda: frames[0].select("id")).count()
    one = index_cache.storage_bytes(spark)
    assert one > 0
    monkeypatch.setattr(
        index_cache, "INDEX_CACHE_BUDGET_BYTES", int(one * 1.5)
    )

    index_cache.cached_index(keys[1], lambda: frames[1].select("id")).count()
    # over budget now, but the insert-time poll saw t1 unmaterialized
    # (0 bytes): both live. Touch t0 so t1 becomes the LRU victim.
    index_cache.cached_index(keys[0], lambda: frames[0].select("id"))
    index_cache.cached_index(keys[2], lambda: frames[2].select("id"))
    assert keys[2] in index_cache._HANDLES  # inserted entry never evicted
    assert keys[0] in index_cache._HANDLES  # refreshed recency survived
    assert keys[1] not in index_cache._HANDLES  # LRU evicted
    index_cache.clear_indexes()


def test_foreign_persists_over_budget_do_not_thrash_index_cache(
    spark, tmp_path, monkeypatch
):
    """When NON-evictable persists alone exceed the byte budget, miss
    inserts must not evict the whole index cache on every insert (r11
    advice): the unattributable residual is recorded as a foreign floor
    after one full-eviction stall, the stall is counted, and later
    inserts keep warm handles alive."""
    from binance_futures_availability_spark import index_cache

    index_cache.clear_indexes()
    foreign = spark.range(200_000).selectExpr("id", "id * 3 AS c").persist()
    foreign.count()
    floor = index_cache.storage_bytes(spark)
    assert floor > 0
    monkeypatch.setattr(
        index_cache, "INDEX_CACHE_BUDGET_BYTES", max(1, floor // 4)
    )

    paths = []
    for i in range(3):
        p = str(tmp_path / f"f{i}.parquet")
        spark.range(10_000).selectExpr("id").write.parquet(p)
        paths.append(p)
    frames = [spark.read.parquet(p) for p in paths]
    keys = [index_cache.plan_key(df, "foreign_floor_artifact") for df in frames]

    stalls0 = index_cache.EVICTION_STALLS
    index_cache.cached_index(keys[0], lambda: frames[0]).count()
    # this insert sees the over-budget pool, exhausts evictable handles,
    # records the stall + floor...
    index_cache.cached_index(keys[1], lambda: frames[1]).count()
    # ...so this one is budgeted against attributable bytes only and
    # leaves the previous handle alone
    index_cache.cached_index(keys[2], lambda: frames[2]).count()
    assert index_cache.EVICTION_STALLS > stalls0  # thrash is observable
    assert keys[1] in index_cache._HANDLES
    assert keys[2] in index_cache._HANDLES

    foreign.unpersist(blocking=True)
    index_cache.clear_indexes()


def test_foreign_floor_decays_on_miss_inserts(spark, tmp_path):
    """The foreign floor is a one-instant measurement; only a
    total-below-floor drop used to reset it, so foreign blocks shrinking
    WHILE index handles grow left a stale-high discount and the cache
    under-evicted past its budget forever (r12 advice). Every miss
    insert now decays the floor geometrically, so the discount converges
    back toward zero unless a fresh stall re-measures it."""
    from binance_futures_availability_spark import index_cache

    index_cache.clear_indexes()
    index_cache._FOREIGN_FLOOR = 1_000_000
    p = str(tmp_path / "decay.parquet")
    spark.range(100).write.parquet(p)
    df = spark.read.parquet(p)
    index_cache.cached_index(index_cache.plan_key(df, "decay_probe"), lambda: df)
    assert index_cache._FOREIGN_FLOOR < 1_000_000
    floor1 = index_cache._FOREIGN_FLOOR
    index_cache.cached_index(
        index_cache.plan_key(df, "decay_probe2"), lambda: df
    )
    assert index_cache._FOREIGN_FLOOR < floor1
    index_cache._FOREIGN_FLOOR = 0
    index_cache.clear_indexes()


def test_hot_key_survives_hash_in_file_names(spark, monkeypatch):
    """hot: pseudo-URIs embed md5(fingerprint), not the raw fingerprint:
    a data file whose NAME contains '#' used to corrupt the
    rpartition('#') split in sweep_dead_entries, so the artifact was
    evicted and rebuilt on every miss insert (r12 advice)."""
    from binance_futures_availability_spark import catalog, index_cache

    index_cache.clear_indexes()
    fp = (("weird#name#part-0001.parquet", 1234, 999), 2)
    monkeypatch.setattr(catalog, "_dir_fingerprint", lambda path: fp)
    df = spark.createDataFrame([(1,)], ["id"])
    df._spark_graft_source = ("/tmp/hot#dir", fp)
    key = index_cache.plan_key(df, "hash_name_artifact")
    assert key is not None
    uri = key[0][0]
    assert uri.startswith("hot:") and "#name#" not in uri
    index_cache.cached_index(key, lambda: df)
    assert key in index_cache._HANDLES
    # fingerprint unchanged -> the sweep must NOT treat the entry as dead
    assert index_cache.sweep_dead_entries(index_cache._HANDLES) == 0
    assert key in index_cache._HANDLES
    # fingerprint changed -> dead, evicted
    monkeypatch.setattr(
        catalog, "_dir_fingerprint", lambda path: (("other.parquet", 1, 2), 1)
    )
    assert index_cache.sweep_dead_entries(index_cache._HANDLES) == 1
    assert key not in index_cache._HANDLES
    index_cache.clear_indexes()


def test_multi_plan_key_sweeps_on_either_source_rewrite(spark, tmp_path):
    """A multi-source artifact (fact ⋈ dimension pre-join) must go stale
    when EITHER source is rewritten: key[0] merges both file sets, so
    sweep_dead_entries catches a rewrite of the second source too."""
    import shutil

    from binance_futures_availability_spark import index_cache

    index_cache.clear_indexes()
    pa, pb = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(100).write.parquet(pa)
    spark.range(50).selectExpr("id AS k").write.parquet(pb)
    a, b = spark.read.parquet(pa), spark.read.parquet(pb)
    key = index_cache.multi_plan_key((a, b), "prejoin")
    assert key is not None
    index_cache.cached_index(key, lambda: a.crossJoin(b).limit(1))
    assert key in index_cache._HANDLES
    assert index_cache.sweep_dead_entries(index_cache._HANDLES) == 0
    # rewrite the SECOND source in place (new part-file names)
    shutil.rmtree(pb)
    spark.range(60).selectExpr("id AS k").write.parquet(pb)
    assert index_cache.sweep_dead_entries(index_cache._HANDLES) == 1
    assert key not in index_cache._HANDLES
    # non-file-backed source anywhere -> no key, cache bypassed
    local = spark.createDataFrame([(1,)], ["x"])
    assert index_cache.multi_plan_key((a, local), "prejoin") is None
    index_cache.clear_indexes()


def test_storage_bytes_tracks_persist_and_release(spark):
    from binance_futures_availability_spark import index_cache

    index_cache.clear_indexes()
    spark.catalog.clearCache()
    base = index_cache.storage_bytes(spark)
    df = spark.range(100_000).selectExpr("id", "id * 3 AS c").persist()
    df.count()
    assert index_cache.storage_bytes(spark) > base
    df.unpersist(blocking=True)
    assert index_cache.storage_bytes(spark) <= base


def test_lsh_candidate_artifact_shared_and_exact(spark, tmp_path):
    """The banded-LSH candidate set over a file-backed corpus is ONE
    session-cached artifact shared by minhash_lsh_pairs and
    minhash_estimate_audit — and the cached path's verified pair set is
    identical to the cache-bypassed (in-memory source) build."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import dedup

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "  the quick  brown fox jumps over the lazy dog "),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "alpha beta gamma delta epsilon zeta eta iota"),
        (4, "completely different content about spark engines"),
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    index_cache.clear_indexes()

    def cand_keys():
        return [
            k
            for k in index_cache._HANDLES
            if isinstance(k, tuple) and "lsh_candidates" in k
        ]

    cached = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()
    }
    assert len(cand_keys()) == 1
    dedup.minhash_estimate_audit(docs).collect()
    assert len(cand_keys()) == 1  # audit reused the pairs' artifact
    # in-memory source -> plan_key None -> cache bypassed: same pairs
    bypass = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(
            spark.createDataFrame(rows, "doc_id long, text string"), 0.5
        ).collect()
    }
    assert cached == bypass and cached
    index_cache.clear_indexes()


def test_cosine_pair_graph_shared_and_exact(spark, tmp_path):
    """The exact blocked-GEMM cosine pair graph over a file-backed corpus
    is ONE session-cached artifact shared by cosine_pairs and
    lsh_recall_audit's n_exact side — and identical to a rebuild with a
    different block count."""
    import random
    from unittest import mock

    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import similarity

    random.seed(7)
    rows = [
        (i, [random.randint(-50, 50) for _ in range(64)]) for i in range(40)
    ]
    # two exact duplicates so the threshold filter keeps something
    rows[1] = (1, rows[0][1])
    rows[3] = (3, rows[2][1])
    path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<int>").write.parquet(
        path
    )
    emb = spark.read.parquet(path)
    index_cache.clear_indexes()

    def graph_keys(tag):
        return [
            k
            for k in index_cache._HANDLES
            if isinstance(k, tuple) and tag in k
        ]

    cached = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity.cosine_pairs(emb, 0.95).collect()
    }
    assert len(graph_keys("cosine_pair_graph")) == 1
    audit = similarity.lsh_recall_audit(emb, 0.95).collect()[0]
    assert len(graph_keys("cosine_pair_graph")) == 1  # audit reused it
    assert len(graph_keys("lsh_cosine_pair_graph")) == 1
    assert audit["n_exact"] == len(cached)
    # a rebuild over 3 blocks instead of 8: same pair set
    index_cache.clear_indexes()
    with mock.patch.object(similarity, "COSINE_MIN_BLOCKS", 3):
        rebuilt = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in similarity.cosine_pairs(emb, 0.95).collect()
        }
    assert cached == rebuilt and cached
    index_cache.clear_indexes()


def test_winnow_fingerprint_artifact_shared_and_exact(spark, tmp_path):
    """The winnowing fingerprint sketch over a file-backed corpus is ONE
    session-cached artifact shared by winnow_fingerprints and
    winnow_overlap_pairs — and identical to the cache-bypassed
    (in-memory source) build."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import dedup

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [
        (0, " ".join(words * 3)),
        (1, " ".join(words * 3) + " tail drift marker"),
        (2, " ".join(reversed(words * 2))),
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    index_cache.clear_indexes()

    def fp_keys():
        return [
            k
            for k in index_cache._HANDLES
            if isinstance(k, tuple) and "winnow_fps" in k
        ]

    cached = {
        (r["doc_id"], r["pos"], r["fingerprint"])
        for r in dedup.winnow_fingerprints(docs).collect()
    }
    assert len(fp_keys()) == 1
    overlap_cached = {
        tuple(r) for r in dedup.winnow_overlap_pairs(docs).collect()
    }
    assert len(fp_keys()) == 1  # overlap reused the sketch
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    bypass = {
        (r["doc_id"], r["pos"], r["fingerprint"])
        for r in dedup.winnow_fingerprints(mem).collect()
    }
    overlap_bypass = {
        tuple(r) for r in dedup.winnow_overlap_pairs(mem).collect()
    }
    assert cached == bypass and cached
    assert overlap_cached == overlap_bypass and overlap_cached
    index_cache.clear_indexes()


def test_dup_groups_artifact_shared_and_exact(spark, tmp_path):
    """The sparse exact-dup group index over a file-backed corpus is ONE
    session-cached artifact shared by exact_duplicates,
    dedup_rate_by_source and quality_dup_crosstab — and each consumer's
    output is identical to the cache-bypassed (in-memory source) build."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import dedup, textops

    rows = [
        (0, "the quick brown fox", "web"),
        (1, " the quick  brown fox ", "web"),
        (2, "the quick brown fox", "books"),
        (3, "completely different text", "books"),
        (4, "another unique document body", "web"),
    ]
    schema = "doc_id long, text string, source string"
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, schema).write.parquet(path)
    docs = spark.read.parquet(path)
    index_cache.clear_indexes()

    def dg_keys():
        return [
            k
            for k in index_cache._HANDLES
            if isinstance(k, tuple) and "dup_groups" in k
        ]

    groups = {tuple(r) for r in dedup.exact_duplicates(docs).collect()}
    assert len(dg_keys()) == 1
    rate = {tuple(r) for r in dedup.dedup_rate_by_source(docs).collect()}
    crosstab = {
        tuple(r) for r in textops.quality_dup_crosstab(docs).collect()
    }
    assert len(dg_keys()) == 1  # both consumers reused the index
    mem = spark.createDataFrame(rows, schema)
    assert groups == {
        tuple(r) for r in dedup.exact_duplicates(mem).collect()
    }
    assert rate == {
        tuple(r) for r in dedup.dedup_rate_by_source(mem).collect()
    }
    assert crosstab == {
        tuple(r) for r in textops.quality_dup_crosstab(mem).collect()
    }
    assert groups and rate and crosstab
    index_cache.clear_indexes()


def test_label_centroid_model_shared_and_exact(spark, tmp_path):
    """The collected per-label centroid model over a file-backed corpus
    is computed once and shared by label_centroids / centroid_confusion /
    centroid_outliers — outputs identical to the cache-bypassed
    (in-memory source) builds."""
    import random

    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import similarity

    random.seed(11)
    rows = [
        (i, [random.randint(-40, 40) for _ in range(64)], f"l{i % 3}")
        for i in range(30)
    ]
    schema = "vec_id long, embedding array<int>, label string"
    path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows, schema).write.parquet(path)
    emb = spark.read.parquet(path)
    index_cache.clear_indexes()

    def label_models():
        return [k for k in index_cache._VALUES if "label_centroid_rows" in k]

    cents = {tuple(r) for r in similarity.label_centroids(emb).collect()}
    assert len(label_models()) == 1
    conf = {tuple(r) for r in similarity.centroid_confusion(emb).collect()}
    outl = [tuple(r) for r in similarity.centroid_outliers(emb, 5).collect()]
    assert len(label_models()) == 1  # shared, not re-keyed
    mem = spark.createDataFrame(rows, schema)
    assert cents == {
        tuple(r) for r in similarity.label_centroids(mem).collect()
    }
    assert conf == {
        tuple(r) for r in similarity.centroid_confusion(mem).collect()
    }
    assert outl == [
        tuple(r) for r in similarity.centroid_outliers(mem, 5).collect()
    ]
    assert cents and conf and outl
    index_cache.clear_indexes()


def test_prefix_pair_artifact_shared_and_exact(spark, tmp_path):
    """ngram_jaccard_pairs and containment_pairs at the same threshold
    share ONE session-cached verified candidate table (containment-bound
    pruning, the strictly looser superset at equal t) — and both outputs
    are identical to the cache-bypassed (in-memory source) builds."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import dedup

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [
        (0, " ".join(words)),
        (1, " ".join(words[:-1] + ["lambda"])),
        (2, " ".join(words[:4])),  # contained excerpt of doc 0
        (3, "totally different content about engines and pipelines"),
        (4, " ".join(words)),
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    index_cache.clear_indexes()

    def pp_keys():
        return [
            k
            for k in index_cache._HANDLES
            if isinstance(k, tuple) and "prefix_pairs" in k
        ]

    jac = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert len(pp_keys()) == 1
    cont = {tuple(r) for r in dedup.containment_pairs(docs, 0.5).collect()}
    assert len(pp_keys()) == 1  # containment reused the artifact
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    assert jac == {
        tuple(r) for r in dedup.ngram_jaccard_pairs(mem, 0.5).collect()
    }
    assert cont == {
        tuple(r) for r in dedup.containment_pairs(mem, 0.5).collect()
    }
    assert jac and cont
    index_cache.clear_indexes()
def test_single_probe_scored_streams_shared_and_exact(spark, tmp_path):
    """The single-probe scored streams (exact ann, PQ ADC, SQ8, RP) over
    a file-backed corpus are each ONE session-cached artifact shared by
    their top-k gate and the matching recall audit — and identical to
    the cache-bypassed (in-memory corpus) build."""
    import random

    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import similarity

    random.seed(11)
    rows = [
        (i, [random.randint(-50, 50) for _ in range(64)]) for i in range(30)
    ]
    path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<int>"
    ).write.parquet(path)
    emb = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, "vec_id long, embedding array<int>")
    index_cache.clear_indexes()

    def n_keys(tag):
        return len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and tag in k
            ]
        )

    probe, k = 1, 5
    for tag, topk_fn, audit_fn in [
        ("ann_scored", similarity.ann_topk, None),
        ("pq_adc_scores", similarity.pq_topk, similarity.pq_recall_audit),
        ("sq_scored", similarity.sq_topk, similarity.sq_recall_audit),
        ("rp_scored", similarity.rp_topk, similarity.rp_recall_audit),
    ]:
        got = [tuple(r) for r in topk_fn(emb, probe, k).collect()]
        assert n_keys(tag) == 1, tag
        if audit_fn is not None:
            audit_fn(emb, probe, k).collect()
            # the audit reused the stream (and ann's exact baseline)
            assert n_keys(tag) == 1, tag
            assert n_keys("ann_scored") == 1
        bypass = [tuple(r) for r in topk_fn(mem, probe, k).collect()]
        assert got == bypass and len(got) == k, tag
    index_cache.clear_indexes()


def test_classifier_scores_artifact_shared_and_exact(spark, tmp_path):
    """The scored eval table over a file-backed corpus is ONE
    session-cached artifact shared by classifier_scores and
    classifier_eval — and identical to the cache-bypassed (in-memory
    corpus) build."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import textops

    rows = [
        (i, ("good clean prose text here " * 4) if i % 3 else "x@ ! spam")
        for i in range(60)
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        path
    )
    docs = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    index_cache.clear_indexes()

    def n_keys():
        return len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and "classifier_eval_scores" in k
            ]
        )

    got = sorted(
        tuple(r) for r in textops.classifier_scores(docs, 2).collect()
    )
    assert n_keys() == 1
    ev = sorted(
        tuple(r) for r in textops.classifier_eval(docs, 2).collect()
    )
    assert n_keys() == 1  # eval reused the scored table
    assert got == sorted(
        tuple(r) for r in textops.classifier_scores(mem, 2).collect()
    )
    assert ev == sorted(
        tuple(r) for r in textops.classifier_eval(mem, 2).collect()
    )
    index_cache.clear_indexes()


def test_knn_propagated_artifact_shared_and_exact(spark, tmp_path):
    """The propagated-label table over a file-backed corpus is ONE
    session-cached artifact shared by knn_label_propagation and
    knn_label_accuracy — and identical to the cache-bypassed (in-memory
    corpus) build."""
    import random

    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import similarity

    random.seed(13)
    rows = [
        (
            i,
            [random.randint(-50, 50) for _ in range(64)],
            i % 3,
        )
        for i in range(40)
    ]
    schema = "vec_id long, embedding array<int>, label int"
    path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows, schema).write.parquet(path)
    emb = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, schema)
    index_cache.clear_indexes()

    def n_keys():
        return len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and "knn_propagated" in k
            ]
        )

    got = sorted(
        tuple(r)
        for r in similarity.knn_label_propagation(emb, emb, 3).collect()
    )
    assert n_keys() == 1
    acc = similarity.knn_label_accuracy(emb, emb, 3).collect()[0]
    assert n_keys() == 1  # accuracy reused the propagated table
    assert acc["n_queries"] == len(got)
    assert got == sorted(
        tuple(r)
        for r in similarity.knn_label_propagation(mem, mem, 3).collect()
    )
    index_cache.clear_indexes()


def test_lm_scored_artifacts_shared_and_exact(spark, tmp_path):
    """The per-doc LM score tables (self-trained and cross-corpus) over a
    file-backed corpus are session-cached artifacts — and identical to the
    cache-bypassed (in-memory corpus) builds."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import textops

    rows = [
        (
            i,
            "the quick brown fox jumps over the lazy dog " * (1 + i % 3),
            "wiki" if i % 2 else "web",
        )
        for i in range(40)
    ]
    schema = "doc_id long, text string, source string"
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, schema).write.parquet(path)
    docs = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, schema)
    index_cache.clear_indexes()

    def n_keys(tag):
        return len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and tag in k
            ]
        )

    got = sorted(tuple(r) for r in textops.bigram_lm_scores(docs).collect())
    assert n_keys("lm_scored") == 1
    assert got == sorted(
        tuple(r) for r in textops.bigram_lm_scores(mem).collect()
    )
    # lm_quality_buckets consumes the SAME scored artifact (no second key)
    textops.lm_quality_buckets(docs).collect()
    assert n_keys("lm_scored") == 1

    xgot = sorted(
        tuple(r) for r in textops.cross_lm_scores(docs, ["wiki"]).collect()
    )
    assert n_keys("xlm_scored") == 1
    assert xgot == sorted(
        tuple(r) for r in textops.cross_lm_scores(mem, ["wiki"]).collect()
    )
    index_cache.clear_indexes()


def test_order_qty_rollup_artifact_shared_and_exact(spark, tmp_path):
    """large_volume_customers' per-order quantity rollup is a session-cached
    artifact over file-backed lineitem; results are identical to the
    cache-bypassed build and across both join strategies of the stats
    guard (broadcast below the threshold, shuffled-hash above)."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import warehouse

    li_rows = [
        (int(i // 3), float(10 + (i * 7) % 45)) for i in range(120)
    ]
    o_rows = [(k, 100 + k, f"1997-0{1 + k % 9}-15", 1000.0 + k) for k in range(40)]
    c_rows = [(100 + k, f"Customer#{k}") for k in range(40)]
    li_schema = "l_orderkey long, l_quantity double"
    path = str(tmp_path / "li.parquet")
    spark.createDataFrame(li_rows, li_schema).write.parquet(path)
    li = spark.read.parquet(path)
    li_mem = spark.createDataFrame(li_rows, li_schema)
    orders = spark.createDataFrame(
        o_rows, "o_orderkey long, o_custkey long, o_orderdate string, o_totalprice double"
    )
    cust = spark.createDataFrame(c_rows, "c_custkey long, c_name string")
    index_cache.clear_indexes()

    def n_keys():
        return len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and "order_qty_rollup" in k
            ]
        )

    got = sorted(
        tuple(r)
        for r in warehouse.large_volume_customers(
            cust, orders, li, 60.0
        ).collect()
    )
    assert got, "threshold must keep some orders for a meaningful test"
    assert n_keys() == 1
    # cache-bypassed (in-memory lineitem -> plan_key None) build matches
    assert got == sorted(
        tuple(r)
        for r in warehouse.large_volume_customers(
            cust, orders, li_mem, 60.0
        ).collect()
    )
    # the shuffled-hash branch (broadcast budget off) matches too
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert got == sorted(
            tuple(r)
            for r in warehouse.large_volume_customers(
                cust, orders, li, 60.0
            ).collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    index_cache.clear_indexes()


def test_fact_handle_enables_index_artifacts(spark):
    """availability_fact's handle carries its source identity
    (_spark_graft_source), so plan_key(da, ...) produces a real key and
    fact-derived index artifacts (the symbol-month coverage cube) cache
    instead of silently bypassing."""
    import os

    from binance_futures_availability_spark import catalog, index_cache
    from binance_futures_availability_spark.operators import analytics
    from binance_futures_availability_spark.operators.availability import (
        availability_fact,
    )

    da = availability_fact(spark, "/root/testdata/sf0.001")
    src = getattr(da, "_spark_graft_source", None)
    # (materialized fact directory, its fingerprint as the sweep computes it)
    assert src is not None and os.path.isdir(src[0])
    assert src[1] == catalog._dir_fingerprint(src[0])
    key = index_cache.plan_key(da, "symbol_month_coverage")
    assert key is not None
    index_cache.clear_indexes()
    # rollup rows carry NULL year/month subtotals — sort by repr
    first = sorted(
        (tuple(r) for r in analytics.availability_rollup(da).collect()),
        key=repr,
    )
    hits = [
        k
        for k in index_cache._HANDLES
        if isinstance(k, tuple) and "symbol_month_coverage" in k
    ]
    assert len(hits) == 1
    assert first == sorted(
        (tuple(r) for r in analytics.availability_rollup(da).collect()),
        key=repr,
    )
    index_cache.clear_indexes()


def test_lsh_verified_stats_artifact_shared_and_exact(spark, tmp_path):
    """The VERIFIED candidate-stats table (per-pair signature matches +
    exact shingle intersection/sizes) over a file-backed corpus is ONE
    session-cached artifact shared by minhash_lsh_pairs and
    minhash_estimate_audit — and both consumers' outputs are identical
    to the cache-bypassed (in-memory corpus) builds."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import dedup

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "  the quick  brown fox jumps over the lazy dog "),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "alpha beta gamma delta epsilon zeta eta iota"),
        (4, "completely different content about spark engines"),
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    index_cache.clear_indexes()

    def n_keys():
        return len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and "lsh_verified_stats" in k
            ]
        )

    pairs = sorted(
        tuple(r) for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()
    )
    assert n_keys() == 1
    audit = sorted(
        tuple(r) for r in dedup.minhash_estimate_audit(docs).collect()
    )
    assert n_keys() == 1  # the audit reused the pairs' verified table
    assert pairs and pairs == sorted(
        tuple(r) for r in dedup.minhash_lsh_pairs(mem, 0.5).collect()
    )
    assert audit == sorted(
        tuple(r) for r in dedup.minhash_estimate_audit(mem).collect()
    )
    # the in-memory corpus reaches the same builder through the
    # registry's None-key bypass: same verified rows, nothing cached
    args = ("doc_id", "text", 3, 8, 4, 512)
    file_stats = sorted(
        tuple(r) for r in dedup._candidate_pair_stats(docs, *args).collect()
    )
    mem_stats = dedup._candidate_pair_stats(mem, *args)
    assert mem_stats is not None
    assert file_stats and sorted(tuple(r) for r in mem_stats.collect()) == file_stats
    assert n_keys() == 1
    index_cache.clear_indexes()


def test_bm25_scored_artifact_shared_and_exact(spark, tmp_path):
    """The per-doc BM25 scored stream for a fixed term bag over a
    file-backed corpus is ONE session-cached artifact shared by
    bm25_topk and hybrid_rrf_topk's lexical list — and identical to the
    cache-bypassed (in-memory corpus) build."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import textops

    rows = [
        (i, f"alpha join vector doc{i} " + ("hash dup " * (i % 4)))
        for i in range(40)
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    index_cache.clear_indexes()

    def n_keys():
        return len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and "bm25_scores" in k
            ]
        )

    terms = ["dup", "hash", "join", "vector"]
    got = sorted(
        tuple(r) for r in textops.bm25_topk(docs, terms, 10).collect()
    )
    assert n_keys() == 1
    # a second consumer with the same term bag (different order — the key
    # canonicalizes) reuses the entry
    textops.bm25_scores(docs, ["vector", "join", "hash", "dup"]).collect()
    assert n_keys() == 1
    assert got and got == sorted(
        tuple(r) for r in textops.bm25_topk(mem, terms, 10).collect()
    )
    index_cache.clear_indexes()


def test_repetition_stats_artifact_exact_and_edge_cases(spark, tmp_path):
    """repetition_scores' r13 rewrite serves the 2-gram stats from the
    cached bigram_index and session-caches the per-doc table. The values
    must equal the original in-row zip_with/array_distinct formula —
    pinned here literally for every tokenizer edge case (null text, empty
    text, whitespace-only, single token, all-duplicate grams) — and the
    file-backed (cached) and in-memory (bypass) paths must agree."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import textops

    rows = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "a a a"),
        (5, "x y x y x"),
        (6, "p q r"),
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    index_cache.clear_indexes()

    # (n_tokens, top_term_count, top_term_frac, n_2grams, n_dup_2grams,
    #  dup_2gram_frac) under the ORIGINAL semantics: split('')=[''] makes
    # empty/whitespace-only text 1 token but 0 grams; null text stays
    # null through every size()-derived column; top_term_count coalesces
    # to 0 because the inverted index drops empty terms.
    expected = {
        0: (None, 0, None, None, None, None),
        1: (1, 0, 0.0, 0, 0, None),
        2: (1, 0, 0.0, 0, 0, None),
        3: (1, 1, 1.0, 0, 0, None),
        4: (3, 3, 1.0, 2, 1, 0.5),
        5: (5, 3, 0.6, 4, 2, 0.5),
        6: (3, 1, 1.0 / 3.0, 2, 0, 0.0),
    }
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["top_term_count"],
            r["top_term_frac"],
            r["n_2grams"],
            r["n_dup_2grams"],
            r["dup_2gram_frac"],
        )
        for r in textops.repetition_scores(docs).collect()
    }
    assert got == expected
    n_keys = len(
        [
            k
            for k in index_cache._HANDLES
            if isinstance(k, tuple) and "repetition_stats" in k
        ]
    )
    assert n_keys == 1
    # in-memory corpus bypasses the cache (plan_key None) but runs the
    # same pipeline — identical rows
    got_mem = {
        r["doc_id"]: (
            r["n_tokens"],
            r["top_term_count"],
            r["top_term_frac"],
            r["n_2grams"],
            r["n_dup_2grams"],
            r["dup_2gram_frac"],
        )
        for r in textops.repetition_scores(mem).collect()
    }
    assert got_mem == expected
    index_cache.clear_indexes()


def test_fingerprint_table_artifact_shared_and_exact(spark, tmp_path):
    """fingerprints' r13 session-cached (id, content_md5,
    min_shingle_hash) table: one cache entry per file-backed corpus,
    identical rows to the cache-bypassed (in-memory) build."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import textops

    rows = [
        (i, f"alpha beta gamma doc{i} " + ("dup run " * (i % 3)))
        for i in range(30)
    ] + [(99, ""), (100, None)]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    index_cache.clear_indexes()

    got = sorted(tuple(r) for r in textops.fingerprints(docs).collect())
    n_keys = len(
        [
            k
            for k in index_cache._HANDLES
            if isinstance(k, tuple) and "fingerprints" in k
        ]
    )
    assert n_keys == 1
    # second execution reuses the entry (no new key)
    textops.fingerprints(docs).collect()
    assert (
        len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and "fingerprints" in k
            ]
        )
        == 1
    )
    assert got and got == sorted(
        tuple(r) for r in textops.fingerprints(mem).collect()
    )
    index_cache.clear_indexes()


def test_doc_profile_artifact_shared_and_exact(spark, tmp_path):
    """The r13 per-doc profile artifact: quality_scores, language_id,
    token_counts, curate_corpus and classifier_doc_meta all serve from
    ONE session-cached profile per file-backed corpus, and each output
    is identical to the cache-bypassed (in-memory corpus) build —
    including null and empty texts."""
    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import textops

    rows = [
        (
            i,
            "the and is of to " * (2 + i % 3)
            + f"doc{i} der und la le el "
            + ("dup run " * (i % 4)),
        )
        for i in range(30)
    ] + [(98, ""), (99, None)]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    index_cache.clear_indexes()

    ops = {
        "quality_scores": lambda d: textops.quality_scores(d),
        "language_id": lambda d: textops.language_id(d),
        "token_counts": lambda d: textops.token_counts(d),
        "curate_corpus": lambda d: textops.curate_corpus(d),
        "classifier_doc_meta": lambda d: textops.classifier_doc_meta(d),
    }
    got = {
        name: sorted(tuple(r) for r in fn(docs).collect())
        for name, fn in ops.items()
    }
    n_profile_keys = len(
        [
            k
            for k in index_cache._HANDLES
            if isinstance(k, tuple) and "doc_profile" in k
        ]
    )
    assert n_profile_keys == 1  # one artifact serves all five consumers
    for name, fn in ops.items():
        assert got[name] == sorted(
            tuple(r) for r in fn(mem).collect()
        ), name
    index_cache.clear_indexes()


def test_contamination_counts_artifact_shared_and_exact(spark, tmp_path):
    """contamination_check's r13 cached (id, n_matched) table: keyed on
    both source frames, NOT on min_overlap (a projection) — a second
    threshold reuses the entry — and identical to the in-memory
    bypass."""
    from pyspark.sql import functions as F

    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import textops

    rows = [
        (i, f"w{i} alpha beta gamma delta epsilon zeta w{i+1}")
        for i in range(30)
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    train = docs.filter(F.col("doc_id") < 20)
    bench = docs.filter(F.col("doc_id") >= 20)
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    mtrain = mem.filter(F.col("doc_id") < 20)
    mbench = mem.filter(F.col("doc_id") >= 20)
    index_cache.clear_indexes()

    def n_keys():
        return len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and "contamination_counts" in k
            ]
        )

    got1 = sorted(
        tuple(r) for r in textops.contamination_check(train, bench).collect()
    )
    assert n_keys() == 1
    # a different min_overlap is a projection over the SAME artifact
    textops.contamination_check(train, bench, min_overlap=3).collect()
    assert n_keys() == 1
    assert got1 == sorted(
        tuple(r)
        for r in textops.contamination_check(mtrain, mbench).collect()
    )
    index_cache.clear_indexes()


def test_lsh_multi_and_semdedup_artifacts_shared_and_exact(spark, tmp_path):
    """r13: lsh_cosine_pairs_multi's verified pair graph and
    semantic_dedup_survivors' duplicate-id set are session-cached
    artifacts over a file-backed corpus — one key each, outputs
    identical to the in-memory (cache-bypassed) builds."""
    import random

    from binance_futures_availability_spark import index_cache
    from binance_futures_availability_spark.operators import similarity

    random.seed(11)
    rows = [
        (i, [random.randint(-50, 50) for _ in range(64)]) for i in range(40)
    ]
    rows[1] = (1, rows[0][1])  # exact dups so thresholds keep pairs
    rows[5] = (5, rows[4][1])
    path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<int>"
    ).write.parquet(path)
    emb = spark.read.parquet(path)
    mem = spark.createDataFrame(rows, "vec_id long, embedding array<int>")
    index_cache.clear_indexes()

    def n_keys(tag):
        return len(
            [
                k
                for k in index_cache._HANDLES
                if isinstance(k, tuple) and tag in k
            ]
        )

    got_multi = sorted(
        tuple(r) for r in similarity.lsh_cosine_pairs_multi(emb).collect()
    )
    assert n_keys("lsh_multi_pair_graph") == 1
    similarity.lsh_cosine_pairs_multi(emb).collect()
    assert n_keys("lsh_multi_pair_graph") == 1
    assert got_multi == sorted(
        tuple(r) for r in similarity.lsh_cosine_pairs_multi(mem).collect()
    )

    got_sd = sorted(
        tuple(r)
        for r in similarity.semantic_dedup_survivors(emb).collect()
    )
    assert n_keys("semdedup_dups") == 1
    assert got_sd == sorted(
        tuple(r)
        for r in similarity.semantic_dedup_survivors(mem).collect()
    )
    index_cache.clear_indexes()
