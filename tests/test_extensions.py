"""Extension-suite unit tests — dedup, similarity, textops, multimodal.

Mirrors the reference's fixture style (tiny deterministic worlds, literal
expected outputs) for the operators that have no reference counterpart.
Scale-shape assertions check the *plan* (no cartesian product in the banded
paths), not just values.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from binance_futures_availability_spark.operators import (
    dedup,
    multimodal,
    similarity,
    textops,
)


@pytest.fixture(scope="module")
def docs(spark):
    """6 docs: 0/1 exact dups (differ only in whitespace — shingling is
    case-sensitive by design), 2/3 heavy-overlap near-dups, 4/5 unrelated."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "  the quick  brown fox jumps over the lazy dog "),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "alpha beta gamma delta epsilon zeta eta iota"),
        (4, "completely different content about spark engines"),
        (5, "der schnelle braune fuchs und der faule hund ist"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def emb(spark):
    """4 vectors: 0 and 1 identical, 2 orthogonal to 0, 3 = -v0."""
    dim = 4
    v0 = [1.0, 0.0, 0.5, 0.25]
    v2 = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (0, v0, "a"),
        (1, list(v0), "a"),
        (2, v2, "b"),
        (3, [-x for x in v0], "b"),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


# ----------------------------------------------------------------- dedup


def test_exact_duplicates_groups(docs):
    got = dedup.exact_duplicates(docs).collect()
    assert len(got) == 1
    assert got[0]["n_docs"] == 2
    assert got[0]["keeper_id"] == 0  # min id survives


def test_dedup_exact_survivors(docs):
    got = dedup.dedup_exact(docs)
    ids = {r["doc_id"] for r in got.collect()}
    assert ids == {0, 2, 3, 4, 5}  # doc 1 deduped into doc 0


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical shingle sets
    assert (2, 3) in pairs  # 7-of-8 token overlap
    assert all(a < b for a, b in pairs)
    assert not any(4 in p or 5 in p for p in pairs)


def test_ngram_jaccard_value(docs):
    # docs 2/3: 8 tokens, 6 shingles each, 5 shared → 5/7
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert math.isclose(pairs[(2, 3)], 5 / 7)


def test_shingle_freq_cap_drops_stop_shingles(spark):
    # same 3 tokens everywhere → every shingle has df 3 > cap 2 → no pairs
    rows = [(i, "x y z") for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert dedup.ngram_jaccard_pairs(df, 0.1, max_shingle_freq=2).count() == 0
    assert dedup.ngram_jaccard_pairs(df, 0.1, max_shingle_freq=None).count() == 3


def test_minhash_lsh_subset_of_exact(docs):
    lsh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_shingle_freq=None
        ).collect()
    }
    assert lsh <= exact
    assert (0, 1, 1.0) in lsh  # identical docs always collide in every band


def test_minhash_lsh_no_unbounded_pair_agg(docs):
    # the exact-Jaccard verification must be restricted to LSH candidates:
    # it is a per-row array_intersect carried by the candidate joins, never
    # a posting self-join pair aggregation (which would make the banding
    # prune nothing — the round-1 scale-killer). The only aggregation in
    # the plan is the per-doc signature groupBy; the only explode feeds it.
    plan = (
        dedup.minhash_lsh_pairs(docs, 0.5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "array_intersect" in plan
    # no posting self-join (join keyed on the shingle value) and no pair
    # intersection count — the candidate-dedup Aggregate [id_a, id_b] is
    # fine, a counting aggregate over the pair is not
    for line in plan.splitlines():
        if "Join Inner" in line:
            assert "shingle" not in line
        if "Aggregate" in line and "count(" in line:
            assert "id_a" not in line and "id_b" not in line


def test_minhash_bucket_pop_cap_semantics(spark):
    """max_bucket_pop drops over-populated band buckets wholesale:
    identical docs collide in EVERY band, so with cap < n_docs every
    bucket is over-cap and no pairs survive; cap=None restores them.
    The DuckDB oracle applies the identical cap (same QUALIFY count)."""
    import duckdb
    import pandas as pd

    from binance_futures_availability_spark.oracles import (
        sql_minhash_lsh_pairs,
    )

    rows = [(i, "a b c d e f") for i in range(4)] + [
        (10, "p q r s t u v w"),
        (11, "p q r s t u v x"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, 0.5, max_bucket_pop=3).collect()
    }
    # the 4-clone buckets (pop 4 > 3) vanish; the pair-only buckets stay
    assert capped == {(10, 11)}
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, 0.5, max_bucket_pop=None).collect()
    }
    assert {(a, b) for a in range(4) for b in range(4) if a < b} <= uncapped

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    for cap, want in ((3, capped), (None, uncapped)):
        got = {
            (int(a), int(b))
            for a, b, _ in con.execute(
                sql_minhash_lsh_pairs(0.5, max_bucket_pop=cap)
            ).fetchall()
        }
        assert got == want
    con.close()


def test_simhash_banded_equals_brute_force(docs):
    s = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    brute = {
        (a, b, bin(s[a] ^ s[b]).count("1"))
        for a in s
        for b in s
        if a < b and bin(s[a] ^ s[b]).count("1") <= 20
    }
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs(docs, max_hamming=20).collect()
    }
    assert banded == brute
    # identical docs → identical fingerprints → hamming 0
    assert (0, 1, 0) in banded


def test_simhash_pairs_no_cartesian(docs):
    plan = (
        dedup.simhash_pairs(docs, 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


# ------------------------------------------------------------- similarity


def test_ann_topk_identical_vector_first(emb):
    got = similarity.ann_topk(emb, query_vec_id=0, k=3).collect()
    assert got[0]["vec_id"] == 1 and math.isclose(got[0]["cosine"], 1.0)
    assert got[-1]["vec_id"] == 3 and math.isclose(got[-1]["cosine"], -1.0)


def test_cosine_pairs_threshold(emb):
    got = {
        (r["id_a"], r["id_b"]) for r in similarity.cosine_pairs(emb, 0.99).collect()
    }
    assert got == {(0, 1)}


def test_lsh_same_vector_same_bucket(emb):
    b = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(emb).collect()}
    assert b[0] == b[1]
    lsh = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_cosine_pairs(emb, 0.99).collect()
    }
    assert lsh == {(0, 1)}  # identical vectors always share a bucket


def test_embedding_dedup_drops_higher_id_near_dup(emb):
    # vectors 0 and 1 are identical → 1 (the higher id) is dropped
    got = [
        r["vec_id"]
        for r in similarity.embedding_dedup_survivors(emb, 0.99).collect()
    ]
    assert got == [0, 2, 3]


def test_ivf_cells_assigns_every_vector(emb):
    got = {r["vec_id"]: r["cell"] for r in similarity.ivf_cells(emb, n_cells=2).collect()}
    assert set(got) == {0, 1, 2, 3}
    # seeds are vectors 0 and 1 (identical) → ties break to cell 0; the
    # anti-parallel vector 3 is furthest from seed 0, orthogonal 2 ties
    assert got[0] == 0 and got[1] == 0


def test_ivf_topk_matches_brute_force_in_probed_cells(emb):
    # nprobe == n_cells ⇒ no pruning ⇒ IVF equals the exact baseline
    exact = [r["vec_id"] for r in similarity.ann_topk(emb, 0, k=3).collect()]
    ivf = [
        r["vec_id"]
        for r in similarity.ivf_topk(emb, 0, k=3, n_cells=2, nprobe=2).collect()
    ]
    assert ivf == exact


def test_ivf_topk_prunes_unprobed_cells(emb):
    # seeds = v0, v0, v2: the orthogonal vector 2 and anti-parallel 3 land
    # in cell 2; nprobe=1 probes the query's cell (0), so only the
    # identical vector 1 survives the cell pruning
    got = [
        r["vec_id"]
        for r in similarity.ivf_topk(emb, 0, k=4, n_cells=3, nprobe=1).collect()
    ]
    assert got == [1]


def test_lsh_cosine_pairs_no_cartesian(emb):
    plan = (
        similarity.lsh_cosine_pairs(emb, 0.9)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_lsh_multi_no_cartesian(emb):
    plan = (
        similarity.lsh_cosine_pairs_multi(emb, 0.9, n_tables=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_label_centroids_exact_means(spark):
    rows = [(0, [1.0, 3.0], "a"), (1, [3.0, 5.0], "a"), (2, [2.0, 2.0], "b")]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {
        (r["label"], r["dim"]): r["mean_value"]
        for r in similarity.label_centroids(df).collect()
    }
    assert got == {
        ("a", 0): 2_000_000.0,
        ("a", 1): 4_000_000.0,
        ("b", 0): 2_000_000.0,
        ("b", 1): 2_000_000.0,
    }


# ---------------------------------------------------------------- textops


def test_token_counts(spark):
    df = spark.createDataFrame([(0, "a bb  ccc"), (1, "one")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in textops.token_counts(df).collect()}
    assert got[0]["n_tokens"] == 3
    assert got[0]["n_word_tokens"] == 3
    assert got[1]["n_tokens"] == 1
    assert got[0]["n_subword_est"] == 3


def test_subword_estimate_bpe_conventions(spark):
    # digit chunking (<=3), contraction suffix split, punct runs
    df = spark.createDataFrame(
        [(0, "it's 123456 well-known!!")], ["doc_id", "text"]
    )
    r = textops.token_counts(df).collect()[0]
    # it | 's | " 123" | "456" | " well" | "-" | "known" | "!!"
    assert r["n_subword_est"] == 8


def test_quality_scores_components(spark):
    df = spark.createDataFrame([(0, "the cat sat")], ["doc_id", "text"])
    r = textops.quality_scores(df).collect()[0]
    assert r["word_count"] == 3
    assert r["stopword_count"] == 1  # "the"
    assert math.isclose(r["avg_word_len"], 9 / 3)
    assert math.isclose(r["stopword_ratio"], 1 / 3)
    expected = 0.4 * min(3 / 100.0, 1.0) + 0.4 * (1 / 3) + 0.2 * min(3.0 / 10.0, 1.0)
    assert math.isclose(r["quality_score"], expected)


def test_language_id_votes(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog is in a house"),
            (1, "der hund und die katze ist ein tier"),
            (2, "xyzzy plugh"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["predicted_lang"] for r in textops.language_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "unknown"}


def test_fingerprints_identical_for_normalized_dups(docs):
    got = {r["doc_id"]: r for r in textops.fingerprints(docs).collect()}
    assert got[0]["content_md5"] == got[1]["content_md5"]
    assert got[0]["min_shingle_hash"] == got[1]["min_shingle_hash"]
    assert got[0]["content_md5"] != got[2]["content_md5"]


# ------------------------------------------------------------- multimodal


def test_multimodal_features_digest(spark):
    df = spark.createDataFrame([(7, "hello", "s")], ["doc_id", "text", "source"])
    r = multimodal.extract_features(multimodal.documents_as_media(df)).collect()[0]
    assert r["asset_id"] == 7
    assert r["n_bytes"] == 5
    assert r["digest"] == hashlib.md5(b"hello").hexdigest()


def test_multimodal_frames_shapes(spark):
    text = "x" * 150  # 150 bytes → frames of 64: 64, 64, 22
    df = spark.createDataFrame([(1, text, "s")], ["doc_id", "text", "source"])
    got = multimodal.sample_frames(
        multimodal.documents_as_media(df), frame_size=64, max_frames=4
    ).collect()
    sizes = {r["frame_no"]: r["frame_bytes"] for r in got}
    assert sizes == {0: 64, 1: 64, 2: 22}


def test_multimodal_frames_caps_at_max(spark):
    df = spark.createDataFrame([(1, "y" * 1000, "s")], ["doc_id", "text", "source"])
    got = multimodal.sample_frames(
        multimodal.documents_as_media(df), frame_size=64, max_frames=4
    ).collect()
    assert len(got) == 4


def test_resize_media_bounds_and_roundtrip(spark):
    from binance_futures_availability_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "x" * 1000, "s"), (2, "y" * 10, "s"), (3, "", "s")],
        ["doc_id", "text", "source"],
    )
    assets = multimodal.documents_as_media(docs)
    got = {
        r["asset_id"]: r
        for r in multimodal.resize_media(assets, target_bytes=256).collect()
    }
    assert got[1]["n_bytes_in"] == 1000
    assert got[1]["n_bytes_out"] == 250  # stride 4 over 1000 bytes
    assert got[1]["n_bytes_out"] <= 256
    assert bytes(got[1]["media"]) == b"x" * 250
    assert got[2]["n_bytes_out"] == 10  # already under target: unchanged
    assert got[3]["n_bytes_out"] == 0


def test_decode_image_real_path(spark):
    """Real decode of a generated PNG (vendored codec, PIL when present —
    ``has_image_codec()`` is always true since r9), NULL row for
    undecodable bytes (corrupt assets must not kill the batch)."""
    import numpy as np

    from binance_futures_availability_spark.functions import png

    assert multimodal.has_image_codec()
    data = png.encode_png(np.arange(36, dtype=np.uint8).reshape(3, 4, 3))
    assets = spark.createDataFrame(
        [(1, bytearray(data), "image/png", len(data), "s"),
         (2, bytearray(b"not an image"), "image/png", 12, "s")],
        multimodal.MEDIA_ASSET,
    )
    got = {r["asset_id"]: r for r in multimodal.decode_image(assets).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (4, 3, 3)
    assert got[1]["mode"] == "RGB"
    assert got[2]["width"] is None and got[2]["mode"] is None


def test_python_workers_get_the_package_on_their_path(spark):
    """Python workers import the engine (the image UDFs do) whatever the
    caller's working directory or ``PYTHONPATH``: the session puts the
    package's parent on the workers' ``PYTHONPATH``."""
    import os
    import pathlib

    import binance_futures_availability_spark as pkg

    parent = str(pathlib.Path(pkg.__file__).resolve().parents[1])
    worker_path = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: os.environ.get("PYTHONPATH", ""))
        .first()
    )
    assert parent in worker_path.split(os.pathsep)


def test_resize_image_exact_pixels(spark):
    """resize_image produces EXACTLY the nearest-neighbor resample: the
    output PNG bytes equal the deterministic encode of independently
    computed expected pixels (dims, bytes, and pixel values all pinned)."""
    import numpy as np

    from binance_futures_availability_spark.functions import png

    rng = np.random.RandomState(11)
    src = rng.randint(0, 256, size=(6, 10, 3), dtype=np.uint8)
    data = png.encode_png(src)
    assets = spark.createDataFrame(
        [(7, bytearray(data), "image/png", len(data), "s"),
         (8, bytearray(b"junk"), "image/png", 4, "s")],
        multimodal.MEDIA_ASSET,
    )
    got = {
        r["asset_id"]: r
        for r in multimodal.resize_image(assets, target_w=4, target_h=3).collect()
    }
    # independent nearest-neighbor reference: src[floor(y*6/3)][floor(x*10/4)]
    exp = src[(np.arange(3) * 6) // 3][:, (np.arange(4) * 10) // 4]
    assert (got[7]["width_in"], got[7]["height_in"]) == (10, 6)
    assert (got[7]["width_out"], got[7]["height_out"]) == (4, 3)
    assert bytes(got[7]["media"]) == png.encode_png(exp)
    assert got[7]["n_bytes_out"] == len(png.encode_png(exp))
    assert got[8]["media"] is None and got[8]["width_in"] is None


def test_shared_pixels_path_matches_per_query_decode(spark, tmp_path):
    """The decoded-pixels artifact path (decoded_png_pixels →
    roundtrip_from_pixels / resize_from_pixels) yields row-identical
    results to the per-query-decode operators it replaces in the
    catalog, and the decode is cached: both consumers resolve to the
    SAME persisted handle."""
    from binance_futures_availability_spark.index_cache import (
        _HANDLES,
        clear_indexes,
    )

    clear_indexes()
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "hello png world", "web"), (2, "", "web"), (3, "x" * 100, "book")],
        ["doc_id", "text", "source"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)

    n_before = len(_HANDLES)
    decoded = multimodal.decoded_png_pixels(docs)
    old_rt = {
        r["asset_id"]: r
        for r in multimodal.decode_image_roundtrip(
            multimodal.documents_as_png(docs)
        ).collect()
    }
    new_rt = {
        r["asset_id"]: r
        for r in multimodal.roundtrip_from_pixels(decoded).collect()
    }
    assert old_rt == new_rt
    old_rs = {
        r["asset_id"]: r
        for r in multimodal.resize_image(
            multimodal.documents_as_png(docs), 4, 4
        ).collect()
    }
    new_rs = {
        r["asset_id"]: r
        for r in multimodal.resize_from_pixels(decoded, 4, 4).collect()
    }
    assert old_rs == new_rs
    # png_assets + png_pixels + the (4,4) thumbnail table — decode shared,
    # the parameterized resize cached under its own dims-keyed entry
    assert len(_HANDLES) == n_before + 3
    assert multimodal.decoded_png_pixels(docs) is decoded  # cache hit
    assert (
        multimodal.resize_from_pixels(decoded, 4, 4)
        is multimodal.resize_from_pixels(decoded, 4, 4)
    )
    assert (
        multimodal.resize_from_pixels(decoded, 5, 5)
        is not multimodal.resize_from_pixels(decoded, 4, 4)
    )
    clear_indexes()


def test_png_roundtrip_and_foreign_filters():
    """Vendored codec: encode→decode identity for every supported channel
    count, deterministic bytes, and correct decode of a PNG written with
    ALL FIVE scanline filters (the shape external encoders like PIL emit)."""
    import struct
    import zlib

    import numpy as np

    from binance_futures_availability_spark.functions import png

    rng = np.random.RandomState(7)
    for shape in [(1, 1), (3, 5), (7, 3, 3), (5, 4, 4), (6, 2, 2)]:
        arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
        data = png.encode_png(arr)
        w, h, c, mode, px = png.decode_png(data)
        exp = arr if arr.ndim == 3 else arr[:, :, None]
        assert px.shape == exp.shape and (px == exp).all()
        assert png.encode_png(arr) == data  # byte-deterministic

    # hand-build an RGB PNG using filter y%5 on row y, check exact decode
    arr = rng.randint(0, 256, size=(6, 8, 3), dtype=np.uint8)
    h, w, c = arr.shape
    stride = w * c
    rows, prev = [], np.zeros(stride, dtype=np.int32)

    def paeth(a, b, cc):
        p = a + b - cc
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else cc)

    for y in range(h):
        line = arr[y].reshape(-1).astype(np.int32)
        f = y % 5
        filt = np.zeros(stride, dtype=np.int32)
        for i in range(stride):
            left = line[i - c] if i >= c else 0
            up = prev[i]
            ul = prev[i - c] if i >= c else 0
            pred = {
                0: 0,
                1: left,
                2: up,
                3: (left + up) // 2,
                4: paeth(left, up, ul),
            }[f]
            filt[i] = (line[i] - pred) % 256
        rows.append(bytes([f]) + bytes(filt.astype(np.uint8)))
        prev = line

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    w2, h2, c2, mode, px = png.decode_png(data)
    assert (w2, h2, c2, mode) == (8, 6, 3, "RGB")
    assert (px == arr).all()
    # unsupported variants are clean errors, not garbage pixels
    with pytest.raises(ValueError):
        png.decode_png(b"not a png")
    with pytest.raises(ValueError):
        png.decode_png(
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
            + chunk(b"IEND", b"")
        )


def test_clear_indexes_returns_storage_to_baseline(spark, tmp_path_factory):
    """Unpersist discipline: keyed index artifacts AND tracked scoped
    persists (self-join intermediates over non-file-backed inputs) are all
    released by clear_indexes() — storage returns to its prior baseline
    instead of waiting on the ContextCleaner's GC schedule."""
    from binance_futures_availability_spark import index_cache

    jsc = spark.sparkContext._jsc.sc()

    def cached_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    baseline = cached_ids()

    # file-backed docs → keyed index artifacts (shingles, simhash table)
    path = str(tmp_path_factory.mktemp("cleartest") / "docs")
    rows = [(i, f"alpha beta gamma delta w{i} w{i+1} w{i+2}") for i in range(20)]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(path)
    fdocs = spark.read.parquet(path)
    dedup.simhash_pairs(fdocs, 3).collect()

    # in-memory embeddings → tracked scoped persist (not keyable)
    erows = [(i, [float(i % 3), 1.0, 0.5, 0.25], "a") for i in range(12)]
    memb = spark.createDataFrame(erows, ["vec_id", "embedding", "label"])
    similarity.lsh_cosine_pairs(memb, 0.5).collect()

    assert cached_ids() - baseline  # the run added storage blocks

    index_cache.clear_indexes()
    assert cached_ids() - baseline == set()  # ...and all of them released


def test_term_frequencies_integer_exact(docs):
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["n_docs"])
        for r in textops.term_frequencies(docs).collect()
    }
    # "the" appears twice in docs 0 and 1, nowhere else → tf=2, df=2
    assert got[(0, "the")] == (2, 2, 6)
    assert got[(1, "the")] == (2, 2, 6)
    # "alpha" once in docs 2 and 3
    assert got[(2, "alpha")] == (1, 2, 6)
    assert (4, "the") not in got


def test_tfidf_weights_match_reference_formula(docs):
    import math

    rows = textops.tfidf_weights(docs).collect()
    assert rows
    for r in rows:
        want = r["tf"] * (math.log((6 + 1) / (r["df"] + 1)) + 1.0)
        assert abs(r["tfidf"] - want) < 1e-12, (r, want)
    # rarer terms weigh more at equal tf
    by_term = {(r["doc_id"], r["term"]): r["tfidf"] for r in rows}
    assert by_term[(4, "spark")] > by_term[(0, "the")] / 2  # df 1 vs 2


def test_duplicate_clusters_transitive_closure(spark):
    """A~B and B~C land in one cluster even with no direct A~C pair;
    disjoint pairs form separate clusters; singletons self-label.
    Both execution paths (driver union-find / distributed propagation)
    must agree exactly."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(7)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], ["id_a", "id_b"]
    )
    want = {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 2}
    for limit in (2_000_000, 0):  # bounded path, then distributed path
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(
                docs, pairs, driver_pair_limit=limit
            ).collect()
        }
        assert got == want, limit


def test_duplicate_clusters_chain_converges(spark):
    # a 6-node path: diameter 5 → exercises multiple propagation rounds
    docs = spark.createDataFrame(
        [(i, "x") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["id_a", "id_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(
            docs, pairs, driver_pair_limit=0
        ).collect()
    }
    assert got == {i: 0 for i in range(6)}


def test_duplicate_clusters_long_chain_beyond_naive_diameter(spark):
    """A 25-node path (diameter 24 > the old per-round reach of max_iter=20
    one-hop rounds) on the DISTRIBUTED path: pointer doubling must converge
    it well inside the default budget — this is the exact shape that used
    to return silently wrong partial labels."""
    n = 25
    docs = spark.createDataFrame([(i, "x") for i in range(n)], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(
            docs, pairs, max_iter=8, driver_pair_limit=0
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_star_contraction_hub_graph_round_count(spark):
    """The skewed-star stress shape: ONE hub joined to 10⁵ members (hub
    id ABOVE every member, so the naive per-node MIN is wrong everywhere
    and every edge must re-attach). Correctness is a given — the
    assertion is the ROUND COUNT: large-star shatters the hub in one
    round, so contraction must converge in ≤3 alternating rounds, not
    O(diameter) or O(members)."""
    n = 100_000
    hub = n + 7  # larger than every member: worst case for min-attach
    pairs = spark.range(1, n + 1).selectExpr(
        f"CAST({hub} AS BIGINT) AS id_a", "id AS id_b"
    )
    stars, rounds = dedup._star_contraction(pairs, max_iter=6)
    assert rounds <= 3, rounds
    got = stars.selectExpr("src", "dst AS c").collect()
    assert len(got) == n  # every non-min node (members 2..n and the hub)
    assert {r["c"] for r in got} == {1}  # component min = member 1


def test_star_contraction_matches_union_find_on_random_graphs(spark):
    """Distributed star contraction ≡ driver union-find on random edge
    sets (both paths of duplicate_clusters), including multi-component
    graphs, parallel/reversed duplicate edges, and self-loops."""
    import random

    rng = random.Random(411)
    for trial in range(4):
        n_nodes = rng.randint(6, 40)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(rng.randint(1, 60))
        ]
        docs = spark.createDataFrame(
            [(i, "x") for i in range(n_nodes)], ["doc_id", "text"]
        )
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        bounded = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(docs, pairs).collect()
        }
        distributed = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(
                docs, pairs, driver_pair_limit=0
            ).collect()
        }
        assert bounded == distributed, (trial, edges)


def test_duplicate_clusters_raises_instead_of_partial_labels(spark):
    """Exhausting max_iter unconverged must RAISE, never return partial
    cluster ids (distributed path; the bounded path is exact by
    construction and never iterates)."""
    docs = spark.createDataFrame([(i, "x") for i in range(9)], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(
            docs, pairs, max_iter=1, driver_pair_limit=0
        ).collect()


def test_star_contraction_certifies_star_form_input_in_one_round(spark):
    """An edge set already in star form (every edge points at its
    component's minimum) is the fixpoint: ``max_iter=1`` certifies it
    instead of raising, on ``_star_contraction`` and on the distributed
    path of ``duplicate_clusters``."""
    pairs = spark.createDataFrame(
        [(2, 1), (1, 3), (7, 5), (5, 9)], ["id_a", "id_b"]
    )
    stars, rounds = dedup._star_contraction(pairs, max_iter=1)
    assert rounds == 1
    assert {(r["src"], r["dst"]) for r in stars.collect()} == {
        (2, 1), (3, 1), (7, 5), (9, 5)
    }
    docs = spark.createDataFrame([(i, "x") for i in range(10)], ["doc_id", "text"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(
            docs, pairs, max_iter=1, driver_pair_limit=0
        ).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6, 7: 5, 8: 8, 9: 5}


# ---------------------------------------------------- corpus management


def test_read_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    from binance_futures_availability_spark.sources import corpus

    p = tmp_path / "dump.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "source": "web"}\n'
        '{"doc_id": 2, "text": "zweite zeile"}\n'
        "this is not json at all\n"
        '{"doc_id": 3, "text": "third", "source": "book"}\n'
    )
    docs = corpus.read_jsonl(spark, str(p))
    clean, bad = corpus.split_corrupt(docs)
    got = {r["doc_id"]: (r["text"], r["source"]) for r in clean.collect()}
    assert got == {
        1: ("hello world", "web"),
        2: ("zweite zeile", None),  # missing field → NULL, not corrupt
        3: ("third", "book"),
    }
    assert [r["_corrupt"] for r in bad.collect()] == ["this is not json at all"]


def test_write_corpus_partitions_by_language_and_prunes(spark, tmp_path):
    from binance_futures_availability_spark.sources import corpus

    rows = [
        (1, "the quick brown fox is in the house", "web"),
        (2, "der schnelle braune fuchs ist ein tier und der hund", "web"),
        (3, "xyzzy plugh qwfp zxcv", "web"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    path = str(tmp_path / "corpus")
    corpus.write_corpus(docs, path)

    import os

    langs = {d.split("=")[1] for d in os.listdir(path) if d.startswith("predicted_lang=")}
    assert "en" in langs and "de" in langs and "unknown" in langs

    en = corpus.read_corpus(spark, path, lang="en")
    assert [r["doc_id"] for r in en.collect()] == [1]
    plan = en._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "predicted_lang" in plan.split(
        "PartitionFilters"
    )[1][:120]


def test_corpus_split_deterministic_and_stable(docs, spark):
    got1 = {r["doc_id"]: r["split"] for r in textops.corpus_split(docs).collect()}
    got2 = {r["doc_id"]: r["split"] for r in textops.corpus_split(docs).collect()}
    assert got1 == got2  # pure function of (salt, id)
    assert set(got1.values()) <= {"train", "val", "test"}
    # adding documents never reshuffles existing assignments
    more = spark.createDataFrame(
        [(100 + i, f"new doc {i}") for i in range(10)], ["doc_id", "text"]
    )
    combined = docs.unionByName(more)
    got3 = {r["doc_id"]: r["split"] for r in textops.corpus_split(combined).collect()}
    assert all(got3[k] == v for k, v in got1.items())


def test_corpus_split_fractions_roughly_hold(spark):
    big = spark.createDataFrame(
        [(i, "t") for i in range(5000)], ["doc_id", "text"]
    )
    counts = {
        r["split"]: r["n"]
        for r in textops.corpus_split(big)
        .groupBy("split")
        .agg(__import__("pyspark").sql.functions.count("*").alias("n"))
        .collect()
    }
    assert counts["train"] / 5000 > 0.96
    assert 0.002 < counts["val"] / 5000 < 0.03
    assert 0.002 < counts["test"] / 5000 < 0.03
    # a different salt draws an independent split: on 5 000 ids, ~2% of
    # assignments must move
    a = {r["doc_id"]: r["split"] for r in textops.corpus_split(big).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in textops.corpus_split(big, salt="split-v2").collect()
    }
    assert a != b


def test_corpus_split_rejects_uncovering_splits(docs):
    for split in (
        textops.corpus_split,
        textops.grouped_split,
        textops.curate_corpus,
    ):
        # not reaching 1000 → rows above the last bound would get NULL splits
        with pytest.raises(ValueError, match="1000"):
            split(docs, splits=(("train", 980), ("val", 990)))
        # unsorted uppers → earlier when() shadows later ones
        with pytest.raises(ValueError, match="increasing"):
            split(docs, splits=(("train", 990), ("val", 980), ("test", 1000)))
        # zero-width first bucket
        with pytest.raises(ValueError):
            split(docs, splits=(("train", 0), ("test", 1000)))


def test_corpus_count_keyed_by_plan_not_just_files(spark, tmp_path):
    """Regression (round-4 ADVICE, high): a filtered frame and the full
    table read the SAME files — the n_docs cache must still distinguish
    them, or df/idf silently use the wrong corpus size."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "alpha beta") for i in range(10)], ["doc_id", "text"]
    ).write.parquet(path)
    fdocs = spark.read.parquet(path)
    filtered = fdocs.filter(F.col("doc_id") < 4)
    n_filtered = textops.term_frequencies(filtered).first()["n_docs"]
    n_full = textops.term_frequencies(fdocs).first()["n_docs"]
    assert (n_filtered, n_full) == (4, 10)
    # and the cache path itself (second call, same frame) stays correct
    assert textops.term_frequencies(filtered).first()["n_docs"] == 4


def test_pack_sequences_budget_quantization(spark):
    # one shard (n_shards=1) → fully sequential: 4 docs × 3 tokens with
    # budget 5: excl cumsums 0,3,6,9 → packs 0,0,1,1
    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(4)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["pack_id"])
        for r in textops.pack_sequences(docs, budget=5, n_shards=1).collect()
    }
    assert got == {0: (3, 0), 1: (3, 0), 2: (3, 1), 3: (3, 1)}


def test_pack_sequences_packs_near_budget(spark):
    import collections

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (5 + i % 7))) for i in range(200)],
        ["doc_id", "text"],
    )
    rows = textops.pack_sequences(docs, budget=64, n_shards=4).collect()
    packs = collections.defaultdict(int)
    for r in rows:
        packs[r["pack_id"]] += r["n_tokens"]
    # every non-final pack per shard holds ≥ budget-minus-one-doc tokens
    # and ≤ budget-plus-one-doc (greedy-quantized contract)
    finals = {max(p for p in packs if p // 1_000_000 == s) for s in {r["shard"] for r in rows}}
    for pid, tok in packs.items():
        assert tok <= 64 + 11
        if pid not in finals:
            assert tok >= 64 - 11


def test_pii_scrub_arrow_matches_jvm_expressions(spark):
    """The r14 Arrow/RE2 scrub pass is value-identical to the original
    stacked-projection JVM form (regexp_replace + placeholder-delta
    counts) on every edge the operator defines: multi-category rows,
    digit-run attribution order, null text, empty text, text that IS a
    single PII item, and adjacent matches."""
    from pyspark.sql import functions as F

    from binance_futures_availability_spark.operators.textops import (
        PII_ORDER,
        PII_PATTERNS,
    )

    rows = [
        (0, "mail bob@example.com and carol.j+x@sub.example.org today"),
        (1, "server at 192.168.1.1 and 10.0.0.255 responded"),
        (2, "call +1 (555) 123-4567 or 020 7946 0958 now"),
        (3, None),
        (4, ""),
        (5, "a@b.co"),
        (6, "1.2.3.4 5.6.7.8"),
        (7, "a@b.cc1.2.3.4 tail"),  # email eats leading digits first
        (8, "mixed: a@b.co then 8.8.8.8 then +44 20 7946 0958 end"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def _ph_count(col, ph):
        return (
            (F.length(col) - F.length(F.replace(col, F.lit(ph))))
            / F.lit(len(ph))
        ).cast("int")

    stages = ["__t0"]
    ref = docs.select(F.col("doc_id"), F.col("text").alias("__t0"))
    for i, cat in enumerate(PII_ORDER, start=1):
        ref = ref.select(
            "*",
            F.regexp_replace(
                F.col(stages[-1]), PII_PATTERNS[cat], f"<{cat.upper()}>"
            ).alias(f"__t{i}"),
        )
        stages.append(f"__t{i}")
    ref = ref.select(
        "doc_id",
        F.col(stages[-1]).alias("text_clean"),
        *[
            (
                _ph_count(F.col(stages[i + 1]), f"<{cat.upper()}>")
                - _ph_count(F.col(stages[i]), f"<{cat.upper()}>")
            ).alias(f"n_{cat}")
            for i, cat in enumerate(PII_ORDER)
        ],
    )
    want = {r["doc_id"]: r.asDict() for r in ref.collect()}
    got = {r["doc_id"]: r.asDict() for r in textops.pii_scrub(docs).collect()}
    assert got == want


def test_pii_scrub_redacts_and_attributes_each_category_once(spark):
    docs = spark.createDataFrame(
        [
            (0, "mail bob@example.com and carol.j+x@sub.example.org today"),
            (1, "server at 192.168.1.1 and 10.0.0.255 responded"),
            (2, "call +1 (555) 123-4567 or 020 7946 0958 now"),
            (3, "clean document with no sensitive content at all"),
            (4, "mixed: a@b.co then 8.8.8.8 then +44 20 7946 0958 end"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in textops.pii_scrub(docs).collect()}
    assert (got[0]["n_email"], got[0]["n_ip"], got[0]["n_phone"]) == (2, 0, 0)
    assert "<EMAIL>" in got[0]["text_clean"]
    assert "@" not in got[0]["text_clean"]
    # IPs are digit runs — counted as ip, never double-counted as phone
    assert (got[1]["n_email"], got[1]["n_ip"], got[1]["n_phone"]) == (0, 2, 0)
    assert "<IP>" in got[1]["text_clean"]
    assert got[2]["n_phone"] >= 1 and got[2]["n_ip"] == 0
    assert got[3]["text_clean"].startswith("clean document")
    assert (got[3]["n_email"], got[3]["n_ip"], got[3]["n_phone"]) == (0, 0, 0)
    assert got[4]["n_email"] == 1 and got[4]["n_ip"] == 1 and got[4]["n_phone"] == 1
    assert "<EMAIL>" in got[4]["text_clean"]
    assert "<IP>" in got[4]["text_clean"]
    assert "<PHONE>" in got[4]["text_clean"]


def test_contamination_check_counts_distinct_shared_ngrams(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # shares the full 9-token benchmark doc → 5 distinct 5-grams
            (0, "the quick brown fox jumps over the lazy dog"),
            # shares exactly one 5-gram window
            (1, "xx the quick brown fox jumps yy zz ww"),
            # no 5-gram overlap
            (2, "completely unrelated training text goes right here ok"),
            # too short for any 5-gram
            (3, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in textops.contamination_check(train, bench, n=5).collect()
    }
    assert got[0]["n_matched"] == 5 and got[0]["contaminated"]
    assert got[1]["n_matched"] == 1 and got[1]["contaminated"]
    assert got[2]["n_matched"] == 0 and not got[2]["contaminated"]
    assert got[3]["n_matched"] == 0 and not got[3]["contaminated"]
    # min_overlap raises the bar
    strict = {
        r["doc_id"]: r["contaminated"]
        for r in textops.contamination_check(
            train, bench, n=5, min_overlap=2
        ).collect()
    }
    assert strict[0] and not strict[1]


# --- sampling / data-mixing (operators/sampling.py) ---


@pytest.fixture(scope="module")
def corpus200(spark):
    langs = ["en", "de", "fr", "es"]
    # en docs are 10× longer — a genuinely skewed mixture, so the
    # temperature test has real signal (uniform strata would reduce the
    # proportional-vs-sqrt comparison to floor-division noise)
    rows = [
        (
            i,
            " ".join(["tok"] * ((3 + i % 11) * (10 if i % 4 == 0 else 1))),
            langs[i % 4],
            f"src{i % 3}",
        )
        for i in range(200)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_stratified_sample_deterministic_and_nested(corpus200):
    from binance_futures_availability_spark.operators import sampling

    half = sampling.stratified_sample(corpus200, {"en": 5000}, 10000)
    again = sampling.stratified_sample(corpus200, {"en": 5000}, 10000)
    ids = {r["doc_id"] for r in half.collect()}
    assert ids == {r["doc_id"] for r in again.collect()}
    # non-en strata kept whole; en roughly halved
    non_en = corpus200.filter("lang <> 'en'").count()
    assert half.filter("lang <> 'en'").count() == non_en
    en_kept = len([i for i in ids if i % 4 == 0])
    assert 10 <= en_kept <= 40  # 50 en docs at rate 1/2
    # nested property: a lower rate yields a subset of a higher rate
    quarter = {
        r["doc_id"]
        for r in sampling.stratified_sample(corpus200, {"en": 2500}, 10000)
        .filter("lang = 'en'")
        .collect()
    }
    assert quarter <= {i for i in ids if i % 4 == 0}


def test_stratified_sample_rejects_bad_rates(corpus200):
    from binance_futures_availability_spark.operators import sampling

    with pytest.raises(ValueError):
        sampling.stratified_sample(corpus200, {"en": 10001})
    with pytest.raises(ValueError):
        sampling.stratified_sample(corpus200, {}, default_rate=-1)


def test_stratum_cap_exact_k_and_stable(corpus200):
    from binance_futures_availability_spark.operators import sampling

    out = sampling.stratum_cap(corpus200, 7, strata_col="source").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"src0", "src1", "src2"}
    for rows in by_src.values():
        assert len(rows) == 7
        assert sorted(r["sample_rank"] for r in rows) == list(range(1, 8))
    # determinism across invocations
    out2 = sampling.stratum_cap(corpus200, 7, strata_col="source").collect()
    assert {(r["doc_id"], r["sample_rank"]) for r in out} == {
        (r["doc_id"], r["sample_rank"]) for r in out2
    }
    with pytest.raises(ValueError):
        sampling.stratum_cap(corpus200, 0)


def test_mixture_weights_sqrt_temperature(corpus200):
    from binance_futures_availability_spark.operators import sampling

    rows = sampling.mixture_weights(corpus200, strata_col="lang").collect()
    assert len(rows) == 4
    total_ppm = sum(r["weight_ppm"] for r in rows)
    assert 999990 <= total_ppm <= 1000000  # floor-division shortfall only
    for r in rows:
        assert r["scaled_tokens"] == math.isqrt(r["total_tokens"])
    # proportional (no temperature) weights differ and favor big strata more
    prop = {
        r["lang"]: r["weight_ppm"]
        for r in sampling.mixture_weights(
            corpus200, strata_col="lang", temperature_sqrt=False
        ).collect()
    }
    sq = {r["lang"]: r["weight_ppm"] for r in rows}
    big = max(prop, key=prop.get)
    assert prop[big] >= sq[big]


def test_length_stats_exact_median(spark):
    from binance_futures_availability_spark.operators import sampling

    docs = spark.createDataFrame(
        [
            (0, "a", "x"),          # 1 token
            (1, "a b", "x"),        # 2
            (2, "a b c", "x"),      # 3  → odd stratum: median 2 → x2 = 4
            (3, "a b", "y"),        # 2
            (4, "a b c d", "y"),    # 4  → even stratum: median 3 → x2 = 6
        ],
        ["doc_id", "text", "lang"],
    )
    got = {
        r["lang"]: r
        for r in sampling.length_stats(docs, strata_col="lang").collect()
    }
    assert got["x"]["n_docs"] == 3 and got["x"]["median_tokens_x2"] == 4
    assert got["x"]["min_tokens"] == 1 and got["x"]["max_tokens"] == 3
    assert got["y"]["n_docs"] == 2 and got["y"]["median_tokens_x2"] == 6


def test_repetition_scores_counts_dup_ngrams(spark):
    docs = spark.createDataFrame(
        [
            # "spam spam spam spam": top term 4/4; 2-grams: 3 total, 1 distinct
            (0, "spam spam spam spam"),
            # all distinct tokens → no repetition
            (1, "alpha beta gamma delta"),
            # one token → no 2-grams, frac NULL
            (2, "solo"),
            # "a b a b a" → top 'a' 3/5; 2-grams: [a b, b a, a b, b a] → 2 dups
            (3, "a b a b a"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in textops.repetition_scores(docs).collect()}
    assert got[0]["top_term_count"] == 4 and got[0]["top_term_frac"] == 1.0
    assert got[0]["n_2grams"] == 3 and got[0]["n_dup_2grams"] == 2
    assert math.isclose(got[0]["dup_2gram_frac"], 2 / 3)
    assert got[1]["n_dup_2grams"] == 0 and got[1]["dup_2gram_frac"] == 0.0
    assert got[2]["n_2grams"] == 0 and got[2]["dup_2gram_frac"] is None
    assert got[3]["top_term_count"] == 3 and got[3]["n_dup_2grams"] == 2


def test_knn_join_matches_single_query_topk(emb):
    # full probe (nprobe == n_cells) → per-query result equals ann_topk
    from pyspark.sql import functions as F

    out = similarity.knn_join(
        emb, emb, k=3, n_cells=2, nprobe=2
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["knn_rank"])
        expect = similarity.ann_topk(emb, qid, k=3).collect()
        assert [r["vec_id"] for r in rows] == [e["vec_id"] for e in expect]
        assert all(
            math.isclose(r["cosine"], e["cosine"])
            for r, e in zip(rows, expect)
        )
        assert [r["knn_rank"] for r in rows] == [1, 2, 3]
    # no self matches anywhere
    assert all(r["query_id"] != r["vec_id"] for r in out)


def test_knn_join_prunes_to_probed_cells(emb):
    # nprobe=1: each query sees only its own cell's candidates — the
    # anti-parallel vector (cell 1 under 2 seeds v0,v0 → ties to cell 0;
    # use 3 cells so orthogonal/antiparallel split off)
    out = similarity.knn_join(emb, emb, k=3, n_cells=3, nprobe=1).collect()
    full = similarity.knn_join(emb, emb, k=3, n_cells=3, nprobe=3).collect()
    assert len(out) <= len(full)
    # pruned results are a subset of the full candidate relation per query
    fullset = {(r["query_id"], r["vec_id"]) for r in full}
    assert {(r["query_id"], r["vec_id"]) for r in out} <= fullset


def test_knn_join_broadcasts_queries_no_corpus_shuffle_by_cell(emb):
    plan = (
        similarity.knn_join(emb, emb, k=2, n_cells=2, nprobe=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # the only hash-partitioning exchange is the per-query top-k window
    import re

    parts = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert all(p.startswith("query_id") for p in parts), parts


def test_cross_dedup_pairs_only_cross_corpus(spark):
    a = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # near-dup WITHIN A — must NOT be reported
            (2, "the quick brown fox jumps over the lazy cat"),
        ],
        ["doc_id", "text"],
    )
    b = spark.createDataFrame(
        [
            # exact content match of A/0 — cross pair (0, 7)
            (7, "the quick brown fox jumps over the lazy dog"),
            # unrelated
            (8, "completely different content about spark engines"),
            # near-dup WITHIN B of nothing in A
            (9, "neunundneunzig luftballons auf ihrem weg zum horizont"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.cross_dedup_pairs(a, b, 0.5).collect()
    }
    assert (0, 7) in got and got[(0, 7)] == 1.0
    # A-internal near-dup (0,2) and any B-internal pair are excluded
    assert all(k == (0, 7) or k[0] in {0, 1, 2} and k[1] in {7, 8, 9} for k in got)
    assert (0, 2) not in got and (2, 0) not in got
    # ids come back in ORIGINAL ranges (offset removed)
    assert all(x < (1 << 40) for k in got for x in k)


def test_neardup_survivors_cluster_level(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "a b c d e f g h",      # 0 — chain head, survives
            "a b c d e f g x",      # 1 — pairs with 0
            "a b c d e f x y",      # 2 — pairs with 1 (maybe not with 0)
            "totally different words here now ok",  # 3 — singleton
        ])],
        ["doc_id", "text"],
    )
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3, max_shingle_freq=None)
    out = dedup.neardup_survivors(docs, pairs)
    ids = sorted(r["doc_id"] for r in out.collect())
    # one representative (the min id) per component + the singleton
    assert ids == [0, 3]
    # full doc rows come back, not just ids
    assert set(out.columns) == {"doc_id", "text"}


def test_knn_join_indexed_equals_in_session(spark, emb, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("knnidx") / "ivf")
    similarity.write_ivf_index(emb, idx, n_cells=2)
    disk = similarity.knn_join_indexed(
        spark, idx, emb, k=3, nprobe=2
    ).collect()
    mem = similarity.knn_join(emb, emb, k=3, n_cells=2, nprobe=2).collect()
    key = lambda r: (r["query_id"], r["knn_rank"])  # noqa: E731
    assert sorted(
        [(r["query_id"], r["vec_id"], r["knn_rank"]) for r in disk]
    ) == sorted([(r["query_id"], r["vec_id"], r["knn_rank"]) for r in mem])
    # the probe-cell union arrives as a PartitionFilter on the vectors scan
    plan = (
        similarity.knn_join_indexed(spark, idx, emb, k=3, nprobe=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:120]
    assert "cell" in seg


def test_apply_mixture_hits_budget_and_caps(spark):
    from binance_futures_availability_spark.operators import sampling

    # two strata: 'big' has 4000 tokens across 200 docs, 'small' 100 across 10
    rows = [(i, " ".join(["w"] * 20), "big") for i in range(200)] + [
        (1000 + i, " ".join(["w"] * 10), "small") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = sampling.apply_mixture(docs, budget_tokens=2000, strata_col="lang")
    got = out.collect()
    by = {}
    for r in got:
        by[r["lang"]] = by.get(r["lang"], 0) + 1
    # τ=0.5 upweights 'small': its target exceeds its natural mass → rate
    # caps at 10000 → ALL small docs kept
    assert by.get("small", 0) == 10
    # 'big' is downsampled: target ≈ 2000·w_big/1e6 < 4000 tokens
    assert 0 < by["big"] < 200
    # sampled token mass lands within a loose band of the big-stratum target
    w = {
        r["lang"]: r
        for r in sampling.mixture_weights(docs, strata_col="lang").collect()
    }
    target_big = 2000 * w["big"]["weight_ppm"] // 1_000_000
    assert abs(by["big"] * 20 - target_big) < 800  # hash-sampling variance
    # determinism + subset-of-corpus
    again = {r["doc_id"] for r in out.collect()}
    assert again == {r["doc_id"] for r in got}
    with pytest.raises(ValueError):
        sampling.apply_mixture(docs, 0)


def test_index_caches_isolate_across_corpora(spark):
    """Regression guard for the cache-key bug class: the SAME session
    querying two different corpora (and a filtered view of one) must never
    share n_docs / tf / gram artifacts between them."""
    a = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    na, nb = a.count(), b.count()
    tf_a = textops.term_frequencies(a).select("n_docs").first()["n_docs"]
    tf_b = textops.term_frequencies(b).select("n_docs").first()["n_docs"]
    assert (tf_a, tf_b) == (na, nb)
    # a filtered frame over the SAME files gets its own count (the exact
    # r4-advice pitfall: inputFiles() alone cannot key this)
    half = b.filter("doc_id % 2 = 0")
    tf_half = textops.term_frequencies(half).select("n_docs").first()["n_docs"]
    assert tf_half == half.count() != nb
    # repetition_scores' top-term branch reuses the per-corpus tf index
    # without crossing corpora either
    top_a = {
        r["doc_id"]: r["top_term_count"]
        for r in textops.repetition_scores(a).collect()
    }
    assert len(top_a) == na


def test_top_terms_df_not_tf_and_ties(spark):
    docs = spark.createDataFrame(
        [
            # 'x' appears many times in ONE doc — df must stay 1
            (0, "x x x x x y", "en"),
            (1, "y z", "en"),
            (2, "y z", "en"),
            (3, "aa bb", "de"),
        ],
        ["doc_id", "text", "lang"],
    )
    got = {
        (r["lang"], r["rnk"]): r
        for r in textops.top_terms(docs, k=2, strata_col="lang").collect()
    }
    # en: y in 3 docs; z in 2; x only 1 (occurrences don't inflate df)
    assert got[("en", 1)]["term"] == "y" and got[("en", 1)]["df"] == 3
    assert got[("en", 2)]["term"] == "z" and got[("en", 2)]["df"] == 2
    # de: tie df=1 between aa/bb → lexicographic
    assert got[("de", 1)]["term"] == "aa" and got[("de", 2)]["term"] == "bb"


def test_semantic_dedup_within_cluster_scope(spark):
    import math

    # seeds (two lowest ids) are the axes; 40-degree and 50-degree vectors
    # assign to different cells, a 41-degree vector joins the 40-degree one
    def at(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    emb2 = spark.createDataFrame(
        [(0, at(0), "x"), (1, at(90), "x"), (2, at(40), "x"),
         (3, at(50), "x"), (4, at(41), "x")],
        ["vec_id", "embedding", "label"],
    )
    got = [
        r["vec_id"]
        for r in sorted(
            similarity.semantic_dedup_survivors(emb2, 0.95, n_cells=2).collect(),
            key=lambda r: r["vec_id"],
        )
    ]
    # v4 is near-identical to v2 in the SAME cell -> dropped; v2/v3 are a
    # cos(10 deg) ~ 0.985 pair SPLIT ACROSS cells -> both survive (the
    # documented SemDeDup locality trade)
    assert got == [0, 1, 2, 3]


def test_semantic_dedup_drops_higher_id_identical(emb):
    # identical v0/v1 share a cell -> 1 dropped; the anti-parallel and
    # orthogonal vectors survive
    got = sorted(
        r["vec_id"]
        for r in similarity.semantic_dedup_survivors(emb, 0.99, n_cells=2).collect()
    )
    assert got == [0, 2, 3]


def test_source_overlap_jaccard_matrix(spark):
    docs3 = spark.createDataFrame(
        [
            (0, "a b c", "en", "s1"),
            (1, "b c d", "en", "s2"),
            (2, "b  c", "en", "s2"),      # dup tokens collapse per stratum
            (3, "x y z", "en", "s3"),     # disjoint from s1/s2
        ],
        ["doc_id", "text", "lang", "source"],
    )
    got = {
        (r["stratum_a"], r["stratum_b"]): r
        for r in textops.source_overlap(docs3).collect()
    }
    # s1={a,b,c}, s2={b,c,d}: shared 2, union 4
    r = got[("s1", "s2")]
    assert (r["n_terms_a"], r["n_terms_b"], r["n_shared"]) == (3, 3, 2)
    assert r["jaccard"] == 0.5
    # zero-overlap pairs are absent, not zero rows
    assert ("s1", "s3") not in got and ("s2", "s3") not in got
    assert set(got) == {("s1", "s2")}


def test_kmeans_cells_recovers_clusters_from_bad_seeds(spark):
    # both seeds (lowest ids) sit in cluster A; Lloyd rounds must pull one
    # centroid over to cluster B
    a = [[1.0, 0.0], [0.98, 0.05], [0.95, 0.1]]
    b = [[0.0, 1.0], [0.05, 0.98], [0.1, 0.95]]
    emb2 = spark.createDataFrame(
        [(i, v, "x") for i, v in enumerate(a + b)],
        ["vec_id", "embedding", "label"],
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in similarity.kmeans_cells(emb2, n_cells=2, n_iters=2).collect()
    }
    cells_a = {got[i] for i in (0, 1, 2)}
    cells_b = {got[i] for i in (3, 4, 5)}
    assert len(cells_a) == 1 and len(cells_b) == 1
    assert cells_a != cells_b


def test_curate_corpus_stage_composition(spark):
    docs6 = spark.createDataFrame(
        [
            # high quality (stopword-rich), duplicated with different ids
            (0, "the cat and the dog sat in the house of the king", "en", "s"),
            (5, "The cat and the dog  sat in the house of the KING", "en", "s"),
            # low quality: no stopwords, short
            (1, "zz qq xx", "en", "s"),
            # distinct survivor
            (2, "the quick brown fox is happy to see the lazy dog", "en", "s"),
        ],
        ["doc_id", "text", "lang", "source"],
    )
    got = {r["doc_id"]: r for r in textops.curate_corpus(docs6, 0.25).collect()}
    # doc 1 fails the quality gate; doc 5 is a normalized dup of doc 0
    # (case/whitespace) — lowest id survives
    assert set(got) == {0, 2}
    assert got[0]["n_tokens"] == 12
    assert got[0]["split"] in ("train", "val", "test")
    # the split matches the standalone corpus_split assignment
    split_map = {
        r["doc_id"]: r["split"]
        for r in textops.corpus_split(docs6.select("doc_id")).collect()
    }
    assert all(got[i]["split"] == split_map[i] for i in got)


def test_chunk_documents_stride_and_tail(spark):
    docs1 = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(10))), (1, "solo")],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r
        for r in textops.chunk_documents(
            docs1, chunk_tokens=4, overlap=2
        ).collect()
    }
    # doc 0: starts 0,2,4,6,8 -> windows of 4,4,4,4,2 tokens
    assert [got[(0, i)]["n_tokens"] for i in range(5)] == [4, 4, 4, 4, 2]
    assert got[(0, 0)]["chunk_text"] == "w0 w1 w2 w3"
    assert got[(0, 1)]["chunk_text"] == "w2 w3 w4 w5"  # 2-token overlap
    assert got[(0, 4)]["chunk_text"] == "w8 w9"
    assert got[(1, 0)]["chunk_text"] == "solo"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        textops.chunk_documents(docs1, chunk_tokens=4, overlap=4)


def test_boilerplate_detection_and_scrub(spark):
    # footer "follow us on example social" repeats in docs 0/1; unique
    # bodies survive; doc 2 is PURE boilerplate and vanishes
    footer = "follow us on social"
    docs_bp = spark.createDataFrame(
        [
            (0, "unique body zero here " + footer),
            (1, "different body one text " + footer),
            (2, footer),
            (3, "totally unrelated content four words"),
        ],
        ["doc_id", "text"],
    )
    bp = textops.boilerplate_chunks(docs_bp, chunk_tokens=4, min_docs=2)
    got_bp = {r["chunk_text"]: r for r in bp.collect()}
    assert footer in got_bp
    assert got_bp[footer]["n_docs"] == 3
    clean = {
        r["doc_id"]: r
        for r in textops.scrub_boilerplate(
            docs_bp, chunk_tokens=4, min_docs=2
        ).collect()
    }
    assert clean[0]["clean_text"] == "unique body zero here"
    assert clean[1]["clean_text"] == "different body one text"
    assert 2 not in clean  # pure boilerplate vanishes
    assert clean[3]["n_kept_chunks"] >= 1


def test_doc_keyterms_rare_term_wins(spark):
    docs_kt = spark.createDataFrame(
        [
            (0, "common common common rare"),
            (1, "common words here again"),
            (2, "common stuff more common"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["rnk"]): r["term"]
        for r in textops.doc_keyterms(docs_kt, k=2).collect()
    }
    # doc 0: "rare" (df=1) has the highest idf but tf=1 vs common's tf=3;
    # tf dominates here: tfidf(common)=3*(ln(4/4)+1)=3 > tfidf(rare)=ln(2)+1
    assert got[(0, 1)] == "common"
    assert got[(0, 2)] == "rare"
    # every doc gets at most k rows and ranks are dense from 1
    ranks = sorted(r for (_, r) in got)
    assert set(ranks) <= {1, 2}


def test_new_ops_degenerate_inputs(spark):
    """Empty and single-row corpora flow through the round-5 operators
    without errors or phantom rows."""
    empty = spark.createDataFrame([], "doc_id long, text string, lang string, source string")
    one = spark.createDataFrame([(0, "a b c", "en", "s")], ["doc_id", "text", "lang", "source"])

    assert textops.chunk_documents(empty).count() == 0
    assert textops.boilerplate_chunks(empty).count() == 0
    assert textops.scrub_boilerplate(empty).count() == 0
    assert textops.source_overlap(empty).count() == 0
    assert textops.curate_corpus(empty).count() == 0
    # single doc: nothing repeats, everything survives
    assert textops.boilerplate_chunks(one).count() == 0
    assert textops.scrub_boilerplate(one).collect()[0]["clean_text"] == "a b c"
    assert textops.source_overlap(one).count() == 0  # no pair
    got = textops.quality_deciles(one, n_tiles=10).collect()
    assert len(got) == 1 and got[0]["decile"] == 1


def test_kmeans_fewer_vectors_than_cells(spark):
    emb_small = spark.createDataFrame(
        [(0, [1.0, 0.0], "x"), (1, [0.0, 1.0], "x")],
        ["vec_id", "embedding", "label"],
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in similarity.kmeans_cells(emb_small, n_cells=8, n_iters=1).collect()
    }
    # seeds clamp to the available vectors; both assign to valid cells
    assert set(got) == {0, 1}
    assert all(0 <= c < 8 for c in got.values())


def test_append_to_ivf_index_equals_rebuild(spark, tmp_path_factory):
    """Appending a batch against frozen centroids equals a full rebuild
    whenever the seeds coincide (first batch holds the lowest ids)."""
    import math as _math

    def vec(deg):
        return [_math.cos(_math.radians(deg)), _math.sin(_math.radians(deg))]

    rows = [(i, vec(7 * i), "x") for i in range(20)]
    emb_all = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    first = emb_all.filter("vec_id < 10")
    second = emb_all.filter("vec_id >= 10")

    inc = str(tmp_path_factory.mktemp("ivfinc") / "idx")
    full = str(tmp_path_factory.mktemp("ivffull") / "idx")
    similarity.write_ivf_index(first, inc, n_cells=4)
    similarity.append_to_ivf_index(second, inc)
    similarity.write_ivf_index(emb_all, full, n_cells=4)

    got_inc = [
        (r["vec_id"], r["cosine"])
        for r in similarity.ivf_topk_indexed(spark, inc, 0, k=5, nprobe=4).collect()
    ]
    got_full = [
        (r["vec_id"], r["cosine"])
        for r in similarity.ivf_topk_indexed(spark, full, 0, k=5, nprobe=4).collect()
    ]
    assert got_inc == got_full
    # a query on an APPENDED vector serves appended neighbors identically
    inc15 = [
        (r["vec_id"], r["cosine"])
        for r in similarity.ivf_topk_indexed(spark, inc, 15, k=5, nprobe=4).collect()
    ]
    full15 = [
        (r["vec_id"], r["cosine"])
        for r in similarity.ivf_topk_indexed(spark, full, 15, k=5, nprobe=4).collect()
    ]
    assert inc15 == full15
    assert any(v >= 10 for v, _ in inc15)


def test_centroid_confusion_separable_classes(spark):
    import math as _math

    def vec(deg):
        return [_math.cos(_math.radians(deg)), _math.sin(_math.radians(deg))]

    # class 0 hugs 0 deg, class 1 hugs 90 deg; vec 4 is mislabeled (80 deg
    # tagged as class 0) and must be "confused" into class 1
    emb_c = spark.createDataFrame(
        [
            (0, vec(0), 0), (1, vec(5), 0), (2, vec(90), 1), (3, vec(85), 1),
            (4, vec(80), 0),
        ],
        ["vec_id", "embedding", "label"],
    )
    got = {
        (r["label"], r["predicted_label"]): r["n"]
        for r in similarity.centroid_confusion(emb_c).collect()
    }
    assert got[(0, 0)] == 2 and got[(1, 1)] == 2
    assert got[(0, 1)] == 1  # the mislabeled vector crosses over
    assert (1, 0) not in got


def test_containment_catches_quote_jaccard_misses(spark):
    body = " ".join(f"body{i}" for i in range(40))
    quote = "alpha beta gamma delta epsilon"
    docs_q = spark.createDataFrame(
        [
            (0, quote),                      # the short source
            (1, body + " " + quote),         # long doc quoting it wholesale
            (2, "totally unrelated words here"),
        ],
        ["doc_id", "text"],
    )
    cont = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.containment_pairs(docs_q, 0.9).collect()
    }
    # every shingle of doc 0 appears in doc 1 → containment 1.0, while
    # jaccard is tiny (union dominated by the long doc)
    assert (0, 1) in cont
    r = cont[(0, 1)]
    assert r["containment"] == 1.0 and r["jaccard"] < 0.1
    # jaccard at the same threshold misses the pair entirely
    jac = dedup.ngram_jaccard_pairs(docs_q, 0.9).collect()
    assert not any(p["id_a"] == 0 and p["id_b"] == 1 for p in jac)


def test_ivf_range_indexed_threshold_and_pruning(spark, tmp_path_factory):
    import math as _math

    def at(deg):
        return [_math.cos(_math.radians(deg)), _math.sin(_math.radians(deg))]

    # seeds (two lowest ids) are the axes -> two distinct cells
    emb = spark.createDataFrame(
        [(0, at(0), "x"), (1, at(90), "x"), (2, at(10), "x"), (3, at(80), "x")],
        ["vec_id", "embedding", "label"],
    )
    idx = str(tmp_path_factory.mktemp("ivfrange") / "idx")
    similarity.write_ivf_index(emb, idx, n_cells=2)
    # full probe: identical vector qualifies at 0.99; orthogonal does not
    got = {
        r["vec_id"]: r["cosine"]
        for r in similarity.ivf_range_indexed(spark, idx, 0, 0.95, nprobe=2).collect()
    }
    assert set(got) == {2}  # only the 10-degree vector is this similar
    # low threshold with full probe finds the orthogonal vector too
    wide = {
        r["vec_id"]
        for r in similarity.ivf_range_indexed(spark, idx, 0, -1.01, nprobe=2).collect()
    }
    assert wide == {1, 2, 3}  # full probe sees everything
    # nprobe=1 restricts matches to the query's own cell
    narrow = {
        r["vec_id"]
        for r in similarity.ivf_range_indexed(spark, idx, 0, -1.01, nprobe=1).collect()
    }
    assert narrow == {2}  # nprobe=1: only the query's own cell


def test_lsh_recall_audit_precision_one_and_recall(emb, spark):
    r = similarity.lsh_recall_audit(emb, 0.99).collect()[0]
    # identical pair (0,1) exists and always collides -> full recall here
    assert r["n_exact"] == 1 and r["n_lsh"] == 1
    assert r["n_matched"] == r["n_lsh"]  # precision 1 by construction
    assert r["recall"] == 1.0
    # wider corpus at the gate threshold: recall in (0, 1], precision 1
    import __spark_entry__ as entrymod

    emb_big = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    r2 = similarity.lsh_recall_audit(emb_big, 0.3).collect()[0]
    assert r2["n_matched"] == r2["n_lsh"] <= r2["n_exact"]
    assert 0 < r2["recall"] <= 1.0  # single-table 8-plane LSH: low but >0


def test_recall_audits_sampled_mode(spark):
    """Production-scale sampling: the hash-bucket sampled audit is (a)
    deterministic, (b) precision-1 like the full audit, and (c) a recall
    ESTIMATE within an honest tolerance of the full number — the sampled
    sub-corpus is chosen independently of the vector geometry, so the
    estimate is unbiased (tolerance covers small-sample variance at this
    fixture size)."""
    emb_big = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    full = similarity.lsh_recall_audit(emb_big, 0.3).collect()[0]
    half = similarity.lsh_recall_audit(
        emb_big, 0.3, sample_ppm=500_000
    ).collect()[0]
    again = similarity.lsh_recall_audit(
        emb_big, 0.3, sample_ppm=500_000
    ).collect()[0]
    assert tuple(half) == tuple(again)  # deterministic hash sample
    assert 0 < half["n_exact"] < full["n_exact"]  # genuinely sampled
    assert half["n_matched"] == half["n_lsh"]  # precision 1 survives
    assert abs(half["recall"] - full["recall"]) <= 0.15
    # identity: ppm=1e6 keeps every vector -> exactly the full audit
    everything = similarity.lsh_recall_audit(
        emb_big, 0.3, sample_ppm=1_000_000
    ).collect()[0]
    assert tuple(everything) == tuple(full)

    # pq/rp: the probe vector survives the filter unconditionally, and
    # the sampled exact baseline ranks the same sub-corpus as the
    # approximate side (recall stays a like-for-like measurement)
    sr = similarity.rp_recall_audit(
        emb_big, 1, 10, sample_ppm=250_000
    ).collect()[0]
    assert sr["k"] == 10 and 0 <= sr["recall"] <= 1.0
    with pytest.raises(ValueError):
        similarity.lsh_recall_audit(emb_big, 0.3, sample_ppm=0)


def test_bigram_lm_scores_fluency_ordering(spark):
    import math as _math

    # "a b" repeated is maximally predictable; the shuffled-vocab doc is not
    docs_lm = spark.createDataFrame(
        [
            (0, "a b a b a b a b"),
            (1, "q w e r t y u i"),
            (2, "x"),  # <2 tokens: no bigrams, absent from output
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in textops.bigram_lm_scores(docs_lm).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n_bigrams"] == 7 and got[1]["n_bigrams"] == 7
    assert got[0]["avg_neg_logprob"] < got[1]["avg_neg_logprob"]
    # spot value: V = 11 distinct tokens corpus-wide; C(a)=C(b)=4
    expect0 = -(
        4 * round(_math.log((4 + 1) / (4 + 11)) * 1e9)   # (a,b) x4
        + 3 * round(_math.log((3 + 1) / (4 + 11)) * 1e9)  # (b,a) x3
    ) / 1e9 / 7
    assert abs(got[0]["avg_neg_logprob"] - expect0) < 1e-9


def test_bigram_lm_scores_oracle_parity_with_empty_docs(spark):
    """Spark and the DuckDB oracle agree on a corpus containing empty and
    whitespace-only documents: split-on-trim yields a lone '' token for
    those docs, which must NOT inflate the Laplace |V| denominator on
    either side (advisor r7 — the gate corpus has no empty docs, so this
    edge lives here)."""
    import duckdb
    import pandas as pd

    from binance_futures_availability_spark.oracles import (
        sql_bigram_lm_scores,
    )

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat ran"),
        (2, ""),           # empty → [''] → no bigrams, no vocab entry
        (3, "   \t  "),    # whitespace-only → same
        (4, "cat cat cat"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_neg_logprob"])
        for r in textops.bigram_lm_scores(docs).collect()
    }

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        int(doc_id): (int(nb), float(av))
        for doc_id, nb, av in con.execute(sql_bigram_lm_scores()).fetchall()
    }
    con.close()

    assert set(got) == set(want) == {0, 1, 4}
    for doc_id, (nb, av) in want.items():
        assert got[doc_id][0] == nb
        assert got[doc_id][1] == av  # exact: integer nano-nat algebra


def test_centroid_confusion_string_labels(spark):
    """The predicted-label column follows the LABEL column's type —
    string-labeled corpora work, not just int32."""
    import math as _math

    def vec(deg):
        return [_math.cos(_math.radians(deg)), _math.sin(_math.radians(deg))]

    emb_c = spark.createDataFrame(
        [
            (0, vec(0), "en"), (1, vec(5), "en"),
            (2, vec(90), "zh"), (3, vec(85), "zh"),
            (4, vec(80), "en"),  # mislabeled → crosses to zh
        ],
        ["vec_id", "embedding", "label"],
    )
    out = similarity.centroid_confusion(emb_c)
    assert dict(out.dtypes)["predicted_label"] == "string"
    got = {
        (r["label"], r["predicted_label"]): r["n"] for r in out.collect()
    }
    assert got[("en", "en")] == 2 and got[("zh", "zh")] == 2
    assert got[("en", "zh")] == 1


def test_centroid_confusion_rejects_unsupported_label_type(spark):
    emb_c = spark.createDataFrame(
        [(0, [1.0, 0.0], 1.5)], ["vec_id", "embedding", "label"]
    )
    with pytest.raises(ValueError, match="unsupported label type"):
        similarity.centroid_confusion(emb_c)


# ---------------------------------------------------------------- PQ / ADC


@pytest.fixture()
def pq_emb(spark):
    """8 deterministic 8-dim vectors clustered around two directions, so
    a 2-subspace / 2-code codebook separates them."""
    import math

    rows = []
    for i in range(8):
        base = [1.0, 0.0, 0.0, 1.0] if i % 2 == 0 else [0.0, 1.0, 1.0, 0.0]
        # small deterministic wiggle keeps vectors distinct
        vec = [x + 0.01 * ((i * 7 + j) % 5) for j, x in enumerate(base * 2)]
        rows.append((i, vec, i % 2))
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_pq_codebook_shape_and_determinism(pq_emb):
    cb = similarity.pq_codebook(pq_emb, m=2, k=2, dim=8)
    got = sorted(
        (r["m"], r["code"], len(r["csub"])) for r in cb.collect()
    )
    # m×k entries, codes 0-based by seed id order, subvectors dim/m wide
    assert got == [(0, 0, 4), (0, 1, 4), (1, 0, 4), (1, 1, 4)]
    again = sorted(
        (r["m"], r["code"], tuple(r["csub"])) for r in cb.collect()
    )
    assert again == sorted(
        (r["m"], r["code"], tuple(r["csub"])) for r in cb.collect()
    )


def test_pq_codes_cover_corpus_and_separate_clusters(pq_emb):
    codes = similarity.pq_codes(pq_emb, m=2, k=2, dim=8).collect()
    # every (vector, subspace) got exactly one code
    assert len(codes) == 8 * 2
    by_vec = {}
    for r in codes:
        by_vec.setdefault(r["vec_id"], {})[r["m"]] = r["code"]
    # the two interleaved clusters (seeds 0 and 1 are one of each) must
    # receive different code words
    assert by_vec[2] == by_vec[0] and by_vec[3] == by_vec[1]
    assert by_vec[0] != by_vec[1]


def test_pq_topk_ranks_own_cluster_first(pq_emb):
    got = similarity.pq_topk(pq_emb, 0, 3, m=2, k=2, dim=8).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == 3 and 0 not in ids
    # even-cluster vectors (same codes as the query) outrank odd ones
    assert set(ids[:2]).issubset({2, 4, 6})
    for r in got:
        assert -1.0001 <= r["approx_cosine"] <= 1.0001


def test_ivf_pq_subset_of_pq_ranking(pq_emb):
    """IVF-PQ returns ADC-ranked vectors from the probed cells only —
    every returned (id, score) must appear in the unpruned ADC ranking
    with the identical score."""
    full = {
        r["vec_id"]: r["approx_cosine"]
        for r in similarity._pq_adc_scores(
            pq_emb, 0, "vec_id", "embedding", 2, 2, dim=8
        ).collect()
    }
    got = similarity.ivf_pq_topk(
        pq_emb, 0, 3, n_cells=2, nprobe=1, m=2, k=2, dim=8
    ).collect()
    assert 0 < len(got) <= 3
    for r in got:
        assert full[r["vec_id"]] == r["approx_cosine"]


def test_pq_recall_audit_bounds_and_perfect_case(pq_emb):
    row = similarity.pq_recall_audit(pq_emb, 0, 3, m=2, k=2, dim=8).collect()[0]
    assert row["k"] == 3
    assert 0 <= row["n_hits"] <= 3
    assert row["recall"] == row["n_hits"] / 3.0
    # k = corpus-1 (ranking is everything): recall is 1 by construction
    full = similarity.pq_recall_audit(pq_emb, 0, 7, m=2, k=2, dim=8).collect()[0]
    assert full["recall"] == 1.0


def test_pq_codes_compression_bound(pq_emb):
    """The code table is n·m small ints — the 64× compression claim in
    long form: every code fits the nibble the (m=8, k=16) default
    implies."""
    codes = similarity.pq_codes(pq_emb, m=2, k=2, dim=8).collect()
    assert all(0 <= r["code"] < 2 for r in codes)


def test_pq_training_improves_recall_and_stays_integer(pq_emb):
    """One Lloyd round moves the seed codebook toward the cluster means:
    recall@k must not degrade, centroids stay on the integer grid, and
    emptied codes retain their previous centroid (codebook stays m×k)."""
    r0 = similarity.pq_recall_audit(pq_emb, 0, 3, m=2, k=2, dim=8).collect()[0]
    r1 = similarity.pq_recall_audit(
        pq_emb, 0, 3, m=2, k=2, dim=8, iters=1
    ).collect()[0]
    assert r1["recall"] >= r0["recall"]
    cb = similarity.pq_codebook(pq_emb, m=2, k=2, dim=8, iters=2).collect()
    assert len(cb) == 4
    for r in cb:
        assert all(isinstance(v, int) for v in r["csub"])
        assert r["cnorm"] == sum(v * v for v in r["csub"])


def test_round_away_matches_engine_semantics():
    """Half-away-from-zero on the DOUBLE value, including the adversarial
    largest-double-below-.5 where floor(q+0.5) misrounds."""
    assert similarity._round_away(1.5) == 2
    assert similarity._round_away(-1.5) == -2
    assert similarity._round_away(2.4999999999999996) == 2
    assert similarity._round_away(0.49999999999999994) == 0
    assert similarity._round_away(-0.49999999999999994) == 0


def test_zero_norm_vectors_drop_out_instead_of_crashing(spark):
    """A zero embedding has no defined cosine: under ANSI mode the raw
    division would throw DIVIDE_BY_ZERO mid-job; the central guard yields
    NULL (DuckDB's x/0), which fails thresholds and sorts last — the
    degenerate vector drops out of pair and top-k results."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 0.0, 0.0], 0),  # zero vector
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    top = similarity.ann_topk(emb, 0, 5).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 1 and top[0]["cosine"] == 1.0
    zero = [r for r in top if r["vec_id"] == 2]
    assert zero and zero[0]["cosine"] is None  # present, ranked last, NULL
    pairs = similarity.cosine_pairs(emb, 0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_lm_quality_buckets_orders_fluency(spark):
    """Repetitive/fluent text (high-probability bigrams) lands in bucket
    1; shuffled noise lands in the last bucket; <2-token docs are absent;
    buckets partition the scored corpus with NTILE-balanced sizes."""
    rows = [
        ("fluent1", "the cat sat on the mat " * 8),
        ("fluent2", "the cat sat on the mat " * 8),
        ("noise1", "zq xv jk wp mn bg td cr ls fh"),
        ("noise2", "qqz vvx kkj ppw nnm ggb ddt rrc ssl hhf"),
        ("tiny", "one"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in textops.lm_quality_buckets(docs, n_tiles=2).collect()
    }
    assert "tiny" not in got and len(got) == 4
    assert got["fluent1"]["bucket"] == 1 and got["fluent2"]["bucket"] == 1
    assert got["noise1"]["bucket"] == 2 and got["noise2"]["bucket"] == 2
    assert (
        got["fluent1"]["avg_neg_logprob"] < got["noise1"]["avg_neg_logprob"]
    )


@pytest.mark.parametrize("n_tiles", [0, -3])
@pytest.mark.parametrize(
    "op", ["lm_quality_buckets", "quality_deciles", "quality_dup_crosstab"]
)
def test_ntile_operators_reject_bad_n_tiles(spark, op, n_tiles):
    """A bad tile count raises before any Spark job: ranking and counting
    the corpus are eager, and would otherwise run first."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    sc = spark.sparkContext
    group = f"bad-n-tiles-{op}-{n_tiles}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="n_tiles"):
            getattr(textops, op)(docs, n_tiles=n_tiles)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_bm25_scores_formula_and_ordering(spark):
    """BM25 on a hand-checkable corpus: n_hit counts matched query terms,
    the rare term outscores the common one at equal tf (idf monotone in
    1/df), longer documents are penalized at equal tf (dl normalization),
    and bm25_topk cuts at k with the (score DESC, doc_id ASC) tie-break."""
    import math

    rows = [
        (0, "rare common filler filler"),
        (1, "common filler filler filler"),
        (2, "common filler filler filler filler filler filler filler"),
        (3, "filler filler filler filler"),
        (4, "common filler filler filler"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in textops.bm25_scores(docs, ["rare", "common"]).collect()
    }
    assert set(got) == {0, 1, 2, 4}  # doc 3 matches nothing
    assert got[0]["n_hit"] == 2 and got[1]["n_hit"] == 1

    n, k1, b = 5, 1.2, 0.75
    avgdl = (4 + 4 + 8 + 4 + 4) / n

    def score(tf_df_dl):
        s = 0.0
        for tf, df, dl in tf_df_dl:
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            comp = (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * (dl / avgdl))
            )
            s += round(idf * comp * 1e9) / 1e9
        return s

    want0 = score([(1, 1, 4), (1, 4, 4)])  # rare df=1, common df=4
    want1 = score([(1, 4, 4)])
    want2 = score([(1, 4, 8)])
    assert got[0]["score"] == pytest.approx(want0, abs=1e-6)
    assert got[1]["score"] == pytest.approx(want1, abs=1e-6)
    assert got[0]["score"] > got[1]["score"]          # rare term dominates
    assert got[1]["score"] > got[2]["score"]          # length penalty
    assert got[1]["score"] == got[4]["score"]         # identical docs tie

    top = textops.bm25_topk(docs, ["rare", "common"], k=2).collect()
    assert [r["doc_id"] for r in top] == [0, 1]       # tie 1-vs-4 → lower id
    assert got[2]["score"] == pytest.approx(want2, abs=1e-6)


def test_bm25_oracle_parity_small_world(spark):
    """Spark BM25 and the DuckDB oracle agree bit-for-bit (the nano-unit
    integer sum makes the per-doc aggregation order-free on both engines)."""
    import duckdb
    import pandas as pd

    from binance_futures_availability_spark.oracles import sql_bm25_topk

    rows = [
        (i, ("alpha " * (i % 3 + 1) + "beta gamma " * (i % 5) + "delta").strip())
        for i in range(40)
    ] + [(100, ""), (101, "   ")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    terms = ("alpha", "gamma", "nosuchterm")
    got = [
        (r["doc_id"], r["n_hit"], r["score"])
        for r in textops.bm25_topk(docs, list(terms), k=15).collect()
    ]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = [
        (int(d), int(h), float(s))
        for d, h, s in con.execute(sql_bm25_topk(terms, 15)).fetchall()
    ]
    assert got == want


def test_prefix_filtered_pairs_equal_naive_pairs(spark):
    """The PPJoin-style prefix/positional candidate path has ONE pruning
    rule (the containment bound), and that one table serves both metrics
    exactly: over randomized corpora (seeded), with and without a binding
    df cap and at several thresholds, each metric's exact filter over the
    containment-pruned table equals the same filter over the naive
    posting join — identical pair sets and values."""
    import random

    from pyspark.sql import functions as F

    from binance_futures_availability_spark.operators.dedup import (
        _pair_jaccard,
        _prefix_filtered_pairs,
        shingle_arrays,
        shingles,
    )

    rng = random.Random(4242)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab → dense overlaps
    rows = []
    for i in range(120):
        length = rng.randint(3, 18)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(length))))
    # planted near-dups and containments
    rows += [(200, rows[5][1]), (201, rows[5][1] + " extra tail"),
             (202, " ".join(rows[7][1].split()[:4]))]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    sh = shingles(docs, n=2)
    sizes = shingle_arrays(docs, n=2).select(
        F.col("doc_id"), F.size("__sa").alias("sz")
    )
    metrics = {
        "jaccard": F.col("jaccard"),
        "containment": F.col("inter").cast("double")
        / F.least(F.col("sz_a"), F.col("sz_b")),
    }

    def kept(pairs, metric, t):
        return sorted(
            (r["id_a"], r["id_b"], r["inter"], r["sz_a"], r["sz_b"], r["jaccard"])
            for r in pairs.withColumn("m", metrics[metric])
            .filter(F.col("m") >= t)
            .collect()
        )

    found = dict.fromkeys(metrics, 0)
    for cap in (None, 8):
        naive = _pair_jaccard(sh, "doc_id", cap, sizes=sizes, postings_key=None)
        for t in (0.3, 0.5, 0.8):
            pref = _prefix_filtered_pairs(sh, "doc_id", t, cap, sizes, None)
            for metric in metrics:
                want = kept(naive, metric, t)
                got = kept(pref, metric, t)
                assert got == want, (cap, t, metric, got[:5], want[:5])
                found[metric] += len(want)
    assert all(found.values()), found


def test_duplicated_spans_semantics(spark):
    """Substring-level dedup census: a 6-token window shared by two docs
    is found with n_docs=2; an IN-DOC repetition counts as duplicated with
    n_docs=1; unique windows are absent; occurrences carry 1-based token
    positions; docs shorter than the window yield nothing."""
    from binance_futures_availability_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, shared + " one two three"),
        (1, "zero " + shared),
        (2, "r1 r2 r3 r4 r5 r6 x r1 r2 r3 r4 r5 r6"),  # in-doc repeat
        (3, "too short"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    stats = {
        r["span_md5"]: (r["n_docs"], r["n_occurrences"])
        for r in dedup.duplicated_spans(docs, width=6).collect()
    }
    import hashlib

    h_shared = hashlib.md5(shared.encode()).hexdigest()
    h_repeat = hashlib.md5(b"r1 r2 r3 r4 r5 r6").hexdigest()
    assert stats[h_shared] == (2, 2)
    assert stats[h_repeat] == (1, 2)
    # only genuinely duplicated windows survive — doc 0/1's unique
    # windows ('beta gamma delta epsilon zeta one', ...) must not appear
    assert len(stats) == 2

    occ = sorted(
        (r["doc_id"], r["pos"], r["span_md5"])
        for r in dedup.duplicated_span_occurrences(docs, width=6).collect()
    )
    assert occ == sorted(
        [(0, 1, h_shared), (1, 2, h_shared), (2, 1, h_repeat), (2, 8, h_repeat)]
    )


# ---------------------------------------------------------------------------
# corpus-trained discriminative classifier
# ---------------------------------------------------------------------------


def _cls_reference(rows, factor=16, upper=800, min_df=2):
    """Independent brute-force reference for the classifier family."""
    import hashlib
    import re

    def bucket(doc_id):
        h = hashlib.md5(f"cls-v1:{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % 1000

    stop_re = re.compile(r"\b(the|and|of|to|in|is|a)\b")
    meta = {}
    postings = {}
    for doc_id, text in rows:
        toks = re.split(r"\s+", text.strip())
        n_words = len(toks)  # note: [''] for empty text -> 1, like the engines
        n_stop = len(stop_re.findall(text))
        meta[doc_id] = (
            1 if n_stop * factor >= n_words else 0,
            "train" if bucket(doc_id) < upper else "eval",
        )
        postings[doc_id] = {t for t in toks if t}
    tg = sum(l for l, s in meta.values() if s == "train")
    tb = sum(1 - l for l, s in meta.values() if s == "train")
    stats = {}
    for doc_id, terms in postings.items():
        label, split = meta[doc_id]
        if split != "train":
            continue
        for t in terms:
            g, b = stats.get(t, (0, 0))
            stats[t] = (g + label, b + (1 - label))
    weights = {}
    for t, (g, b) in stats.items():
        if g + b < min_df:
            continue
        lift = g * tb - b * tg
        weights[t] = (g, b, 1 if lift > 0 else (-1 if lift < 0 else 0))
    scores = {}
    for doc_id, terms in postings.items():
        label, split = meta[doc_id]
        if split != "eval":
            continue
        ws = [weights[t][2] for t in terms if t in weights]
        scores[doc_id] = (
            sum(1 for w in ws if w > 0),
            sum(1 for w in ws if w < 0),
            sum(ws),
            1 if sum(ws) > 0 else 0,
            label,
        )
    return weights, scores


def test_classifier_matches_reference(spark):
    """classifier_weights / classifier_scores agree exactly with an
    independent brute-force reference, including: min_df filtering, the
    cross-ratio sign rule, eval docs with no weighted terms (logit 0 via
    the left join), and empty documents."""
    from binance_futures_availability_spark.operators import textops

    rows = [
        (i, f"the cat is a good w{i} " + ("spam " * (i % 3)) + "common")
        for i in range(40)
    ] + [(40, ""), (41, "zz-unique-term")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    ref_w, ref_s = _cls_reference(rows)
    got_w = {
        r["term"]: (r["n_good"], r["n_bad"], r["weight"])
        for r in textops.classifier_weights(docs).collect()
    }
    assert got_w == ref_w
    got_s = {
        r["doc_id"]: (r["n_pos"], r["n_neg"], r["logit"], r["pred_good"], r["label_good"])
        for r in textops.classifier_scores(docs).collect()
    }
    assert got_s == ref_s

    conf = {
        (r["label_good"], r["pred_good"]): r["n_docs"]
        for r in textops.classifier_eval(docs).collect()
    }
    from collections import Counter

    ref_conf = Counter((label, pred) for _, _, _, pred, label in ref_s.values())
    assert conf == dict(ref_conf)


# ---------------------------------------------------------------------------
# BPE vocabulary training
# ---------------------------------------------------------------------------


def _bpe_reference(rows, n_merges):
    """Independent pure-Python BPE trainer (word-frequency table, argmax
    with (count desc, lexicographic) tie-break, leftmost non-overlapping
    merge application)."""
    import re
    from collections import Counter

    wf = Counter(
        t for _, text in rows for t in re.split(r"\s+", text.strip()) if t
    )
    vocab = {tuple(word): freq for word, freq in wf.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        counts = Counter()
        for syms, freq in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += freq
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, left + right, cnt))
        new_vocab = {}
        for syms, freq in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + freq
        vocab = new_vocab
    return merges


def test_bpe_matches_reference(spark):
    """bpe_merges reproduces the independent reference trainer exactly —
    merged tokens must keep merging in later rounds (multi-char pairs),
    ties break lexicographically, and single-char words contribute no
    pairs."""
    from binance_futures_availability_spark.operators import vocab

    rows = [
        (0, "lower lower lowest low low low"),
        (1, "newer newest new new"),
        (2, "x y z"),  # single-symbol words: no pairs
        (3, ""),
        (4, "wider wide wider"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in vocab.bpe_merges(docs, 10).orderBy("rank").collect()
    ]
    assert got == _bpe_reference(rows, 10)
    # multi-char merges happened (the trainer goes beyond char bigrams)
    assert any(len(left) > 1 or len(right) > 1 for _, left, right, _, _ in got)


def test_bpe_exhaustion_stops_early(spark):
    """When every word collapses to a single symbol, training stops —
    no NULL-pair fabrication from the descending-sequence gotcha."""
    from binance_futures_availability_spark.operators import vocab

    docs = spark.createDataFrame([(0, "ab ab cd")], ["doc_id", "text"])
    got = vocab.bpe_merges(docs, 50).collect()
    # round 1 merges (a,b) count 2; round 2 merges (c,d) count 1; done
    assert [(r["left"], r["right"], r["pair_count"]) for r in got] == [
        ("a", "b", 2),
        ("c", "d", 1),
    ]


def test_bpe_pair_counts_and_validation(spark):
    from binance_futures_availability_spark.operators import vocab
    import pytest as _pytest

    docs = spark.createDataFrame([(0, "aab aab b")], ["doc_id", "text"])
    rows = {
        (r["left"], r["right"]): r["pair_count"]
        for r in vocab.bpe_pair_counts(docs, 10).collect()
    }
    assert rows == {("a", "a"): 2, ("a", "b"): 2}
    with _pytest.raises(ValueError):
        vocab.bpe_pair_counts(docs, 0)
    with _pytest.raises(ValueError):
        vocab.bpe_merges(docs, 0)


def test_bpe_encode_arrow_matches_hof_fold(spark):
    """bpe_encode's fold semantics against an INDEPENDENT pure-Python
    fold over an adversarial vocabulary: chained merges (a,b)->(ab,c),
    rules whose merged symbol re-occurs, non-firing rules, single-char
    words, and back-to-back pair repeats (leftmost non-overlapping
    within a rule). Written for the r14 Arrow rule-application variant;
    that variant was measured slower at both SFs and reverted (the
    ledger is in the bpe_encode docstring) — the test stays because it
    pins the fold semantics regardless of the physical form."""
    from binance_futures_availability_spark.operators import vocab

    words = [
        "aaa", "aaaa", "aab", "abab", "ababab", "ba", "b",
        "abcabc", "cabba", "aabbaabb", "xyz", "zzzzz",
    ]
    merges = [("a", "a"), ("a", "b"), ("aa", "b"), ("ab", "c"), ("z", "z")]

    def pyfold(w):
        syms = list(w)
        for left, right in merges:
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms = out
        return len(syms)

    want = {w: pyfold(w) for w in words}
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], ["doc_id", "text"]
    )
    got = {
        words[r["doc_id"]]: r["n_bpe_tokens"]
        for r in vocab.bpe_encode(docs, merges).collect()
    }
    assert got == want


def test_bpe_encode_matches_reference(spark):
    """bpe_encode applies trained rules exactly: rank order matters
    (later rules see earlier rules' merged symbols), and counts aggregate
    per document over the broadcast word map."""
    from binance_futures_availability_spark.operators import vocab

    rows = [
        (0, "lower lower lowest low low low"),
        (1, "newer newest new new"),
        (2, "x lowest"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    trained = [
        (r["left"], r["right"])
        for r in vocab.bpe_merges(docs, 6).orderBy("rank").collect()
    ]

    def encode(word):
        syms = list(word)
        for left, right in trained:
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms = out
        return len(syms)

    import re

    expected = {}
    for doc_id, text in rows:
        ws = [t for t in re.split(r"\s+", text.strip()) if t]
        expected[doc_id] = (len(ws), sum(encode(w) for w in ws))
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in vocab.bpe_encode(docs, trained).collect()
    }
    assert got == expected
    # merging strictly compresses: token count below char count, above word count
    for doc_id, text in rows:
        n_chars = sum(len(t) for t in re.split(r"\s+", text.strip()) if t)
        assert expected[doc_id][0] <= got[doc_id][1] <= n_chars


def test_span_novelty_scores_semantics(spark):
    """novelty_ppm counts corpus-duplicated windows out of each doc's
    windows: shared spans and in-doc repeats are non-novel, unique
    windows are novel, sub-window docs get NULL novelty with zero
    counts."""
    from binance_futures_availability_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta"  # exactly one 6-window
    rows = [
        (0, shared),                       # 1 span, duplicated -> novelty 0
        (1, "zero " + shared),             # 2 spans, 1 duplicated -> 500000
        (2, "r1 r2 r3 r4 r5 r6 x r1 r2 r3 r4 r5 r6"),  # in-doc repeat
        (3, "too short"),                  # no window
        (4, "u1 u2 u3 u4 u5 u6 u7"),       # 2 spans, both unique -> 1000000
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["novelty_ppm"])
        for r in dedup.span_novelty_scores(docs, width=6).collect()
    }
    # doc 2: 8 windows; the repeated 'r1..r6' window occurs at pos 1 and 8
    # (2 dup occurrences); windows crossing the 'x' are unique
    assert got == {
        0: (1, 1, 0),
        1: (2, 1, 500000),
        2: (8, 2, 750000),
        3: (0, 0, None),
        4: (2, 0, 1000000),
    }


# --------------------------------------------------------------------------
# random-projection (JL) family
# --------------------------------------------------------------------------


def _rp_reference(vecs, m):
    """Independent pure-Python RP: quantize -> integer plane dots ->
    TRUNCATING division (DuckDB // semantics), no numpy."""
    from binance_futures_availability_spark.functions import EMB_SCALE
    from binance_futures_availability_spark.operators.similarity import planes

    out = {}
    for vid, v in vecs:
        q = [round(float(e) * EMB_SCALE) for e in v]
        row = []
        for plane in planes(m):
            d = sum(a * b for a, b in zip(q, plane[: len(q)]))
            t = abs(d) // EMB_SCALE
            row.append(-t if d < 0 else t)
        out[vid] = row
    return out


def test_rp_embeddings_match_independent_reference(spark):
    from binance_futures_availability_spark.operators import similarity

    # includes negative components -> negative plane dots, so the
    # truncation-vs-floor distinction is actually exercised
    vecs = [
        (1, [0.25, -0.5, 0.125, 0.99]),
        (2, [-0.33, 0.66, -0.99, 0.01]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [1.0, -1.0, 1.0, -1.0]),
    ]
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs], ["vec_id", "embedding", "label"]
    )
    got = {
        r["vec_id"]: list(r["rp"])
        for r in similarity.rp_embeddings(emb, m=6).collect()
    }
    assert got == _rp_reference(vecs, 6)
    # negative projected components must actually occur for the test to
    # prove truncation semantics
    assert any(c < 0 for row in got.values() for c in row)


def test_rp_topk_and_recall_audit_semantics(spark):
    from binance_futures_availability_spark.operators import similarity

    rng_vecs = [
        (i, [((i * 37 + j * 11) % 17 - 8) / 8.0 for j in range(8)])
        for i in range(1, 31)
    ]
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in rng_vecs], ["vec_id", "embedding", "label"]
    )
    top = similarity.rp_topk(emb, 1, k=5, m=6).collect()
    assert len(top) == 5
    assert all(r["vec_id"] != 1 for r in top)
    cosines = [r["cosine"] for r in top]
    assert cosines == sorted(cosines, reverse=True)
    audit = similarity.rp_recall_audit(emb, 1, 5, m=6).collect()[0]
    assert audit["k"] == 5
    assert 0 <= audit["n_hits"] <= 5
    assert audit["recall"] == audit["n_hits"] / 5.0
    # m = full width with no rescaling loss would be recall 1; at m=6 over
    # 8 dims the projection is near-isometric on this small set
    assert audit["n_hits"] >= 1


def test_cross_lm_scores_vs_python_reference(spark):
    """Cross-corpus LM: counts from the reference slice only; unseen
    bigrams/contexts smoothed as (0+1)/(0+|V_ref|); every doc scored."""
    import math

    from binance_futures_availability_spark.operators import textops

    rows = [
        (1, "the cat sat", "ref"),
        (2, "the cat ran", "ref"),
        (3, "the dog barked loudly", "web"),   # bigrams unseen in ref
        (4, "cat sat", "web"),                 # bigram seen in ref
        (5, "one", "web"),                     # <2 tokens -> absent
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_neg_logprob"])
        for r in textops.cross_lm_scores(docs, ["ref"]).collect()
    }

    # independent reference
    ref_texts = [t for _, t, s in rows if s == "ref"]
    uni: dict = {}
    bc: dict = {}
    for t in ref_texts:
        ws = t.split()
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bc[(a, b)] = bc.get((a, b), 0) + 1
    vn = len(uni)
    exp = {}
    for did, t, _s in rows:
        ws = t.split()
        if len(ws) < 2:
            continue
        ilps = [
            round(
                math.log(
                    (bc.get((a, b), 0) + 1.0) / (uni.get(a, 0) + vn)
                )
                * 1e9
            )
            for a, b in zip(ws, ws[1:])
        ]
        exp[did] = (len(ilps), -sum(ilps) / 1e9 / len(ilps))

    assert set(got) == set(exp)
    for did, (nb, score) in exp.items():
        assert got[did][0] == nb
        assert abs(got[did][1] - score) < 1e-12, (did, got[did], score)
    assert 5 not in got
    # unseen-everything doc must score strictly worse than the in-ref doc
    assert got[3][1] > got[1][1]


def test_cross_lm_scores_empty_reference_raises(spark):
    import pytest as _pytest

    from binance_futures_availability_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "a b", "web")], ["doc_id", "text", "source"]
    )
    with _pytest.raises(ValueError, match="empty vocabulary"):
        textops.cross_lm_scores(docs, ["nope"])


def test_grouped_split_keeps_groups_together(spark):
    from binance_futures_availability_spark.operators import textops

    rows = [(i, f"text {i}", f"dom{i % 7}") for i in range(70)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = textops.grouped_split(
        docs, splits=(("train", 600), ("val", 800), ("test", 1000))
    ).collect()
    by_group: dict = {}
    for r in out:
        by_group.setdefault(r["source"], set()).add(r["split"])
    # leakage-safety: every group maps to exactly one split
    assert all(len(s) == 1 for s in by_group.values()), by_group
    assert len(out) == 70
    # determinism: a second run assigns identically
    again = {
        (r["doc_id"]): r["split"]
        for r in textops.grouped_split(
            docs, splits=(("train", 600), ("val", 800), ("test", 1000))
        ).collect()
    }
    assert again == {r["doc_id"]: r["split"] for r in out}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strictly increasing"):
        textops.grouped_split(docs, splits=(("a", 500), ("b", 400)))


def _winnow_reference(rows, k, w):
    """Independent pure-Python winnowing (Schleimer et al. fig. 5 rule:
    min hash per window, rightmost on ties), on md5-hex k-gram hashes."""
    import hashlib

    out = set()
    for did, text in rows:
        toks = text.strip().split()
        hs = [
            hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
            for i in range(len(toks) - k + 1)
        ]
        for i in range(len(hs) - w + 1):
            window = hs[i : i + w]
            mn = min(window)
            # rightmost occurrence of the minimum
            j = max(idx for idx, h in enumerate(window) if h == mn)
            out.add((did, i + j + 1, mn))  # pos 1-based
    return out


def test_winnow_fingerprints_match_reference(spark):
    from binance_futures_availability_spark.operators import dedup

    rows = [
        (1, "a quick brown fox jumps over the lazy dog today again"),
        (2, "the lazy dog today again sat on a quick brown fox"),
        (3, "completely different words without any shared runs here"),
        (4, "tiny doc"),  # < k + w - 1 tokens -> no complete window
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["pos"], r["fingerprint"])
        for r in dedup.winnow_fingerprints(docs, k=3, w=3).collect()
    }
    assert got == _winnow_reference(rows, 3, 3)
    assert not any(d == 4 for d, _p, _f in got)


def test_winnow_overlap_pairs_guarantee_and_cap(spark):
    from binance_futures_availability_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = k + w - 1
    rows = [
        (1, f"{shared} unique1 filler1 more1"),
        (2, f"start2 other2 {shared} tail2"),
        (3, "nothing in common with anyone here at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dedup.winnow_overlap_pairs(
            docs, k=3, w=4, min_shared=1
        ).collect()
    }
    # winnowing guarantee: a shared run of k+w-1 tokens MUST surface
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p for p in pairs)
    # df cap: a fingerprint present in every doc is excluded from pairing
    rows_boiler = [(i, f"license header common text {i}") for i in range(6)]
    docs_b = spark.createDataFrame(rows_boiler, ["doc_id", "text"])
    capped = dedup.winnow_overlap_pairs(
        docs_b, k=3, w=2, min_shared=1, max_fp_df=2
    ).collect()
    uncapped = dedup.winnow_overlap_pairs(
        docs_b, k=3, w=2, min_shared=1, max_fp_df=None
    ).collect()
    assert len(capped) < len(uncapped)


def test_vocab_growth_semantics(spark):
    from binance_futures_availability_spark.operators import textops

    rows = [
        (1, "a b a", "s1"),        # 3 tokens, 2 types
        (2, "a c", "s1"),          # s1 total: 5 tokens, 3 types, 2 docs
        (3, "x x x x", "s2"),      # s2: 4 tokens, 1 type, 1 doc
        (4, "   ", "s3"),          # no tokens -> s3 absent entirely
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r["source"]: (r["n_docs"], r["n_tokens"], r["n_types"], r["ttr_ppm"])
        for r in textops.vocab_growth(docs).collect()
    }
    assert got == {
        "s1": (2, 5, 3, 600000),
        "s2": (1, 4, 1, 250000),
    }


def _sq_reference(vecs):
    """Independent pure-Python SQ8: quantize, per-dim min/max grid,
    floor((v-mn)*255/rng) codes, mn+floor(c*rng/255) reconstruction."""
    import math

    from binance_futures_availability_spark.functions import EMB_SCALE

    q = {
        vid: [round(float(e) * EMB_SCALE) for e in v] for vid, v in vecs
    }
    dim = len(next(iter(q.values())))
    mins = [min(q[v][i] for v in q) for i in range(dim)]
    maxs = [max(q[v][i] for v in q) for i in range(dim)]
    codes, recon = {}, {}
    for vid, qv in q.items():
        c, r = [], []
        for i, x in enumerate(qv):
            rng = maxs[i] - mins[i]
            ci = math.floor((x - mins[i]) * 255 / rng) if rng > 0 else 0
            c.append(ci)
            r.append(mins[i] + (math.floor(ci * rng / 255) if rng > 0 else 0))
        codes[vid], recon[vid] = c, r
    return codes, recon


def test_sq_codes_match_independent_reference(spark):
    from binance_futures_availability_spark.operators import similarity

    vecs = [
        (1, [0.25, -0.5, 0.125, 0.99]),
        (2, [-0.33, 0.66, -0.99, 0.01]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [1.0, -1.0, 1.0, 0.01]),  # last dim: tiny range, not flat
    ]
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs], ["vec_id", "embedding", "label"]
    )
    ref_codes, _ = _sq_reference(vecs)
    got = {}
    for r in similarity.sq_codes(emb).collect():
        got.setdefault(r["vec_id"], {})[r["i"]] = r["code"]
    assert {
        v: [row[i] for i in sorted(row)] for v, row in got.items()
    } == ref_codes
    # codes are bytes: within [0, 255], and both endpoints are hit
    flat = [c for row in ref_codes.values() for c in row]
    assert min(flat) == 0 and max(flat) == 255


def test_sq_topk_and_recall_audit_semantics(spark):
    from binance_futures_availability_spark.operators import similarity

    rng_vecs = [
        (i, [((i * 37 + j * 11) % 17 - 8) / 8.0 for j in range(8)])
        for i in range(1, 31)
    ]
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in rng_vecs], ["vec_id", "embedding", "label"]
    )
    top = similarity.sq_topk(emb, 1, k=5).collect()
    assert len(top) == 5
    assert all(r["vec_id"] != 1 for r in top)
    cosines = [r["cosine"] for r in top]
    assert cosines == sorted(cosines, reverse=True)
    audit = similarity.sq_recall_audit(emb, 1, 5).collect()[0]
    assert audit["k"] == 5
    assert 0 <= audit["n_hits"] <= 5
    assert audit["recall"] == audit["n_hits"] / 5.0
    # 255 levels over an 8-dim grid of 17 distinct values loses almost
    # nothing: the asymmetric ranking should agree near-perfectly
    assert audit["n_hits"] >= 4


def test_sq_reconstruction_error_bounded(spark):
    """Every reconstructed component sits within one quantization step of
    its input: |r_i - q_i| <= ceil(rng_i / 255) (the SQ8 contract that
    makes the asymmetric ranking trustworthy)."""
    from binance_futures_availability_spark.functions import EMB_SCALE
    from binance_futures_availability_spark.operators import similarity

    vecs = [
        (i, [((i * 53 + j * 29) % 23 - 11) / 11.0 for j in range(6)])
        for i in range(1, 41)
    ]
    _, ref_recon = _sq_reference(vecs)
    q = {vid: [round(float(e) * EMB_SCALE) for e in v] for vid, v in vecs}
    dim = 6
    mins = [min(q[v][i] for v in q) for i in range(dim)]
    maxs = [max(q[v][i] for v in q) for i in range(dim)]
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs], ["vec_id", "embedding", "label"]
    )
    base = similarity._with_sq(emb, "vec_id", "embedding")
    for row in base.select("vec_id", "__q", "__sr").collect():
        for i, (x, r) in enumerate(zip(row["__q"], row["__sr"])):
            step = -(-(maxs[i] - mins[i]) // 255)  # ceil
            assert abs(r - x) <= step
            assert r == ref_recon[row["vec_id"]][i]


def test_knn_label_propagation_votes_and_tiebreak(spark):
    from pyspark.sql import functions as F

    from binance_futures_availability_spark.operators import similarity

    u = [1.0, 0.0, 0.0, 0.0]
    v = [0.0, 1.0, 0.0, 0.0]
    # interleaved labels on identical vectors: a 2-2 vote at k=4 must
    # break to the LOWER label
    corpus = [
        (1, u, 0), (2, u, 1), (3, u, 0), (4, u, 1),
        (7, v, 1), (8, v, 1), (9, v, 1), (10, v, 1),
    ]
    queries = [(100, u, 0), (101, v, 0)]
    emb = spark.createDataFrame(
        corpus + queries, ["vec_id", "embedding", "label"]
    )
    qdf = emb.filter(F.col("vec_id") >= 100)
    got = {
        r["query_id"]: (r["predicted_label"], r["n_votes"], r["correct"])
        for r in similarity.knn_label_propagation(
            qdf, emb, k=4, n_cells=2, nprobe=2
        ).collect()
    }
    # query 100: 4 nearest are ids 1-4 (cos 1, id tie-break) -> 2 votes
    # label 0 vs 2 votes label 1 -> tie broken to label 0 -> correct
    assert got[100] == (0, 2, 1)
    # query 101: 4 nearest are the v-cluster (all label 1) -> wrong
    assert got[101] == (1, 4, 0)
    acc = similarity.knn_label_accuracy(
        qdf, emb, k=4, n_cells=2, nprobe=2
    ).collect()[0]
    assert acc["n_queries"] == 2
    assert acc["n_correct"] == 1
    assert acc["accuracy"] == 0.5


def test_global_running_sum_matches_window_reference(spark):
    from pyspark.sql import functions as F

    from binance_futures_availability_spark.functions import global_running_sum

    rows = [(i, (i * 7919) % 101, (i * 37) % 13 + 1) for i in range(1, 301)]
    df = spark.createDataFrame(rows, ["id", "key", "v"])
    got = {
        r["id"]: r["rt"]
        for r in global_running_sum(
            df, ["key", "id"], "v", out_col="rt", num_partitions=7
        ).collect()
    }
    # independent reference: python cumsum over the same total order
    acc, ref = 0, {}
    for _id, _key, _v in sorted(rows, key=lambda t: (t[1], t[0])):
        acc += _v
        ref[_id] = acc
    assert got == ref


def test_token_budget_selection_semantics(spark):
    from binance_futures_availability_spark.operators import textops

    docs = spark.createDataFrame(
        [
            # quality ordering is driven by stopword density here
            (1, "the and of to in is a the and of"),      # high quality
            (2, "zz qq ww ee rr tt yy uu ii oo"),          # low quality
            (3, "the cat is on the mat and happy now ok"),  # mid
            (4, "the the the the the the the the the the"),  # high
        ],
        ["doc_id", "text"],
    )
    out = textops.token_budget_selection(docs, budget_tokens=25).collect()
    take = {r["doc_id"]: (r["n_tokens"], r["cum_tokens"]) for r in out}
    # every doc is 10 tokens; budget 25 -> exactly the 2 best-quality
    # docs fit (cum 10, 20); the third would cross 25 and is excluded
    assert len(take) == 2
    assert sorted(r["cum_tokens"] for r in out) == [10, 20]
    # default budget = half the corpus total (40 // 2 = 20): same 2 docs
    half = textops.token_budget_selection(docs).collect()
    assert sorted(r["cum_tokens"] for r in half) == [10, 20]
    # selected docs are the quality-ordered prefix: every selected doc's
    # quality >= every excluded doc's quality
    sel_q = [r["quality_score"] for r in out]
    all_q = {
        r["doc_id"]: r["quality_score"]
        for r in textops.quality_scores(docs).collect()
    }
    excluded = set(all_q) - set(take)
    assert min(sel_q) >= max(all_q[d] for d in excluded)


def test_hybrid_rrf_topk_fusion_semantics(spark):
    from binance_futures_availability_spark.operators import similarity

    # docs 1-6: doc 1 and 2 match the query terms; embeddings exist for
    # ids 2,3,4 only (partially embedded corpus) with id 3 the query
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha delta"),
            (3, "unrelated words here"),
            (4, "other text entirely"),
            (5, "noise noise noise"),
            (6, "more filler text"),
        ],
        ["doc_id", "text"],
    )
    u = [1.0, 0.0, 0.0, 0.0]
    near = [0.9, 0.1, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [(2, near, 0), (3, u, 0), (4, far, 0)],
        ["vec_id", "embedding", "label"],
    )
    out = similarity.hybrid_rrf_topk(
        docs, emb, ["alpha"], 3, k=5, n_each=3
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    # doc 2 appears in BOTH lists -> two reciprocal terms -> top fused
    assert out[0]["doc_id"] == 2
    assert rows[2]["lex_rank"] is not None and rows[2]["sem_rank"] is not None
    assert rows[2]["rrf_score"] == 1.0 / (60 + rows[2]["lex_rank"]) + 1.0 / (
        60 + rows[2]["sem_rank"]
    )
    # doc 1: lexical only; doc 4: semantic only; both present with one term
    assert rows[1]["sem_rank"] is None
    assert rows[1]["rrf_score"] == 1.0 / (60 + rows[1]["lex_rank"])
    assert rows[4]["lex_rank"] is None
    assert rows[4]["rrf_score"] == 1.0 / (60 + rows[4]["sem_rank"])
    # fused order is (rrf DESC, doc_id)
    scores = [(r["rrf_score"], r["doc_id"]) for r in out]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))


def test_hard_negatives_semantics(spark):
    from pyspark.sql import functions as F

    from binance_futures_availability_spark.operators import similarity

    u = [1.0, 0.0, 0.0, 0.0]
    near = [0.95, 0.05, 0.0, 0.0]
    nearer = [0.99, 0.01, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    corpus = [
        (1, nearer, 0),  # same label as query -> never a negative
        (2, near, 1),    # different label, very similar -> hardest
        (3, u, 1),       # identical direction, different label -> hardest
        (4, far, 1),     # different label but dissimilar -> ranked last
        (5, near, 0),    # same label -> excluded
    ]
    queries = [(100, u, 0)]
    emb = spark.createDataFrame(
        corpus + queries, ["vec_id", "embedding", "label"]
    )
    qdf = emb.filter(F.col("vec_id") == 100)
    out = similarity.hard_negatives(
        qdf, emb, n_neg=2, k_graph=10, n_cells=2, nprobe=2
    ).collect()
    assert [r["vec_id"] for r in out] == [3, 2]
    assert [r["neg_rank"] for r in out] == [1, 2]
    # every returned negative has a different label than the query, and
    # the excluded same-label id 1 is MORE similar than both negatives:
    # the filter, not the ranking, kept it out
    assert all(r["cosine"] <= 1.0 for r in out)
    full = similarity.hard_negatives(
        qdf, emb, n_neg=5, k_graph=10, n_cells=2, nprobe=2
    ).collect()
    assert [r["vec_id"] for r in full] == [3, 2, 4]  # only 3 negatives exist


def test_dedup_rate_by_source(spark):
    from binance_futures_availability_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "same text here", "a"),   # keeper of the cross-source group
            (2, "same  TEXT here ", "b"),  # normalized dup, charged to b
            (3, "same text here", "b"),   # another dup, charged to b
            (4, "unique one", "a"),
            (5, "unique two", "b"),
            (6, "unique three", "c"),
        ],
        ["doc_id", "text", "source"],
    )
    got = {
        r["source"]: (r["n_docs"], r["n_dup_docs"], r["dup_ppm"])
        for r in dedup.dedup_rate_by_source(docs).collect()
    }
    # source a: keeper + unique -> no dups; b: 2 of 3 docs are copies;
    # c: clean
    assert got["a"] == (2, 0, 0)
    assert got["b"] == (3, 2, 666666)  # floor(2_000_000 / 3)
    assert got["c"] == (1, 0, 0)


def test_scrub_duplicated_spans_semantics(spark):
    from binance_futures_availability_spark.operators import dedup

    # width=3: "a b c" repeats across docs 1 and 2 -> those 3-token
    # windows and every token they cover must vanish; doc 3 is clean;
    # doc 4 is wholly duplicated material (identical to doc 5)
    docs = spark.createDataFrame(
        [
            (1, "a b c x y z"),
            (2, "p q a b c r"),
            (3, "u v w m n o"),
            (4, "d e f d e f"),   # in-doc repetition: "d e f" twice
            (5, "k l"),           # shorter than the window: untouched
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_kept"], r["n_tokens_removed"])
        for r in dedup.scrub_duplicated_spans(docs, width=3).collect()
    }
    assert got[1] == ("x y z", 3, 3)
    assert got[2] == ("p q r", 3, 3)
    assert got[3] == ("u v w m n o", 6, 0)
    # doc 4: spans "d e f"(pos1,4) duplicate (also "f d e"? only if it
    # repeats — it occurs once) -> covered tokens = pos 1-3 and 4-6
    assert got[4] == ("", 0, 6)
    assert got[5] == ("k l", 2, 0)
    # conservation: kept + removed = original token count
    for d, (txt, k, r) in got.items():
        assert k + r == {1: 6, 2: 6, 3: 6, 4: 6, 5: 2}[d]


def test_max_duplicated_run_semantics(spark):
    from binance_futures_availability_spark.operators import dedup

    # width=3 over docs 1/2: the shared prefix "a b c d" gives TWO
    # consecutive duplicated window starts (pos 1, 2) -> run 2 ->
    # certified length 3 + 2 - 1 = 4 tokens; doc 3 is clean; doc 4's
    # in-doc verbatim repeat "x y z" (non-consecutive starts) -> 3
    docs = spark.createDataFrame(
        [
            (1, "a b c d p q"),
            (2, "a b c d r s"),
            (3, "u v w m n o"),
            (4, "x y z k x y z"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["max_run_tokens"]
        for r in dedup.max_duplicated_run(docs, width=3).collect()
    }
    assert got[1] == 4
    assert got[2] == 4
    assert got[3] == 0
    assert got[4] == 3


def _lrs_reference(texts: dict) -> dict:
    """Independent pure-Python reference: sorted suffix list + neighbor
    LCP — the textbook suffix-array longest-repeated-prefix scan."""
    import re

    suffixes = []
    for d, t in texts.items():
        tk = re.split(r"\s+", t.strip())
        for i in range(len(tk)):
            suffixes.append((tk[i:], d))
    suffixes.sort(key=lambda x: x[0])

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    best = {d: 0 for d in texts}
    for j, (s, d) in enumerate(suffixes):
        m = 0
        if j > 0:
            m = max(m, lcp(s, suffixes[j - 1][0]))
        if j + 1 < len(suffixes):
            m = max(m, lcp(s, suffixes[j + 1][0]))
        best[d] = max(best[d], m)
    return best


def test_lrs_exact_truncation_bound_is_sound(spark):
    """The r14 suffix-truncation bound: on random Zipf-ish corpora the
    width-6 census value (clamped at 5) is always >= the exact longest
    duplicated substring length per doc — the invariant that makes
    truncating suffix slices to bound+1 tokens lossless."""
    import random

    from binance_futures_availability_spark.operators import dedup

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(12)]  # tiny vocab -> heavy duplication
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60)))
        for d in range(30)
    }
    texts[30] = texts[0]  # verbatim copy: exact == doc length
    texts[31] = "q q q q q q q q"  # periodic
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    exact = {
        r["doc_id"]: r["max_run_tokens"]
        for r in dedup.max_duplicated_run_exact(docs).collect()
    }
    census = {
        r["doc_id"]: r["max_run_tokens"]
        for r in dedup.max_duplicated_run(docs, width=6).collect()
    }
    ref = _lrs_reference(texts)
    assert exact == ref
    for d in texts:
        assert max(census[d], 5) >= exact[d], (d, census[d], exact[d])


def test_max_duplicated_run_exact_matches_suffix_array_reference(spark):
    """The distributed 2-token-prefix-grouped neighbor-LCP operator must
    equal the plain sorted-suffix-list reference on a corpus that
    exercises every edge: cross-doc shared passages, in-doc verbatim
    repeats, OVERLAPPING self-repeats ('a a a a'), runs of exactly 1
    (shared single token only), all-unique docs (0), and a duplicated
    substring longer than the windowed census grain."""
    import random

    from binance_futures_availability_spark.operators import dedup

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    texts = {}
    for d in range(20):
        texts[d] = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    texts[20] = f"{texts[0]} {passage}"
    texts[21] = f"{passage} {texts[1]}"
    texts[22] = "a a a a a"  # overlapping self-repeat -> 4
    texts[23] = "solo1 unique1 tokens2 solo2"  # all-unique -> 0
    texts[24] = "unique4 p5 unique5"  # shares just 'p5' with the passage -> 1
    docs = spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["max_run_tokens"]
        for r in dedup.max_duplicated_run_exact(docs).collect()
    }
    want = _lrs_reference(texts)
    assert got == want
    assert got[22] == 4 and got[23] == 0 and got[24] == 1
    assert got[20] >= 12 and got[21] >= 12
    windowed = {
        r["doc_id"]: r["max_run_tokens"]
        for r in dedup.max_duplicated_run(docs, width=3).collect()
    }
    # the windowed census certifies runs correctly for verbatim copies
    # (exact == windowed on the planted cross-doc passage)...
    assert got[20] >= windowed[20] and got[21] >= windowed[21]
    # ...but on PERIODIC text it over-certifies: 'a a a a a' has three
    # identical width-3 windows (run of 3 -> claims 5 tokens) while the
    # true longest duplicated substring is 'a a a a' (4, overlapping
    # pair) — the whole doc occurs only once. The exact operator is the
    # fix, not just a tighter bound.
    assert windowed[22] == 5 and got[22] == 4


def test_sq_grid_not_shared_between_sample_and_full(spark, tmp_path_factory):
    """Regression: the SQ8 grid cache keys on the LOGICAL PLAN, not just
    the input files — a sample-filtered audit over the same parquet must
    not poison the full corpus's trained grid (and vice versa)."""
    from binance_futures_availability_spark.operators import similarity

    path = str(tmp_path_factory.mktemp("sqgrid") / "emb")
    # ids 0-39; the top id carries the extreme component so any sample
    # that drops it trains a NARROWER grid
    rows = [
        (i, [float(i), 1.0, 0.0, 0.0], 0) for i in range(39)
    ] + [(39, [1000.0, 1.0, 0.0, 0.0], 0)]
    spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).write.parquet(
        path
    )
    emb = spark.read.parquet(path)
    sampled = emb.filter("vec_id < 10")  # same files, different plan
    # audit-style call over the sample first (would poison a file-keyed cache)
    sub = {
        r["vec_id"]: r["code"]
        for r in similarity.sq_codes(sampled).collect()
        if r["i"] == 1
    }
    full = {
        r["vec_id"]: r["code"]
        for r in similarity.sq_codes(emb).collect()
        if r["i"] == 1
    }
    # sample grid: dim-1 range 0..9 -> id 9 hits code 255
    assert sub[9] == 255
    # full grid: range 0..1000 -> id 9 is near the bottom, id 39 at top;
    # a poisoned (sample-trained) grid would give full[39] > 255
    assert full[39] == 255
    assert full[9] <= 3
    assert all(0 <= c <= 255 for c in full.values())


def test_late_supplier_orders_small_world(spark):
    """The single-pass decorrelation implements the sole-late-supplier
    semantics: multi-supplier order required, exactly one late supplier,
    lateness = shipped more than late_days after the order date."""
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    d0 = dt.datetime(2020, 1, 1)
    late = dt.datetime(2020, 6, 1)
    ontime = dt.datetime(2020, 1, 15)
    supplier = spark.createDataFrame(
        [(1, "Supp#A"), (2, "Supp#B"), (3, "Supp#C")],
        ["s_suppkey", "s_name"],
    )
    orders = spark.createDataFrame(
        [(10, d0), (20, d0), (30, d0), (40, d0)],
        ["o_orderkey", "o_orderdate"],
    )
    li = spark.createDataFrame(
        [
            # o10: A late, B on time -> A counted
            (10, 1, late), (10, 2, ontime),
            # o20: single-supplier late -> excluded (no second supplier)
            (20, 1, late),
            # o30: both late -> excluded (not the SOLE late supplier)
            (30, 1, late), (30, 2, late),
            # o40: three suppliers, only B late -> B counted; B twice
            # late in the same order still counts the ORDER once
            (40, 1, ontime), (40, 2, late), (40, 2, late), (40, 3, ontime),
        ],
        ["l_orderkey", "l_suppkey", "l_shipdate"],
    )
    got = [
        (r["s_suppkey"], r["s_name"], r["numwait"])
        for r in warehouse.late_supplier_orders(
            supplier, orders, li, late_days=90
        ).collect()
    ]
    assert got == [(1, "Supp#A", 1), (2, "Supp#B", 1)]


def test_late_supplier_orders_matches_textbook_oracle(spark):
    """The decorrelated single-pass plan returns exactly what the
    textbook EXISTS / NOT EXISTS self-join form computes (randomized
    corpus, seeded)."""
    import datetime as dt
    import random

    import duckdb
    import pandas as pd

    from binance_futures_availability_spark.operators import warehouse
    from binance_futures_availability_spark.oracles import (
        sql_late_supplier_orders,
    )

    rng = random.Random(777)
    base = dt.datetime(2021, 1, 1)
    sups = [(i, f"S#{i}") for i in range(1, 9)]
    orders = [(ok, base + dt.timedelta(days=rng.randint(0, 60)))
              for ok in range(1, 161)]
    li = []
    for ok, od in orders:
        for _ in range(rng.randint(1, 4)):
            li.append((
                ok,
                rng.randint(1, 8),
                od + dt.timedelta(days=rng.randint(0, 80)),
            ))
    sdf = spark.createDataFrame(sups, ["s_suppkey", "s_name"])
    odf = spark.createDataFrame(orders, ["o_orderkey", "o_orderdate"])
    ldf = spark.createDataFrame(li, ["l_orderkey", "l_suppkey", "l_shipdate"])
    got = [
        (r["s_suppkey"], r["s_name"], r["numwait"])
        for r in warehouse.late_supplier_orders(
            sdf, odf, ldf, late_days=40, k=20
        ).collect()
    ]
    con = duckdb.connect()
    con.register("supplier", pd.DataFrame(sups, columns=["s_suppkey", "s_name"]))
    con.register("orders", pd.DataFrame(orders, columns=["o_orderkey", "o_orderdate"]))
    con.register("lineitem", pd.DataFrame(li, columns=["l_orderkey", "l_suppkey", "l_shipdate"]))
    want = [
        (int(a), b, int(c))
        for a, b, c in con.execute(sql_late_supplier_orders(40, 20)).fetchall()
    ]
    assert got == want


def test_small_order_revenue_small_world(spark):
    """Integer cross-multiplied threshold: qty < 20% of the part's mean
    quantity, restricted to one brand; revenue = Σprice / 7 years."""
    from binance_futures_availability_spark.operators import warehouse

    part = spark.createDataFrame(
        [(1, "Brand#X"), (2, "Brand#X"), (3, "Brand#Y")],
        ["p_partkey", "p_brand"],
    )
    li = spark.createDataFrame(
        [
            # p1: quantities 1,10,10,10 -> mean 7.75, 20% = 1.55 -> the
            # qty-1 row qualifies (price 70.0)
            (1, 1.0, 70.0), (1, 10.0, 10.0), (1, 10.0, 10.0), (1, 10.0, 10.0),
            # p2: 5,5 -> 20% of mean = 1.0, nothing strictly below
            (2, 5.0, 10.0), (2, 5.0, 10.0),
            # p3: wrong brand, tiny qty would otherwise qualify
            (3, 1.0, 999.0), (3, 100.0, 10.0),
        ],
        ["l_partkey", "l_quantity", "l_extendedprice"],
    )
    r = warehouse.small_order_revenue(li, part, "Brand#X").collect()[0]
    assert r["n_small_lineitems"] == 1
    assert r["avg_yearly"] == 7000 / 700.0


def test_small_order_revenue_boundary_is_strict(spark):
    """A quantity EXACTLY at 20% of the mean does not qualify — the
    integer cross-multiplication makes the boundary exact on both
    engines (no double average to diverge in the last ulp)."""
    from binance_futures_availability_spark.operators import warehouse

    part = spark.createDataFrame([(1, "Brand#X")], ["p_partkey", "p_brand"])
    # quantities 2, 4, 4 -> sum 10, n 3; threshold qty*15 < 10 in units
    # of 0.01: 2.0 gives 200*15=3000 vs sum_qty_c*... strict compare is
    # qty_c*5*n < sum_qty_c: 200*15=3000 < 1000? no. Use qty 0.5:
    # 50*15=750 < 1000 -> qualifies.
    li = spark.createDataFrame(
        [(1, 2.0, 10.0), (1, 4.0, 10.0), (1, 4.0, 10.0), (1, 0.5, 42.0)],
        ["l_partkey", "l_quantity", "l_extendedprice"],
    )
    r = warehouse.small_order_revenue(li, part, "Brand#X").collect()[0]
    # sums include the 0.5 row: sum_qty_c=1050, n=4; 0.5 -> 50*20=1000 <
    # 1050 qualifies; 2.0 -> 200*20=4000 no.
    assert r["n_small_lineitems"] == 1
    assert r["avg_yearly"] == 4200 / 700.0


def test_centroid_outliers_ranks_within_label_distance(spark):
    """The farthest-from-own-centroid vectors surface first; cosine to
    the label MEAN equals cosine to the integer SUM vector."""
    import math

    from binance_futures_availability_spark.operators import similarity

    # label 0: three vectors near +x, one near +y (the outlier);
    # label 1: two identical vectors (cos exactly 1.0)
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [1.0, 0.05], 0),
        (4, [0.0, 1.0], 0),
        (10, [0.5, 0.5], 1),
        (11, [0.5, 0.5], 1),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = similarity.centroid_outliers(emb, k=6).collect()
    assert [r["vec_id"] for r in got][:1] == [4]  # the planted outlier
    assert got[0]["label"] == 0
    # ascending order, and the duplicate pair scores exactly 1.0
    scores = [r["cos_centroid"] for r in got]
    assert scores == sorted(scores)
    # the duplicate pair scores the same deterministic float64 value
    # (≈1.0 up to the expression's two roundings, identical across ids)
    perfect = {r["vec_id"]: r["cos_centroid"] for r in got}
    assert perfect[10] == perfect[11]
    assert abs(perfect[10] - 1.0) < 1e-12
    # hand-check the outlier's cosine against the label-0 sum vector
    sv = [
        sum(round(v[d] * 1_000_000) for _, v, lb in rows if lb == 0)
        for d in range(2)
    ]
    q4 = [0, 1_000_000]
    dot = sum(a * b for a, b in zip(q4, sv))
    want = dot / (
        math.sqrt(sum(a * a for a in q4)) * math.sqrt(sum(a * a for a in sv))
    )
    assert got[0]["cos_centroid"] == want


def test_centroid_outliers_empty_input_returns_zero_rows(spark):
    """Empty embeddings short-circuit to an empty result (the SQL
    oracle's empty-scan behavior) instead of raising on max()/pos[]."""
    from binance_futures_availability_spark.operators import similarity

    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label int"
    )
    got = similarity.centroid_outliers(emb, k=5)
    assert got.collect() == []
    assert [f.name for f in got.schema.fields] == [
        "vec_id", "label", "cos_centroid"
    ]


def test_quality_dup_crosstab_counts_and_ppm(spark):
    """Sum of decile rows covers the corpus; exactly the non-keeper
    copies count as duplicates; ppm is the exact integer floor."""
    from binance_futures_availability_spark.operators import textops

    dup_text = "the same exact sentence repeated verbatim here."
    rows = [(i, f"unique document number {i} with some words") for i in range(10)]
    rows += [(100, dup_text), (101, dup_text), (102, dup_text)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = textops.quality_dup_crosstab(docs, n_tiles=4).collect()
    assert [r["decile"] for r in got] == sorted({r["decile"] for r in got})
    assert sum(r["n_docs"] for r in got) == 13
    assert sum(r["n_dup_docs"] for r in got) == 2  # 101, 102 (100 keeps)
    for r in got:
        assert r["dup_ppm"] == r["n_dup_docs"] * 1_000_000 // r["n_docs"]


def test_minhash_estimate_audit_exact_on_duplicates(spark):
    """Exact duplicates share every signature component AND have true
    Jaccard 1.0 — both ppm quotients are 1e6, so the pair contributes
    zero error; error stats are exact integers."""
    from binance_futures_availability_spark.operators import dedup

    same = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, same), (2, same)]
    rows += [(i, f"doc {i} " + " ".join(f"w{i}{j}" for j in range(8)))
             for i in range(10, 40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    r = dedup.minhash_estimate_audit(docs, max_bucket_pop=None).collect()[0]
    assert r["n_pairs"] >= 1
    # the duplicate pair exists and errors are bounded by construction
    assert 0 <= r["mean_abs_err_ppm"] <= r["max_abs_err_ppm"] <= 1_000_000


def test_minhash_estimate_audit_empty_candidates(spark):
    """No colliding bands -> zero-pair audit row, not an empty frame."""
    from binance_futures_availability_spark.operators import dedup

    rows = [
        (1, "completely unique words here aardvark bison crane dingo"),
        (2, "totally different vocabulary there eagle ferret gnu heron"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    r = dedup.minhash_estimate_audit(docs).collect()
    assert len(r) == 1
    if r[0]["n_pairs"] == 0:
        assert r[0]["mean_abs_err_ppm"] == 0 and r[0]["max_abs_err_ppm"] == 0


def test_cluster_purity_majority_and_ppm(spark):
    """Majority label per trained cell, ties to the lowest label, exact
    integer ppm; row count bounded by live cells."""
    from binance_futures_availability_spark.operators import similarity

    # two well-separated groups in 2-d; labels mostly follow geometry
    # with one planted impurity
    rows = [
        (1, [1.0, 0.0], 0), (2, [0.99, 0.01], 0), (3, [0.98, 0.02], 0),
        (4, [0.97, 0.01], 1),  # impurity in the +x cluster
        (10, [0.0, 1.0], 1), (11, [0.01, 0.99], 1), (12, [0.02, 0.98], 1),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = similarity.cluster_purity(emb, n_cells=2, n_iters=2).collect()
    assert 1 <= len(got) <= 2
    for r in got:
        assert r["purity_ppm"] == r["n_majority"] * 1_000_000 // r["n_vecs"]
        assert r["n_majority"] <= r["n_vecs"]
    total = sum(r["n_vecs"] for r in got)
    assert total == 7
    # the +x-dominated cell keeps label 0 as majority despite the plant
    by_major = {r["majority_label"]: r for r in got}
    assert 0 in by_major and by_major[0]["n_majority"] == 3


def test_neardup_rate_by_source_neighborhood_keeper(spark):
    """A doc is a near-dup iff it appears in a verified LSH pair and is
    not the lowest id of its pair neighborhood; sources with no pairs
    report zero."""
    from binance_futures_availability_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"  # high-Jaccard neighbor
    rows = [
        (1, base, "crawlA"),
        (2, near, "crawlA"),
        (3, base, "crawlB"),   # exact copy in another source
        (10, "totally unrelated words one two three four five", "clean"),
        (11, "another unrelated document six seven eight nine ten", "clean"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r["source"]: r
        for r in dedup.neardup_rate_by_source(
            docs, 0.5, max_bucket_pop=None
        ).collect()
    }
    assert got["clean"]["n_neardup_docs"] == 0
    assert got["clean"]["neardup_ppm"] == 0
    # doc 1 is the neighborhood keeper; 2 and 3 count in their sources
    assert got["crawlA"]["n_neardup_docs"] == 1
    assert got["crawlB"]["n_neardup_docs"] == 1
    assert got["crawlA"]["neardup_ppm"] == 1_000_000 // 2


def test_late_order_priority_exists_semantics(spark):
    """An order counts once per priority regardless of how many late
    lineitems it has; on-time-only and out-of-window orders don't."""
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    d = dt.datetime
    orders = spark.createDataFrame(
        [
            (1, d(1996, 2, 1), "1-URGENT"),
            (2, d(1996, 2, 1), "1-URGENT"),   # on-time only
            (3, d(1996, 2, 1), "2-HIGH"),
            (4, d(1995, 1, 1), "1-URGENT"),   # out of window, late
        ],
        ["o_orderkey", "o_orderdate", "o_orderpriority"],
    )
    li = spark.createDataFrame(
        [
            (1, d(1996, 8, 1)), (1, d(1996, 9, 1)),  # two late lines
            (2, d(1996, 2, 10)),
            (3, d(1996, 7, 1)),
            (4, d(1996, 8, 1)),
        ],
        ["l_orderkey", "l_shipdate"],
    )
    got = {
        r["o_orderpriority"]: r["order_count"]
        for r in warehouse.late_order_priority(
            orders, li, "1996-01-01", "1996-03-31", 90
        ).collect()
    }
    assert got == {"1-URGENT": 1, "2-HIGH": 1}


def test_discounted_revenue_exact_cents(spark):
    """Integer scale-4 product: price*discount summed exactly; filters
    bind (window, band, quantity cap)."""
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    d = dt.datetime
    li = spark.createDataFrame(
        [
            # qualifies: 100.00 * 0.05 = 5.00
            (10.0, 100.0, 0.05, d(1996, 6, 1)),
            # discount out of band
            (10.0, 100.0, 0.10, d(1996, 6, 1)),
            # quantity at the cap (strict <)
            (24.0, 100.0, 0.05, d(1996, 6, 1)),
            # out of window
            (10.0, 100.0, 0.05, d(1997, 6, 1)),
            # qualifies: 33.33 * 0.02 = 0.6666
            (1.0, 33.33, 0.02, d(1996, 1, 1)),
        ],
        ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"],
    )
    r = warehouse.discounted_revenue(
        li, "1996-01-01", "1996-12-31", 0.02, 0.06, 24.0
    ).collect()[0]
    assert r["n_lineitems"] == 2
    assert r["revenue_delta"] == (100_00 * 5 + 33_33 * 2) / 10000.0


def test_idle_rich_customers_decorrelations(spark):
    """Above-positive-average balance via integer cross-multiplication;
    dormancy = no order on/after the cutoff; negative balances count in
    the population but not the average's denominator."""
    import datetime as dt

    from binance_futures_availability_spark.operators import warehouse

    customer = spark.createDataFrame(
        [
            # positive balances: 100, 200, 600 -> avg 300
            (1, 0, 100.0), (2, 0, 200.0), (3, 0, 600.0),
            (4, 1, -50.0),   # negative: not in avg, below it anyway
            (5, 1, 900.0),   # rich and dormant
        ],
        ["c_custkey", "c_nationkey", "c_acctbal"],
    )
    orders = spark.createDataFrame(
        [
            (10, 3, dt.datetime(2001, 5, 1)),   # cust 3 active recently
            (11, 5, dt.datetime(1998, 1, 1)),   # cust 5 only old orders
        ],
        ["o_orderkey", "o_custkey", "o_orderdate"],
    )
    nation = spark.createDataFrame(
        [(0, "ALPHA"), (1, "BETA")], ["n_nationkey", "n_name"]
    )
    got = {
        r["nation_name"]: (r["n_customers"], r["total_acctbal"])
        for r in warehouse.idle_rich_customers(
            customer, orders, nation, "2000-01-01"
        ).collect()
    }
    # rich set = {3 (600>300), 5 (900>300)}; 3 is active -> only 5
    assert got == {"BETA": (1, 900.0)}


def test_length_quantiles_nearest_rank_pair(spark):
    """Quartiles against a numpy-free hand reference: nearest-rank pair
    (v[floor(q(n-1))+1] + v[ceil(q(n-1))+1]) / 2 per group."""
    from binance_futures_availability_spark.operators import textops

    def ref(lengths, a, d):
        v = sorted(lengths)
        n = len(v)
        p1 = (a * (n - 1)) // d
        p2 = -((-a * (n - 1)) // d)
        return (v[p1] + v[p2]) / 2

    worlds = {
        "A": ["x" * L for L in (1, 2, 3, 4, 5, 6, 7, 100)],  # even n
        "B": ["x" * L for L in (10, 20, 30)],                # odd n
        "C": ["x" * L for L in (5,)],                        # singleton
    }
    rows = []
    i = 0
    for src, texts in worlds.items():
        for t in texts:
            rows.append((i, t, src)); i += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r["source"]: r for r in textops.length_quantiles(docs).collect()}
    for src, texts in worlds.items():
        lens = [len(t) for t in texts]
        assert got[src]["n_docs"] == len(lens)
        for q, (a, d) in (("q25", (1, 4)), ("q50", (1, 2)), ("q75", (3, 4))):
            assert got[src][q] == ref(lens, a, d), (src, q)


def test_bigram_pmi_topk_lift_ranking(spark):
    """The planted collocation ('hong kong': always together) outranks
    frequent-but-independent pairs; lift_milli is the exact integer
    cb*N*1000 // (c1*c2); min_count gates rare pairs."""
    from binance_futures_availability_spark.operators import textops

    rows = []
    # 'hong kong' appears 6 times, always adjacent, words never alone
    for i in range(6):
        rows.append((i, "hong kong visit number " + "common " * 5))
    # a rare pair below min_count
    rows.append((100, "rare pairing here"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = textops.bigram_pmi_topk(docs, k=10, min_count=5).collect()
    assert got[0]["w1"] == "hong" and got[0]["w2"] == "kong"
    # hand-check the integer lift of the winner
    texts = [r[1] for r in rows]
    toks = [t.split() for t in texts]
    n = sum(len(t) for t in toks)
    c = {}
    for t in toks:
        for w in t:
            c[w] = c.get(w, 0) + 1
    assert got[0]["cb"] == 6
    assert got[0]["lift_milli"] == 6 * n * 1000 // (c["hong"] * c["kong"])
    assert all(r["cb"] >= 5 for r in got)
