"""Property-based tests (hypothesis) — invariants no example table pins.

A dimension the reference's suite lacks entirely (SURVEY.md §5 "not
present: property-based/randomized testing"). Examples are kept small and
capped: each property drives a real Spark job.
"""

from __future__ import annotations

import datetime as dt
from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from binance_futures_availability_spark.operators import dedup, textops
from binance_futures_availability_spark.schema import DAILY_AVAILABILITY
from binance_futures_availability_spark.sources import writer

from conftest import _row

D = dt.date
SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# strategy: small availability tables — up to 3 symbols × 3 days, random
# availability and volume (volume None ⇔ unavailable kept legal too)
_row_strategy = st.tuples(
    st.sampled_from([D(2024, 1, 1), D(2024, 1, 2), D(2024, 1, 3)]),
    st.sampled_from(["AUSDT", "BUSDT", "CUSDT"]),
    st.booleans(),
    st.one_of(st.none(), st.floats(1.0, 1000.0, allow_nan=False)),
)
_tables = st.lists(_row_strategy, min_size=1, max_size=9, unique_by=lambda r: (r[0], r[1]))


def _df(spark, rows):
    return spark.createDataFrame(
        [_row(d, s, a, (v if a else None)) for d, s, a, v in rows],
        DAILY_AVAILABILITY,
    )


@SETTINGS
@given(a=_tables, b=_tables)
def test_upsert_idempotent_and_key_unique(spark, a, b):
    """upsert(upsert(A,B),B) == upsert(A,B); result has unique keys and
    exactly the union of key sets (INSERT OR REPLACE semantics)."""
    da, db = _df(spark, a), _df(spark, b)
    once = writer.upsert(da, db, ["date", "symbol"], "probe_timestamp")
    twice = writer.upsert(once, db, ["date", "symbol"], "probe_timestamp")
    r1 = {(r["date"], r["symbol"]): r for r in once.collect()}
    r2 = {(r["date"], r["symbol"]): r for r in twice.collect()}
    assert set(r1) == {(r[0], r[1]) for r in a} | {(r[0], r[1]) for r in b}
    assert len(r1) == once.count()  # keys unique
    assert {k: v["quote_volume_usdt"] for k, v in r1.items()} == {
        k: v["quote_volume_usdt"] for k, v in r2.items()
    }
    # incoming rows always win on collision
    for d, s, avail, v in b:
        got = r1[(d, s)]["quote_volume_usdt"]
        assert got == (v if avail else None)


_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c"),  # tiny alphabet → heavy overlap
        min_size=0,
        max_size=30,
    ),
    min_size=1,
    max_size=6,
)


@SETTINGS
@given(texts=_texts)
def test_jaccard_pairs_bounds_and_orientation(spark, texts):
    """0 < jaccard ≤ 1, id_a < id_b, and identical texts score 1.0."""
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.0, n=2, max_shingle_freq=None
    ).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert 0.0 < r["jaccard"] <= 1.0
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    shingle_sets = {}
    for i, t in enumerate(texts):
        toks = t.split()
        shingle_sets[i] = {
            " ".join(toks[j : j + 2]) for j in range(len(toks) - 1)
        }
    for i, t1 in enumerate(texts):
        for j in range(i + 1, len(texts)):
            s1, s2 = shingle_sets[i], shingle_sets[j]
            if s1 and s1 == s2:
                assert by_pair.get((i, j)) == 1.0


@SETTINGS
@given(texts=_texts, n=st.integers(1, 4))
def test_shingle_array_matches_python_reference(spark, texts, n):
    """The zip_with shingle fold equals the obvious Python definition:
    distinct n-grams of whitespace tokens, for any n and any text shape
    (empty, whitespace-only, shorter than n, repeated tokens)."""
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got: dict[int, set] = {i: set() for i in range(len(texts))}
    for r in dedup.shingles(docs, n=n).collect():
        got[r["doc_id"]].add(r["shingle"])
    import re as _re

    for i, t in enumerate(texts):
        toks = _re.split(r"\s+", t.strip())
        expected = {
            " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
        }
        assert got[i] == expected, (t, n)


@SETTINGS
@given(texts=_texts)
def test_lsh_verification_jaccard_is_exact(spark, texts):
    """The array_intersect verification inside minhash_lsh_pairs yields
    EXACTLY the postings-based Jaccard for every emitted pair — LSH may
    drop pairs (banding is probabilistic) but never reports a wrong value,
    for any corpus shape (empty docs, duplicates, heavy overlap)."""
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, n=2, max_shingle_freq=None
        ).collect()
    }
    for r in dedup.minhash_lsh_pairs(docs, threshold=0.0, n=2).collect():
        assert exact[(r["id_a"], r["id_b"])] == r["jaccard"], (
            r["id_a"],
            r["id_b"],
        )


@SETTINGS
@given(texts=_texts)
def test_exact_dedup_partitions_corpus(spark, texts):
    """exact_duplicates + dedup_exact form a consistent partition: every
    group's keeper is the min id of its normalized-text class, group sizes
    are the class sizes (>1 only), and survivors are exactly one min-id doc
    per distinct normalized text."""
    import re as _re

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    norm = {
        i: _re.sub(r"\s+", " ", t).strip().lower() for i, t in enumerate(texts)
    }
    classes: dict[str, list] = {}
    for i, nt in norm.items():
        classes.setdefault(nt, []).append(i)
    groups = {
        r["content_md5"]: (r["n_docs"], r["keeper_id"])
        for r in dedup.exact_duplicates(docs).collect()
    }
    expected_groups = {
        (len(ids), min(ids)) for ids in classes.values() if len(ids) > 1
    }
    assert set(groups.values()) == expected_groups
    survivors = {r["doc_id"] for r in dedup.dedup_exact(docs).collect()}
    assert survivors == {min(ids) for ids in classes.values()}


# word pool mixing stopwords of several languages, junk, and digits
_lang_texts = st.lists(
    st.lists(
        st.sampled_from(
            "the and of is der die und le la el los y 的 是 xyzzy qq 42".split()
        ),
        min_size=0,
        max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@SETTINGS
@given(texts=_lang_texts)
def test_language_id_matches_python_reference(spark, texts):
    """Stopword-vote language ID equals the obvious Python model: per-lang
    regex match count on lowered text, argmax with LANG_PRIORITY tie-break,
    'unknown' when every score is zero."""
    import re as _re

    from binance_futures_availability_spark.operators.textops import (
        LANG_PRIORITY,
        LANG_STOPWORDS,
    )

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: r for r in textops.language_id(docs).collect()}
    for i, t in enumerate(texts):
        low = t.lower()
        scores = {
            lg: sum(1 for _ in _re.finditer(LANG_STOPWORDS[lg], low))
            for lg in LANG_PRIORITY
        }
        for lg in LANG_PRIORITY:
            assert got[i][f"score_{lg}"] == scores[lg], (t, lg)
        best = max(scores.values())
        expected = (
            next(lg for lg in LANG_PRIORITY if scores[lg] == best)
            if best > 0
            else "unknown"
        )
        assert got[i]["predicted_lang"] == expected, t


@SETTINGS
@given(texts=_lang_texts)
def test_quality_and_token_counts_match_python_reference(spark, texts):
    """Integer features equal the Python model exactly; the score doubles
    are bit-identical (same IEEE-754 ops in the same order — the engine's
    cross-engine determinism claim, asserted with ==, no tolerance)."""
    import re as _re

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    tok = {r["doc_id"]: r for r in textops.token_counts(docs).collect()}
    q = {r["doc_id"]: r for r in textops.quality_scores(docs).collect()}
    for i, t in enumerate(texts):
        wc = len(_re.split(r"\s+", t.strip()))  # tokens() semantics
        assert tok[i]["n_tokens"] == wc, t
        assert tok[i]["n_word_tokens"] == len(
            _re.findall(r"[A-Za-z0-9]+", t)
        ), t
        assert tok[i]["n_chars_measured"] == len(t), t
        stop = sum(1 for _ in _re.finditer(r"\b(the|and|of|to|in|is|a)\b", t))
        nonspace = len(_re.sub(r"\s", "", t))
        assert q[i]["word_count"] == wc
        assert q[i]["stopword_count"] == stop, t
        awl = nonspace / wc
        assert q[i]["avg_word_len"] == awl
        assert q[i]["stopword_ratio"] == stop / wc
        score = (
            0.4 * min(wc / 100.0, 1.0)
            + 0.4 * (stop / wc)
            + 0.2 * min(awl / 10.0, 1.0)
        )
        assert q[i]["quality_score"] == score, t


# symbol fragments that compose into realistic and adversarial names:
# valid/invalid date suffixes, SHORT suffixes (%y%m%d accepts 1-digit
# month/day: '_2312' = 2023-01-02), space-padded day ('_231 2'), short
# digit runs, multiple underscores
_symbols = st.lists(
    st.lists(
        st.sampled_from(
            ["BTCUSDT", "ETH", "_241227", "_991332", "_000230", "_240230",
             "_2312", "_23121", "_231 2", "_120", "_231131", "_99",
             "_12345", "_1234567", "_", "241227", "_ABC123"]
        ),
        min_size=1,
        max_size=3,
    ).map("".join),
    min_size=1,
    max_size=10,
)


@SETTINGS
@given(symbols=_symbols)
def test_classify_symbol_matches_python_reference(spark, symbols):
    """classify_symbol equals the reference VERBATIM (rsplit('_', 1) +
    strptime '%y%m%d' — s3_symbol_discovery.py:149-179): 1-digit months
    and days and space-padded days are valid dates; leap days, month 13,
    day 0, and trailing unconverted digits are all rejected."""
    import datetime as _dt

    from binance_futures_availability_spark.functions import classify_symbol

    df = spark.createDataFrame([(s,) for s in symbols], ["symbol"])
    got = {
        r["symbol"]: r["cls"]
        for r in df.select(
            "symbol", classify_symbol(F.col("symbol")).alias("cls")
        ).collect()
    }
    for s in set(symbols):
        expected = "perpetual"
        if "_" in s:
            try:
                _dt.datetime.strptime(s.rsplit("_", 1)[1], "%y%m%d")
                expected = "delivery"
            except ValueError:
                pass
        assert got[s] == expected, s


@SETTINGS
@given(texts=_texts, max_hamming=st.integers(0, 8))
def test_simhash_banding_equals_brute_force(spark, texts, max_hamming):
    """Pigeonhole banding is lossless for any max_hamming — and BOTH
    physical strategies (chunk pairs and single chunks, forced by moving
    the measured crossover ``BLOCK_CAND_PER_DOC``) emit the identical pair
    set. The explicit two-strategy assertion is the CI guarantee that
    lets the simhash pair-graph session cache key on logical parameters
    only (advisor r13: a dual-body-under-one-key cache is safe exactly
    as long as this property holds). ``mock.patch.object`` rather than
    ``monkeypatch``: hypothesis rejects function-scoped fixtures."""
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    s = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    brute = {
        (a, b)
        for a in s
        for b in s
        if a < b and bin(s[a] ^ s[b]).count("1") <= max_hamming
    }
    # the shipped crossover (measured choice); -1 forces chunk pairs, inf
    # forces single chunks
    for crossover in (dedup.BLOCK_CAND_PER_DOC, -1, float("inf")):
        with mock.patch.object(dedup, "BLOCK_CAND_PER_DOC", crossover):
            banded = {
                (r["id_a"], r["id_b"])
                for r in dedup.simhash_pairs(docs, max_hamming).collect()
            }
        assert banded == brute, crossover


@SETTINGS
@given(
    bases=st.lists(st.integers(0, (1 << 60) - 1), min_size=1, max_size=4),
    flips=st.lists(st.sets(st.integers(0, 59), max_size=8), max_size=4),
    max_hamming=st.integers(1, 8),
)
def test_simhash_banding_uses_every_chunk(spark, bases, flips, max_hamming):
    """Both banding arms equal brute force on fingerprints at exact hamming
    distances, drawn directly (``dedup.simhash`` patched) because text
    corpora this small only yield exact or near-exact duplicates. Each
    example holds, per arm's chunk layout, a pair with one bit flipped in
    each of the first ``max_hamming`` chunks: it agrees only on the last
    chunk (single chunks) or the last two (chunk pairs), so an arm that
    skips any chunk loses it."""
    d = max_hamming
    bits = dedup.SIMHASH_BITS
    fps = list(bases)
    for chunk_bits in (-(-bits // (d + 1)), bits // (d + 2)):
        fps.append(bases[0] ^ sum(1 << (i * chunk_bits) for i in range(d)))
    fps += [
        bases[k % len(bases)] ^ sum(1 << b for b in f)
        for k, f in enumerate(flips)
    ]
    brute = {
        (a, b)
        for a in range(len(fps))
        for b in range(a + 1, len(fps))
        if bin(fps[a] ^ fps[b]).count("1") <= d
    }
    docs = spark.createDataFrame(
        [(i, "") for i in range(len(fps))], "doc_id long, text string"
    )
    fingerprints = spark.createDataFrame(
        list(enumerate(fps)), "doc_id long, simhash long"
    )
    with mock.patch.object(dedup, "simhash", lambda *a: fingerprints):
        # -1 forces chunk pairs, inf forces single chunks
        for crossover in (-1, float("inf")):
            with mock.patch.object(dedup, "BLOCK_CAND_PER_DOC", crossover):
                banded = {
                    (r["id_a"], r["id_b"])
                    for r in dedup.simhash_pairs(docs, d).collect()
                }
            assert banded == brute, crossover


_doc_strategy = st.lists(
    st.tuples(
        st.integers(0, 200),
        st.text(
            alphabet="ab cd",  # spaces included → multi-token docs
            min_size=0,
            max_size=40,
        ),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda r: r[0],
)


@SETTINGS
@given(rows=_doc_strategy)
def test_corpus_split_partitions_and_is_stable(spark, rows):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textops.corpus_split(docs).collect()
    # every doc assigned exactly once, only legal split names
    assert sorted(r["doc_id"] for r in out) == sorted(r[0] for r in rows)
    assert {r["split"] for r in out} <= {"train", "val", "test"}
    # pure function of id: a filtered sub-corpus keeps identical labels
    sub = textops.corpus_split(docs.filter(F.col("doc_id") % 2 == 0)).collect()
    full = {r["doc_id"]: r["split"] for r in out}
    assert all(full[r["doc_id"]] == r["split"] for r in sub)


@SETTINGS
@given(rows=_doc_strategy, budget=st.integers(1, 20))
def test_pack_sequences_invariants(spark, rows, budget):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textops.pack_sequences(docs, budget=budget, n_shards=2).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r[0] for r in rows)
    # within a shard, pack ids are non-decreasing in doc_id order and the
    # exclusive-cumsum quantization bounds every pack's token total by
    # budget + its largest member (greedy-quantized contract)
    import collections

    by_shard = collections.defaultdict(list)
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard[r["shard"]].append(r)
    for shard_rows in by_shard.values():
        packs = collections.defaultdict(list)
        last_pack = None
        for r in shard_rows:
            assert last_pack is None or r["pack_id"] >= last_pack
            last_pack = r["pack_id"]
            packs[r["pack_id"]].append(r["n_tokens"])
        for toks in packs.values():
            assert sum(toks) <= budget + max(toks)


# --- round-5 families: invariants over random tiny corpora/streams ---

_doc_strategy = st.lists(
    st.tuples(
        st.integers(0, 50),
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "the", "x1"]),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        st.sampled_from(["en", "de", "fr"]),
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda r: r[0],
)


@given(_doc_strategy, st.integers(1, 9999))
@SETTINGS
def test_stratified_sample_nested_and_partitioned(spark, rows, rate):
    """Invariants: (a) a sample at rate r is a SUBSET of the sample at any
    higher rate (nesting); (b) rate 10000 keeps everything, rate 0 keeps
    nothing — on arbitrary corpora including empty ones."""
    from binance_futures_availability_spark.operators import sampling

    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        if rows else spark.createDataFrame([], "doc_id long, text string, lang string")
    low = {r["doc_id"] for r in sampling.stratified_sample(docs, {}, rate).collect()}
    hi_rate = min(10000, rate + 1731)
    high = {r["doc_id"] for r in sampling.stratified_sample(docs, {}, hi_rate).collect()}
    assert low <= high
    assert len({r["doc_id"] for r in sampling.stratified_sample(docs, {}, 10000).collect()}) == len(rows)
    assert sampling.stratified_sample(docs, {}, 0).count() == 0


@given(_doc_strategy)
@SETTINGS
def test_mixture_weights_sum_bound_and_exact_isqrt(spark, rows):
    """weight_ppm sums to ≤ 1e6 with shortfall < n_strata (floor division),
    and scaled_tokens is the exact integer sqrt — on arbitrary corpora."""
    import math

    from binance_futures_availability_spark.operators import sampling

    if not rows:
        return
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = sampling.mixture_weights(docs, strata_col="lang").collect()
    total = sum(r["weight_ppm"] for r in out)
    assert 1_000_000 - len(out) < total <= 1_000_000
    for r in out:
        assert r["scaled_tokens"] == math.isqrt(r["total_tokens"])


@given(_doc_strategy, st.integers(1, 5))
@SETTINGS
def test_stratum_cap_never_exceeds_k_and_is_prefix_stable(spark, rows, k):
    """Per-stratum count ≤ k, and the k-cap survivors are a SUBSET of the
    (k+1)-cap survivors (hash order is stable, so caps nest like samples)."""
    from binance_futures_availability_spark.operators import sampling

    if not rows:
        return
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    capped = sampling.stratum_cap(docs, k, strata_col="lang").collect()
    per = {}
    for r in capped:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    assert all(v <= k for v in per.values())
    wider = {
        r["doc_id"]
        for r in sampling.stratum_cap(docs, k + 1, strata_col="lang").collect()
    }
    assert {r["doc_id"] for r in capped} <= wider


@given(_doc_strategy)
@SETTINGS
def test_contamination_self_check_flags_everything_with_grams(spark, rows):
    """A corpus checked against ITSELF marks exactly the docs that have at
    least one n-gram (every gram trivially matches); gramless docs stay
    clean. n=2 so two-token docs participate."""
    from binance_futures_availability_spark.operators import textops as t

    if not rows:
        return
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in t.contamination_check(docs, docs, n=2).collect()}
    for doc_id, text, _ in rows:
        has_gram = len(text.split()) >= 2
        assert out[doc_id]["contaminated"] == has_gram


_event_strategy = st.lists(
    st.tuples(
        st.integers(0, 99),
        st.integers(0, 7200),  # seconds offset within two hours
        st.integers(1, 3),     # user
        st.sampled_from(["view", "click"]),
    ),
    min_size=1,
    max_size=16,
    unique_by=lambda r: r[0],
)


def _event_frame(spark, rows):
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    return spark.createDataFrame(
        [
            (eid, base + dt.timedelta(seconds=off), u, t, 0.0, "{}")
            for eid, off, u, t in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )


@given(_event_strategy, st.integers(1, 30))
@SETTINGS
def test_sessionize_partition_and_gap_invariants(spark, rows, gap):
    """Sessions partition each user's events exactly (counts add up), and
    consecutive sessions of one user are separated by MORE than the gap
    while no session's internal span can skip the gap rule."""
    from binance_futures_availability_spark.operators import events as ev

    df = _event_frame(spark, rows)
    out = ev.sessionize(df, gap_minutes=gap).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    from collections import Counter

    want = Counter(u for _, _, u, _ in rows)
    for u, sess in per_user.items():
        assert sum(r["n_events"] for r in sess) == want[u]
        sess.sort(key=lambda r: r["session_start"])
        for a, b in zip(sess, sess[1:]):
            assert (
                b["session_start"] - a["session_end"]
            ).total_seconds() > gap * 60
        for r in sess:
            assert r["session_start"] <= r["session_end"]
    assert sum(want.values()) == sum(r["n_events"] for r in out)


@given(_event_strategy)
@SETTINGS
def test_asof_view_precedes_click_and_is_latest(spark, rows):
    """Every pairing's view_ts strictly precedes (or ties at same ts with
    lower id) the click, and no LATER view before the click was skipped."""
    from binance_futures_availability_spark.operators import events as ev

    df = _event_frame(spark, rows)
    out = {r["event_id"]: r for r in ev.asof_pairs(df).collect()}
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    events = sorted(
        [(eid, base + dt.timedelta(seconds=off), u, t) for eid, off, u, t in rows],
        key=lambda e: (e[1], e[0]),
    )
    for eid, ts, u, t in events:
        if t != "click":
            continue
        views = [
            e for e in events
            if e[2] == u and e[3] == "view" and (e[1], e[0]) < (ts, eid)
        ]
        expect = max(views, key=lambda e: (e[1], e[0]))[1] if views else None
        assert out[eid]["view_ts"] == expect


# --- round-5 continuation properties ---

_count_series = st.lists(st.integers(1, 50), min_size=6, max_size=12)


@SETTINGS
@given(counts=_count_series, scale=st.integers(1, 7))
def test_spike_zscore_scale_invariant(spark, counts, scale):
    """The integer z-test is invariant under scaling every daily count by
    a constant ((x·n−s)² and k²(n·ss−s²) both scale by c²), and a
    constant series never flags (variance 0, dev 0)."""
    from binance_futures_availability_spark.operators import events as ev_ops

    def series_df(cs):
        rows, eid = [], 0
        for day, n in enumerate(cs, start=1):
            for _ in range(n):
                eid += 1
                rows.append(
                    (eid, dt.datetime(2024, 1, day, 12, 0), 1, "t", 0.0, "")
                )
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )

    base = {
        r["day"]: r["is_spike"]
        for r in ev_ops.spike_detection(series_df(counts)).collect()
    }
    scaled = {
        r["day"]: r["is_spike"]
        for r in ev_ops.spike_detection(
            series_df([c * scale for c in counts])
        ).collect()
    }
    assert base == scaled
    const = ev_ops.spike_detection(series_df([7] * len(counts))).collect()
    assert not any(r["is_spike"] for r in const)


@SETTINGS
@given(
    n=st.integers(1, 40),
    parts=st.integers(1, 6),
    seed=st.integers(0, 10),
)
def test_global_row_number_is_partitioning_invariant(spark, n, parts, seed):
    """Ranks are a pure function of the total order — dense 1..n and
    identical regardless of input partitioning or partition-count knob."""
    from binance_futures_availability_spark.functions import global_row_number

    df = spark.range(0, n).selectExpr(
        "id", f"(id * 31 + {seed}) % 17 as score"
    )
    expected = sorted(
        (r["score"], r["id"]) for r in df.collect()
    )
    for repar in (df, df.repartition(parts)):
        got = sorted(
            (r["rank"], r["score"], r["id"])
            for r in global_row_number(
                df=repar, order_cols=["score", "id"], num_partitions=parts
            ).collect()
        )
        assert [r[0] for r in got] == list(range(1, n + 1))
        assert [(s, i) for _, s, i in got] == expected


@SETTINGS
@given(
    vocab_sizes=st.lists(st.integers(1, 8), min_size=2, max_size=4),
    overlap=st.integers(0, 5),
)
def test_source_overlap_jaccard_bounds(spark, vocab_sizes, overlap):
    """Jaccard stays in (0, 1]; identical strata hit exactly 1; counts are
    consistent (n_shared ≤ min(n_terms))."""
    rows = []
    for si, size in enumerate(vocab_sizes):
        own = [f"w{si}_{j}" for j in range(size)]
        shared = [f"common_{j}" for j in range(overlap)]
        rows.append((si, " ".join(own + shared), "en", f"s{si}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    for r in textops.source_overlap(docs).collect():
        assert 0 < r["jaccard"] <= 1
        assert r["n_shared"] <= min(r["n_terms_a"], r["n_terms_b"])
        assert r["n_shared"] == overlap


_event_rows = st.lists(
    st.tuples(
        st.integers(1, 2),            # user
        st.integers(0, 3600 * 6),     # second offset
        st.floats(0.0, 10.0, allow_nan=False),
    ),
    min_size=1,
    max_size=24,
)


@SETTINGS
@given(rows=_event_rows, split=st.integers(2, 3))
def test_asof_join_matches_python_reference(spark, rows, split):
    """The union-and-carry window equals a brute-force as-of computed in
    Python: greatest right-ts ≤ left-ts per user, max-id tie on equal
    right timestamps."""
    from binance_futures_availability_spark.operators import events as ev_ops

    base = dt.datetime(2024, 1, 1)
    evs = [
        (i, base + dt.timedelta(seconds=sec), u, "t", v, "")
        for i, (u, sec, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        evs,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    left = df.filter(F.col("event_id") % split != 0)
    right = df.filter(F.col("event_id") % split == 0)
    got = {
        r["event_id"]: (r["r_event_id"], r["r_ts"])
        for r in ev_ops.asof_join(left, right).collect()
    }
    rights = [e for e in evs if e[0] % split == 0]
    for e in evs:
        if e[0] % split == 0:
            continue
        cands = [r for r in rights if r[2] == e[2] and r[1] <= e[1]]
        if not cands:
            want = (None, None)
        else:
            best_ts = max(r[1] for r in cands)
            best_id = max(r[0] for r in cands if r[1] == best_ts)
            want = (best_id, best_ts)
        assert got[e[0]] == want, (e, want, got[e[0]])


@SETTINGS
@given(rows=_event_rows, bucket=st.sampled_from([60, 600, 3600]))
def test_interval_join_matches_python_reference(spark, rows, bucket):
    """The bucketed grid join equals brute-force containment at ANY
    bucket width (the grid is an optimization, never a semantic)."""
    from binance_futures_availability_spark.operators import events as ev_ops

    base = dt.datetime(2024, 1, 1)
    evs = [
        (i, base + dt.timedelta(seconds=sec), u, "t", v, "")
        for i, (u, sec, v) in enumerate(rows)
    ]
    points = spark.createDataFrame(
        evs,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    ivs = [
        (u, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + 1800))
        for u in (1, 2)
        for s in (0, 7200)
    ]
    intervals = spark.createDataFrame(
        ivs, "user_id long, session_start timestamp, session_end timestamp"
    )
    got = {
        (r["event_id"], r["session_start"])
        for r in ev_ops.interval_join(
            points, intervals, bucket_seconds=bucket
        ).collect()
    }
    want = {
        (e[0], s)
        for e in evs
        for (u, s, en) in ivs
        if u == e[2] and s <= e[1] <= en
    }
    assert got == want


_short_texts = st.lists(
    st.text(alphabet="abc ", min_size=1, max_size=30), min_size=1, max_size=6
)


@SETTINGS
@given(texts=_short_texts, chunk=st.integers(2, 6))
def test_disjoint_chunks_reconstruct_document(spark, texts, chunk):
    """Zero-overlap chunks partition the token stream: re-joining them in
    chunk_id order reproduces the whitespace-normalized document."""
    rows = [(i, t) for i, t in enumerate(texts) if t.strip()]
    if not rows:
        return
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pieces = {}
    for r in textops.chunk_documents(docs, chunk_tokens=chunk, overlap=0).collect():
        pieces.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_text"]))
    for i, t in rows:
        rebuilt = " ".join(p for _, p in sorted(pieces[i]))
        assert rebuilt == " ".join(t.split())


@SETTINGS
@given(texts=_short_texts, thr=st.floats(0.0, 0.5, allow_nan=False))
def test_curate_corpus_invariants(spark, texts, thr):
    """Curation output is a subset of input ids, free of exact dups
    (normalized), and every surviving row carries a valid split."""
    rows = [(i, t, "en", "s") for i, t in enumerate(texts) if t.strip()]
    if not rows:
        return
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    got = textops.curate_corpus(docs, thr).collect()
    ids = [r["doc_id"] for r in got]
    assert len(ids) == len(set(ids)) and set(ids) <= {i for i, *_ in rows}
    assert all(r["split"] in ("train", "val", "test") for r in got)
    # survivors have distinct normalized content
    norm = {}
    for i, t, *_ in rows:
        norm[i] = " ".join(t.split()).lower()
    assert len({norm[i] for i in ids}) == len(ids)


_vecs = st.lists(
    st.lists(
        st.floats(-1.0, 1.0, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ),
    min_size=3,
    max_size=10,
)


@SETTINGS
@given(vecs=_vecs)
def test_pq_adc_matches_python_reference(spark, vecs):
    """The PQ pipeline against a brute-force Python reference on random
    small corpora: encode picks the argmin integer L2 code (ties low),
    and every ADC score equals the reconstruction cosine computed
    independently from the chosen codebook entries."""
    import math as _math

    from binance_futures_availability_spark.operators import similarity

    m, k, dim = 2, 2, 4
    rows = [(i, v, 0) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def quant(v):
        return [int(_math.floor(float(x) * 1e6 + 0.5)) if x >= 0
                else -int(_math.floor(-float(x) * 1e6 + 0.5)) for x in v]

    q = {i: quant(v) for i, v, _ in rows}
    sub_d = dim // m
    seeds = sorted(q)[:k]
    cb = {}
    for mm in range(m):
        for ci, sid in enumerate(seeds):
            cb[(mm, ci)] = q[sid][mm * sub_d : (mm + 1) * sub_d]

    def encode(vid):
        out = {}
        for mm in range(m):
            sub = q[vid][mm * sub_d : (mm + 1) * sub_d]
            best = min(
                range(k),
                key=lambda ci: (
                    sum((a - b) ** 2 for a, b in zip(sub, cb[(mm, ci)])),
                    ci,
                ),
            )
            out[mm] = best
        return out

    want_codes = {
        (vid, mm, code)
        for vid in q
        for mm, code in encode(vid).items()
    }
    got_codes = {
        (r["vec_id"], r["m"], r["code"])
        for r in similarity.pq_codes(emb, m=m, k=k, dim=dim).collect()
    }
    assert got_codes == want_codes

    qid = 0
    qn = sum(x * x for x in q[qid])
    got = {
        r["vec_id"]: r["approx_cosine"]
        for r in similarity.pq_topk(
            emb, qid, len(vecs), m=m, k=k, dim=dim
        ).collect()
    }
    for vid in q:
        if vid == qid:
            assert vid not in got
            continue
        if qn == 0:
            assert got[vid] is None  # zero query: every score NULL
            continue
        codes = encode(vid)
        recon = [x for mm in range(m) for x in cb[(mm, codes[mm])]]
        rnorm = sum(x * x for x in recon)
        if rnorm == 0:
            # zero reconstruction: no defined cosine — the operator
            # yields NULL (mirroring DuckDB's x/0), ranked last
            assert got[vid] is None
            continue
        adot = sum(a * b for a, b in zip(q[qid], recon))
        want = adot / (_math.sqrt(qn) * _math.sqrt(rnorm))
        assert abs(got[vid] - want) <= 1e-12


@st.composite
def _quantized_rows(draw, min_rows=1, max_rows=6, dim=None):
    """Non-zero quantized vectors (|v| ≤ EMB_SCALE) of one width ≤ 64."""
    from binance_futures_availability_spark.functions import EMB_SCALE

    dim = draw(st.integers(1, 64)) if dim is None else dim
    row = st.lists(
        st.integers(-EMB_SCALE, EMB_SCALE), min_size=dim, max_size=dim
    ).filter(any)
    return draw(st.lists(row, min_size=min_rows, max_size=max_rows))


def _int_cosine(a, b):
    """The exactness rule from Python ints: dot / (sqrt(‖a‖²)·sqrt(‖b‖²))."""
    import math as _math

    dot = sum(x * y for x, y in zip(a, b))
    return dot / (
        _math.sqrt(sum(x * x for x in a)) * _math.sqrt(sum(x * x for x in b))
    )


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_cosines_equal_the_python_int_rule(data):
    """``similarity._cosines`` (the float64 GEMM every cosine kernel
    calls) equals the cosine computed from Python ints for every pair of
    quantized vectors up to 64 wide — the same double, compared with
    ``==`` (bit for bit; only a zero's sign could differ)."""
    import numpy as np

    from binance_futures_availability_spark.operators.similarity import _cosines

    a = data.draw(_quantized_rows(max_rows=4))
    b = data.draw(_quantized_rows(dim=len(a[0])))

    def norms(rows):
        return np.asarray([sum(v * v for v in r) for r in rows], dtype=np.float64)

    got = _cosines(
        np.asarray(a, dtype=np.float64), norms(a),
        np.asarray(b, dtype=np.float64), norms(b),
    )
    assert got.shape == (len(a), len(b))
    for i, ra in enumerate(a):
        for j, rb in enumerate(b):
            assert got[i, j] == _int_cosine(ra, rb)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data(), nprobe=st.integers(1, 8))
def test_cell_and_probe_kernels_break_ties_to_the_lowest_cell(
    spark, data, nprobe
):
    """With every seed row present twice (cell c and cell c+k equal),
    the nearest-seed kernel assigns the lowest of the tied cells and both
    probe paths (driver-side ``_probe_cells``, Arrow ``_probe_kernel``)
    list cells by (cosine DESC, cell) — the oracle's order."""
    import numpy as np
    import pandas as pd

    from binance_futures_availability_spark.operators import similarity

    seeds = data.draw(_quantized_rows(max_rows=4))
    queries = data.draw(_quantized_rows(max_rows=5, dim=len(seeds[0])))
    cells_rows = seeds + seeds
    sq = np.asarray(cells_rows, dtype=np.float64)
    snrm = np.asarray([sum(v * v for v in r) for r in cells_rows], dtype=np.float64)

    assigned = similarity._cell_kernel(sq, snrm).func(pd.Series(queries))
    probed = similarity._probe_kernel(sq, snrm, nprobe).func(pd.Series(queries))
    for q, cell, probe in zip(queries, assigned, probed):
        cos = [_int_cosine(q, s) for s in cells_rows]
        want = sorted(range(len(cells_rows)), key=lambda c: (-cos[c], c))
        assert cell == want[0] < len(seeds)
        assert list(probe) == want[:nprobe]
        qn = sum(v * v for v in q)
        assert similarity._probe_cells(sq, snrm, q, qn, nprobe) == want[:nprobe]


@SETTINGS
@given(
    groups=st.dictionaries(
        st.sampled_from(["A", "B", "C"]),
        st.lists(
            st.floats(
                min_value=-500, max_value=500,
                allow_nan=False, allow_infinity=False,
            ).map(lambda v: round(v, 2)),
            min_size=1, max_size=25,
        ),
        min_size=1, max_size=3,
    )
)
def test_robust_value_stats_matches_python_reference(spark, groups):
    """The distributed weighted-median m2/mad2 equal a brute-force
    Python reference (2×median = sum of the two middle micro values;
    mad2 = 2×median of |2v − m2|) for arbitrary 2-decimal groups."""
    from binance_futures_availability_spark.operators import events as ev

    rows, eid = [], 0
    for g, vals in groups.items():
        for v in vals:
            rows.append((eid, dt.datetime(2024, 1, 1), 1, g, float(v), "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = {
        r["event_type"]: (r["m2"], r["mad2"])
        for r in ev.robust_value_stats(df).collect()
    }

    def med2(xs):
        xs = sorted(xs)
        n = len(xs)
        return (
            2 * xs[(n - 1) // 2] if n % 2 == 1
            else xs[n // 2 - 1] + xs[n // 2]
        )

    for g, vals in groups.items():
        micro = [round(v * 1_000_000) for v in vals]
        m2 = med2(micro)
        mad2 = med2([abs(2 * m - m2) for m in micro])
        assert got[g] == (m2, mad2), g


@SETTINGS
@given(
    groups=st.dictionaries(
        st.sampled_from(["s1", "s2"]),
        st.lists(st.integers(min_value=0, max_value=80),
                 min_size=1, max_size=30),
        min_size=1, max_size=2,
    )
)
def test_length_quantiles_matches_python_reference(spark, groups):
    """Nearest-rank-pair quartiles equal the Python reference for
    arbitrary grouped length multisets (incl. heavy ties)."""
    from binance_futures_availability_spark.operators import textops

    rows, i = [], 0
    for g, lens in groups.items():
        for L in lens:
            rows.append((i, "x" * L, g)); i += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r["source"]: r for r in textops.length_quantiles(docs).collect()}

    def ref(lengths, a, d):
        v = sorted(lengths)
        n = len(v)
        return (v[(a * (n - 1)) // d] + v[(a * (n - 1) + d - 1) // d]) / 2

    for g, lens in groups.items():
        assert got[g]["n_docs"] == len(lens)
        for q, (a, d) in (("q25", (1, 4)), ("q50", (1, 2)), ("q75", (3, 4))):
            assert got[g][q] == ref(lens, a, d), (g, q)
